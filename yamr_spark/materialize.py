"""Pluggable materialization primitive for iterative / multi-consumer
plans (MinHash signatures, IVF assignments, connected-components
rounds).

Why this exists: those pipelines reuse an expensive intermediate several
times (or iterate on it), so it must be computed ONCE and the lineage
truncated — otherwise the logical plan grows O(rounds) and every
consumer recomputes the subplan. Three strategies, selected per-session:

- ``local`` (default on local[n]): ``localCheckpoint(eager=False)`` —
  executor-memory/local-disk blocks, zero serialization to external
  storage. Fastest, but blocks vanish on executor loss; the right
  default for the single-JVM test/bench harness only. Spark truncates
  the LOGICAL plan immediately (the returned frame is a LogicalRDD
  before any computation), so iterative loops stay plan-bounded, and
  multiple consumers compute the input once — localCheckpoint caches
  MEMORY_AND_DISK on first touch. Lazy only for inputs WITHOUT an
  exchange: under AQE (on in ``session.get_spark`` and by default in
  Spark 4) an input with a shuffle has its shuffle stages run as a job
  at once, so the call is a blocking barrier on the driver thread
  (measured at 4 cores: 1 job per call with AQE on, 0 with it off).
  Only the final stage fuses into the first consuming job.
- ``disk``: reliable ``checkpoint(eager=True)`` into the Spark
  checkpoint dir (YAMR_SPARK_CHECKPOINT_DIR on a cluster — a DFS path —
  else a per-process temp dir). Truncates lineage like ``local`` but
  the blocks live in the fault-tolerant store, so executor loss doesn't
  lose the intermediate. NOT plain ``persist(DISK_ONLY)``: persist
  keeps the logical plan, and iterative self-join loops (connected
  components) then grow the plan exponentially — ~10 rounds OOMs the
  driver during analysis (measured; see tests/test_materialize.py).
- ``parquet``: write to a staging directory and read back — lineage
  truncation AND durability with a user-controlled layout, readable by
  later jobs. The 100 TB production mode for intermediates you want to
  inspect or reuse; staging lives in a per-process temp dir locally
  (``tmpdirs.session_dir``) — on a cluster, point
  YAMR_SPARK_STAGING_DIR at a DFS path.

Mode is chosen by ``set_mode()`` or the YAMR_SPARK_MATERIALIZE env var
(``local`` | ``disk`` | ``parquet``), read once per call so tests can
flip modes at runtime. All three modes are certified by running the
FULL test suite with YAMR_SPARK_MATERIALIZE set (last done after the
lazy-local change: local/disk/parquet all green).
"""

from __future__ import annotations

import contextlib
import os
import threading
import uuid
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame

from yamr_spark.tmpdirs import session_dir

T = TypeVar("T")

_MODES = ("local", "disk", "parquet")
_mode_override: str | None = None

# ── Block lifetimes and shared builds ─────────────────────────────────
# Every ``local``-mode materialize() persists MEMORY_AND_DISK blocks
# that the JVM ContextCleaner frees only when the driver GCs the RDD
# reference, which a large heap may defer for a whole bench run. So
# every checkpointed frame's internal RDD id is tracked:
#
# - freeable (default): per-query intermediates, dead once the query's
#   action completes. ``free_blocks()`` unpersists them between queries.
# - pinned (inside ``pinned_blocks()``): frames built by ``shared()``,
#   which later queries consume. Unpersisting a localCheckpointed frame
#   makes it unrecomputable, so these are released only by
#   ``free_shared_caches()``, which first empties the shared registry so
#   no consumer can see a freed frame.
#
# ``shared(spark, name, params, build)`` is the one way a query module
# reuses a build across queries. Contract:
# - the key is ``(applicationId, name, params)``; ``params`` must hold
#   every input that changes the build (sf_dir and operator params);
# - a miss evicts other applications' keys (a new session gets a new
#   appId, so they can never be hit again), then runs ``build()``
#   inside ``pinned_blocks()`` and stores its result;
# - ``build()`` runs outside the lock: two threads missing the same key
#   at once both build, and the first stored value is returned to both.
#
# Ids, not py4j handles, are tracked: a held handle would pin the JVM
# RDD and disable the ContextCleaner for callers that never free, while
# ids are never reused, so freeing a long-gone id is a no-op. One lock
# guards the registry and both id lists; the lists are drained by
# swapping in a fresh list, so an id tracked by another thread during a
# drain lands in the next drain instead of being lost.
_TL = threading.local()
_LOCK = threading.Lock()
_FREEABLE: list[tuple] = []  # (SparkContext, rdd_id)
_PINNED_RDDS: list[tuple] = []
_SHARED_CACHES: list[dict] = []
_SHARED: dict | None = None


def register_shared_cache(cache: dict) -> dict:
    """Register a frame cache so ``free_shared_caches()`` clears it."""
    _SHARED_CACHES.append(cache)
    return cache


@contextlib.contextmanager
def pinned_blocks():
    """Scope marker for shared builds: frames materialized inside
    survive ``free_blocks()``. Thread-local, so a streaming
    foreachBatch thread cannot mis-pin a concurrent query's frames."""
    depth = getattr(_TL, "pin_depth", 0)
    _TL.pin_depth = depth + 1
    try:
        yield
    finally:
        _TL.pin_depth = depth


def shared(spark, name: str, params: tuple, build: Callable[[], T]) -> T:
    """``build()``'s result, built once per (application, name, params)
    and reused by every later call until ``free_shared_caches()``."""
    global _SHARED
    app = spark.sparkContext.applicationId
    key = (app, name, params)
    with _LOCK:
        if _SHARED is None:
            _SHARED = register_shared_cache({})
        cache = _SHARED
        hit = cache.get(key)
        if hit is not None:
            return hit
        for stale in [k for k in cache if k[0] != app]:
            del cache[stale]
    with pinned_blocks():
        value = build()
    with _LOCK:
        if key not in cache:
            cache[key] = value
        return cache[key]


def _track(out: DataFrame) -> None:
    try:
        rdd_id = out._jdf.queryExecution().analyzed().rdd().id()
        sc = out.sparkSession.sparkContext
    except Exception:
        return
    with _LOCK:
        pinned = getattr(_TL, "pin_depth", 0) > 0
        (_PINNED_RDDS if pinned else _FREEABLE).append((sc, rdd_id))


def _unpersist_ids(entries: list[tuple]) -> int:
    for sc, rdd_id in entries:
        try:
            sc._jsc.sc().unpersistRDD(rdd_id, False)
        except Exception:
            pass
    return len(entries)


def _refuse_in_pinned_scope(fn: str) -> None:
    if getattr(_TL, "pin_depth", 0) > 0:
        raise RuntimeError(
            f"{fn}() inside pinned_blocks(): the shared build in progress "
            "would lose frames it has already materialized"
        )


def free_blocks() -> int:
    """Unpersist every per-query materialized frame created since the
    last call (non-blocking). Safe ONLY when those frames are dead —
    i.e. between queries; a localCheckpointed frame cannot be used
    after its blocks are dropped. Raises inside ``pinned_blocks()``.
    Returns the number of RDDs freed."""
    global _FREEABLE
    _refuse_in_pinned_scope("free_blocks")
    with _LOCK:
        entries, _FREEABLE = _FREEABLE, []
    return _unpersist_ids(entries)


def free_shared_caches() -> int:
    """Clear every registered shared cache and unpersist the pinned
    frames they held. Consumers rebuild on next use (the caches are
    cleared FIRST, so no stale frame is reachable). Call between
    queries, with no shared build in flight. Returns the number of RDDs
    freed."""
    global _PINNED_RDDS
    _refuse_in_pinned_scope("free_shared_caches")
    with _LOCK:
        for cache in _SHARED_CACHES:
            cache.clear()
        entries, _PINNED_RDDS = _PINNED_RDDS, []
    return _unpersist_ids(entries)


def set_mode(mode: str | None) -> None:
    """Set the materialization strategy process-wide (None → fall back
    to YAMR_SPARK_MATERIALIZE / default ``local``)."""
    global _mode_override
    if mode is not None and mode not in _MODES:
        raise ValueError(f"mode must be one of {_MODES}, got {mode!r}")
    _mode_override = mode


def current_mode() -> str:
    if _mode_override is not None:
        return _mode_override
    env = os.environ.get("YAMR_SPARK_MATERIALIZE", "local")
    return env if env in _MODES else "local"


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` once and return a DataFrame whose plan starts from
    the materialized result (see module docstring for the strategies).

    WARNING: LAZY in the default ``local`` mode — never feed the result
    into an overwrite of a path the plan READS: the overwrite job would
    be the first action, reading files the committer is deleting. Write
    to a fresh path and rename it in instead, as the keyed store's
    staged write does (``streaming.upsert``)."""
    mode = current_mode()
    if mode == "local":
        out = df.localCheckpoint(eager=False)
        _track(out)
        return out
    if mode == "disk":
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(
                os.environ.get("YAMR_SPARK_CHECKPOINT_DIR")
                or session_dir("spark_checkpoints")
            )
        return df.checkpoint(eager=True)
    # parquet staging: unique subdir per materialization; removed with
    # the per-process staging dir at exit (on a cluster, a DFS path via
    # YAMR_SPARK_STAGING_DIR with job-level cleanup).
    base = os.environ.get("YAMR_SPARK_STAGING_DIR") or session_dir("materialize_staging")
    path = os.path.join(base, uuid.uuid4().hex)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)
