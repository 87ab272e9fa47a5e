"""Pluggable materialization (materialize.py): all three strategies must
produce identical results on the operators that materialize
intermediates, and each must truncate/replace the subplan so consumers
never recompute it.

Block lifetimes and shared builds: every local-mode checkpoint's
internal RDD id is tracked (pinned inside a ``shared()`` build,
freeable otherwise); ``free_blocks()`` drops the per-query blocks and
``free_shared_caches()`` clears the shared registry and its blocks.
"""

from __future__ import annotations

import ast
import contextlib
import glob
import os
import sys
import threading
import time

import pytest

from yamr_spark import materialize as M
from yamr_spark.plans import plan_text
from yamr_spark.registry import all_queries
from yamr_spark.tables import table


@pytest.fixture(autouse=True)
def _reset_mode():
    yield
    M.set_mode(None)


ROWS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy cat again and again"),
    (3, "completely unrelated text about catalyst physical plans"),
    (4, "the quick brown fox jumps over the lazy dog again and again"),
]


@pytest.mark.parametrize("mode", ["disk", "parquet"])
def test_cc_loop_identical_across_modes(spark, mode):
    """The per-round materialize loop under the non-default strategies
    (``local`` is what the rest of the suite runs everywhere). The full
    pipelines are checked under disk/parquet by running the whole suite
    with YAMR_SPARK_MATERIALIZE set — this pins the iterative loop,
    where a strategy bug would corrupt results, cheaply in CI."""
    from yamr_spark.operators.graph import connected_components

    M.set_mode(mode)
    edges = spark.createDataFrame(
        [(1, 4), (1, 2), (7, 8)], ["doc_a", "doc_b"]
    )
    comps = connected_components(edges)
    got = {r.node: r.component for r in comps.collect()}
    assert got == {1: 1, 2: 1, 4: 1, 7: 7, 8: 7}


def test_minhash_pipeline_disk_mode(spark):
    """One full multi-materialize pipeline under the disk strategy."""
    from yamr_spark.operators.dedup import minhash_near_dup

    M.set_mode("disk")
    docs = spark.createDataFrame(ROWS, ["doc_id", "text"])
    pairs = minhash_near_dup(docs, threshold=0.5)
    got_pairs = sorted((r.doc_a, r.doc_b) for r in pairs.collect())
    assert (1, 4) in got_pairs and not any(3 in p for p in got_pairs)


# The physical-plan marker that proves the returned DataFrame reads the
# materialized result instead of recomputing the upstream subplan. Both
# checkpoint flavors (local & reliable) resolve to an RDD scan; parquet
# staging to a fresh file scan. Every mode must ALSO truncate lineage —
# a mode that keeps the logical plan (e.g. bare persist(DISK_ONLY))
# doubles iterative self-join plans per round and OOMs the driver during
# analysis (measured on the 200-node CC chain; that is why ``disk`` is a
# reliable checkpoint, not a persist).
_PLAN_MARKER = {
    "local": "ExistingRDD",
    "disk": "ExistingRDD",
    "parquet": "Scan parquet",
}


@pytest.mark.parametrize("mode", ["local", "disk", "parquet"])
def test_no_subplan_recompute(spark, mode):
    M.set_mode(mode)
    df = (
        spark.range(1000)
        .selectExpr("id % 7 AS k", "id AS v")
        .groupBy("k")
        .count()
    )
    mat = M.materialize(df)
    assert _PLAN_MARKER[mode] in plan_text(mat), plan_text(mat)
    # the upstream groupBy exchange must be gone from any consumer plan
    consumer = plan_text(mat.filter("count > 0"))
    assert "Exchange" not in consumer, consumer


def test_mode_selection_env(monkeypatch):
    M.set_mode(None)
    monkeypatch.setenv("YAMR_SPARK_MATERIALIZE", "disk")
    assert M.current_mode() == "disk"
    monkeypatch.setenv("YAMR_SPARK_MATERIALIZE", "bogus")
    assert M.current_mode() == "local"
    M.set_mode("parquet")
    assert M.current_mode() == "parquet"
    with pytest.raises(ValueError):
        M.set_mode("nope")


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _run(spark, sf_dir, name):
    all_queries()[name](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()


def test_free_blocks_releases_per_query_frames(spark, sf_dir):
    M.free_blocks()
    M.free_shared_caches()
    base = _n_persistent(spark)
    df = M.materialize(table(spark, sf_dir, "documents").select("doc_id"))
    df.write.format("noop").mode("overwrite").save()
    assert _n_persistent(spark) == base + 1
    assert M.free_blocks() >= 1
    assert _n_persistent(spark) == base


def test_pinned_blocks_survive_free_blocks(spark, sf_dir):
    M.free_blocks()
    M.free_shared_caches()
    base = _n_persistent(spark)
    with M.pinned_blocks():
        pinned = M.materialize(
            table(spark, sf_dir, "documents").select("doc_id")
        )
    pinned.write.format("noop").mode("overwrite").save()
    M.free_blocks()
    assert _n_persistent(spark) == base + 1
    # the pinned frame is still usable after a per-query flush
    assert pinned.count() > 0
    M.free_shared_caches()
    assert _n_persistent(spark) == base


def test_free_inside_pinned_scope_raises():
    """Freeing while a shared build is open would drop frames the build
    has already materialized (unrecomputable once unpersisted)."""
    with M.pinned_blocks():
        with pytest.raises(RuntimeError):
            M.free_blocks()
        with pytest.raises(RuntimeError):
            M.free_shared_caches()


def test_free_blocks_concurrent_with_materialize_frees_each_id_once(spark):
    """Worker threads (e.g. streaming foreachBatch) materialize while the
    main thread frees: every tracked id is freed exactly once — the
    returned counts add up to the number of materialize() calls — and
    none is left persisted."""
    M.free_blocks()
    src = spark.range(10)
    n_threads, per_thread = 6, 25
    ids: list[int] = []

    def work():
        for _ in range(per_thread):
            out = M.materialize(src)
            ids.append(out._jdf.queryExecution().analyzed().rdd().id())

    threads = [threading.Thread(target=work) for _ in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        freed = 0
        deadline = time.monotonic() + 120
        while any(t.is_alive() for t in threads) and time.monotonic() < deadline:
            freed += M.free_blocks()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    freed += M.free_blocks()
    assert freed == n_threads * per_thread == len(set(ids))
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert not persisted & set(ids)


def test_shared_builds_once_per_key_and_evicts_other_apps(spark):
    M.free_shared_caches()
    calls = []

    def build():
        calls.append(1)
        return object()

    first = M.shared(spark, "t", (1,), build)
    assert M.shared(spark, "t", (1,), build) is first and len(calls) == 1
    assert M.shared(spark, "t", (2,), build) is not first and len(calls) == 2
    M._SHARED[("dead-app", "t", (1,))] = object()
    M.shared(spark, "t", (3,), build)
    assert not any(k[0] == "dead-app" for k in M._SHARED)
    M.free_shared_caches()
    assert M.shared(spark, "t", (1,), build) is not first and len(calls) == 4
    M.free_shared_caches()


def test_shared_resolves_registry_hooks_at_call_time(spark, monkeypatch):
    """Profilers count shared builds and hits by swapping
    ``register_shared_cache`` and ``pinned_blocks`` on the module:
    ``shared()`` must register its dict on first use, read with
    ``.get()``, store by item assignment and build inside the pin."""
    seen = []

    class Counting(dict):
        def get(self, key, default=None):
            seen.append("get")
            return dict.get(self, key, default)

        def __setitem__(self, key, value):
            seen.append("set")
            dict.__setitem__(self, key, value)

    register, pinned = M.register_shared_cache, M.pinned_blocks

    @contextlib.contextmanager
    def traced_pinned():
        seen.append("pin")
        with pinned():
            yield

    monkeypatch.setattr(M, "_SHARED", None)
    monkeypatch.setattr(M, "_SHARED_CACHES", [])
    monkeypatch.setattr(M, "register_shared_cache", lambda c: register(Counting(c)))
    monkeypatch.setattr(M, "pinned_blocks", traced_pinned)
    assert M.shared(spark, "t", (), lambda: 1) == 1
    assert M.shared(spark, "t", (), lambda: 2) == 1
    assert seen == ["get", "pin", "set", "get"]


def test_query_modules_share_builds_only_through_shared():
    """No query module keeps its own appId-keyed frame cache or pins
    blocks itself, and none decides by hand that a store is already
    built: stores go through ``tmpdirs.session_store``, so no module
    references ``store_complete``, ``"_SUCCESS"``, ``shutil``,
    ``atexit`` or ``os.path.exists``."""
    pkg = os.path.dirname(M.__file__)
    forbidden = {"store_complete", "_SUCCESS", "shutil", "atexit", "os.path.exists"}
    bad = []
    for path in sorted(glob.glob(os.path.join(pkg, "queries_*.py"))):
        mod = os.path.basename(path)
        with open(path) as fh:
            tree = ast.parse(fh.read())
        module_dicts = set()
        for node in tree.body:
            if isinstance(node, ast.Assign | ast.AnnAssign):
                value = node.value
                is_dict = isinstance(value, ast.Dict) or (
                    isinstance(value, ast.Call)
                    and getattr(value.func, "id", None)
                    in ("dict", "register_shared_cache")
                )
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                if is_dict:
                    module_dicts |= {t.id for t in targets if isinstance(t, ast.Name)}
        for node in ast.walk(tree):
            refs = {getattr(node, a, None) for a in ("id", "attr", "module", "value")}
            if isinstance(node, ast.Import | ast.ImportFrom):
                refs |= {a.name for a in node.names}
            if "exists" in refs and ast.unparse(node) == "os.path.exists":
                refs.add("os.path.exists")
            for ref in refs & forbidden:
                bad.append(f"{mod}:{node.lineno} references {ref}")
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                if name in ("register_shared_cache", "pinned_blocks"):
                    bad.append(f"{mod}:{node.lineno} calls {name}")
            if isinstance(node, ast.FunctionDef) and any(
                isinstance(n, ast.Attribute) and n.attr == "applicationId"
                for n in ast.walk(node)
            ):
                used = {
                    n.id for n in ast.walk(node)
                    if isinstance(n, ast.Name) and n.id in module_dicts
                }
                bad += [
                    f"{mod}:{node.name} keys {d} by applicationId"
                    for d in sorted(used)
                ]
    assert not bad, bad


def test_shared_cache_clear_forces_rebuild_with_identical_values(
    spark, sf_dir
):
    """Consumers of two different shared builds (containment shingles +
    probe hits; IVF centroids + assignment) must produce bit-identical
    rows before and after ``free_shared_caches()`` (the bench clears at
    every pass start — VERDICT r14 #5)."""
    for name in ("containment_pairs_bidir", "ann_ivf_topk"):
        q = all_queries()[name]
        a = sorted(map(tuple, q(spark, sf_dir).collect()))
        M.free_blocks()
        M.free_shared_caches()
        b = sorted(map(tuple, q(spark, sf_dir).collect()))
        M.free_blocks()
        assert a == b and len(a) > 0, name


def test_stale_ids_are_harmless(spark):
    """Freeing is id-based (no JVM handles pinned): ids of long-gone
    RDDs must no-op rather than raise."""
    M._FREEABLE.append((spark.sparkContext, 10_000_000))
    assert M.free_blocks() == 1


def test_bench_queries_run_clean_after_full_flush(spark, sf_dir):
    """End-to-end: run a shared-cache consumer, flush everything, run a
    different consumer of the SAME cache — the rebuild path must not
    reference freed blocks."""
    _run(spark, sf_dir, "containment_pairs_stratified")
    M.free_blocks()
    M.free_shared_caches()
    _run(spark, sf_dir, "containment_pairs_bidir")
    M.free_blocks()
    M.free_shared_caches()
