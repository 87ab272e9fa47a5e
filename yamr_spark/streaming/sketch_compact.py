"""Crash-safe PREFIX compaction for the per-batch delta stores (CMS:
``streaming/cms.py``; KMV: ``streaming/kmv.py``; the substring window
index: ``streaming/substring.py``).

Each store accumulates one ``batch_id=`` partition per micro-batch,
so the serve-side merge grows linearly with run length. Their merges
are associative (cell addition; set union), so any PREFIX of batch
partitions may be rewritten as ONE merged partition without changing
the served result — this module does that rewrite.

Crash safety is ``yamr_spark.dircommit``'s one protocol: the merged
rows are staged under ``_staging``, and one intent deletes the folded
partitions other than the target and moves the stage onto
``batch_id=<target>``, replacing it. The target is replaced, never
deleted, so replaying the intent after its move completed keeps the
merged partition. ``compact_prefix`` recovers first; serve and ingest
paths call ``dircommit.recover`` before reading a store a compactor
may have touched.

REPLAY CONTRACT: only compact batches the stream's CHECKPOINT has
committed — i.e. pass an ``upto`` strictly below the newest batch id.
foreachBatch can replay only the batch whose commit was in flight at a
crash; committed batches never replay, so folding them into a merged
partition can never collide with a re-delivered ``batch_id=``
overwrite. (The merged partition reuses the smallest folded id.)
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from yamr_spark import dircommit


def _batch_dirs(store_dir: str) -> list[tuple[int, str]]:
    out = []
    for name in os.listdir(store_dir):
        if name.startswith("batch_id="):
            out.append((int(name.split("=", 1)[1]), os.path.join(store_dir, name)))
    return sorted(out)


def compact_prefix(
    spark: SparkSession,
    store_dir: str,
    merge_fn: Callable[[DataFrame], DataFrame],
    upto: int,
    stream_stopped: bool = False,
    partition_by: list[str] | None = None,
) -> int:
    """Fold every ``batch_id`` partition with id <= ``upto`` into one
    merged partition (the smallest folded id), using ``merge_fn`` to
    reduce the unioned rows (CMS: cell-wise sum; KMV: distinct bottom-k
    — any associative, prefix-safe reduction). Returns the number of
    partitions folded (0 or 1 means nothing to do).

    The read targets ONLY the folded partition directories, so the
    newest (possibly uncommitted, possibly being replayed) batches are
    never touched — and that contract is ENFORCED, not just documented
    (ADVICE r09): ``upto`` >= the newest batch id raises, because
    foreachBatch may still replay the newest batch and its dynamic-
    overwrite would re-create a ``batch_id=`` partition on top of the
    merged prefix, double-counting its cells.

    ``stream_stopped=True`` is the shutdown-compaction opt-in (ADVICE
    r10): after the query is cleanly STOPPED no replay of the newest
    batch is possible, so the caller may fold the full prefix including
    the newest partition. The caller asserts the stop — the store has
    no way to observe it.

    ``partition_by`` rewrites the merged partition under sub-partition
    directories (the substring index's ``hb=`` hash buckets): the
    staged dir gets one subdir per value, and the whole stage still
    moves onto the target in one rename."""
    dircommit.recover(store_dir)
    dirs = _batch_dirs(store_dir)
    if dirs and upto >= dirs[-1][0] and not stream_stopped:
        raise ValueError(
            f"upto={upto} would fold the newest batch (id {dirs[-1][0]}), "
            "which foreachBatch may still replay; pass upto strictly "
            "below the newest batch id (or stream_stopped=True after a "
            "clean stop)"
        )
    folded = [(b, p) for b, p in dirs if b <= upto]
    if len(folded) < 2:
        return len(folded)
    stage = os.path.join(store_dir, dircommit.STAGING)
    shutil.rmtree(stage, ignore_errors=True)
    # basePath anchors partition discovery at the store root: folded
    # dirs with sub-partition levels (the substring index's hb=
    # buckets) would otherwise conflict as multiple roots. merge_fns
    # project their own columns, so the extra batch_id column is inert.
    merged = merge_fn(
        spark.read.option("basePath", store_dir).parquet(*[p for _, p in folded])
    )
    # no computation barrier: nothing this write reads is deleted
    # before the commit
    if partition_by:
        # one task per sub-partition value -> one file per subdir
        merged.repartition(*partition_by).write.partitionBy(*partition_by).parquet(
            stage
        )
    else:
        merged.coalesce(1).write.parquet(stage)
    dircommit.commit(
        store_dir,
        {dircommit.STAGING: os.path.basename(folded[0][1])},
        deletes=[os.path.basename(p) for _, p in folded[1:]],
    )
    return len(folded)


def cms_merge(df: DataFrame) -> DataFrame:
    """Cell-wise sum — the CMS store's associative reduction."""
    from pyspark.sql import functions as F

    return df.groupBy("i", "bucket").agg(F.sum("cnt").alias("cnt"))


def kmv_merge(k: int = 256) -> Callable[[DataFrame], DataFrame]:
    """Distinct bottom-k — the KMV store's associative reduction
    (bottom-k of a union of bottom-k sets is the union's bottom-k)."""

    def _merge(df: DataFrame) -> DataFrame:
        return df.select("h").distinct().orderBy("h").limit(k)

    return _merge
