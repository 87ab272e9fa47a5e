"""Streaming keyed upsert — merge-into semantics over an append-only
engine, via ``foreachBatch``.

Spark's built-in streaming sinks are append/complete only; the
production "keep the latest row per key" table (a CDC-style upsert)
needs ``foreachBatch``: each micro-batch runs a BATCH merge of the new
rows into the keyed store. The merge rule (keep the max-(order, tie)
row per key) is associative, so incremental per-batch application
equals the one-shot batch result — which is exactly what the DuckDB
oracle checks.

One staged write path serves every keyed-store writer (this module's
merges and ``operators.snapshots.commit_merge``), the way yamr's
reducer writes every region's result in one sink pass: read the OLD
versions of only the buckets the batch touches, union the batch,
keep-latest, and write every touched bucket in ONE ``partitionBy``
write under ``_staging``. No write ever overwrites a path its own plan
reads, so no computation barrier is needed, and the number of Spark
jobs per merge does not grow with the number of touched buckets.
Untouched buckets are never read or written, so per-batch cost is
O(batch ∪ touched buckets), not O(store).

Crash safety is ``yamr_spark.dircommit``'s one protocol: a merge
commits its staged buckets onto ``bucket=<b>`` with one intent, and
both the merge and ``read_store`` call ``dircommit.recover`` first, so
a crash at any step reads as the store before the merge or after it.
On a real cluster the same pattern is what Delta/Iceberg MERGE INTO
compiles to (copy-on-write of matched files); here it is plain parquet
plus directory renames, so the engine has no table-format dependency.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yamr_spark import dircommit


def keep_latest(
    df: DataFrame,
    key: str,
    order: str,
    tie: str,
    tombstone_col: str | None = None,
) -> DataFrame:
    """One row per ``key``: the max-(order, tie) row — the merge rule.

    With ``tombstone_col`` (CDC delete support): the latest row still
    wins, but if that winner is a tombstone (boolean true) the key is
    REMOVED from the output — upsert/delete streams apply with the same
    single window, and the rule stays associative (the latest change
    dominates any prefix merge, so incremental per-batch application
    equals the one-shot result, deletes included). A NULL tombstone
    value means "not a delete" — ``~col`` alone would evaluate NULL and
    silently DROP those keys from the filter (ADVICE r06), so the flag
    coalesces to false first."""
    w = Window.partitionBy(key).orderBy(F.col(order).desc(), F.col(tie).desc())
    latest = (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    if tombstone_col is not None:
        latest = latest.where(~F.coalesce(F.col(tombstone_col), F.lit(False)))
    return latest


def _bucket_of(key_col, n_buckets: int):
    return F.pmod(F.xxhash64(key_col), F.lit(n_buckets))


def _stage_merge(
    batch_df: DataFrame,
    stage_dir: str,
    committed: Callable[[int], str | None],
    key: str,
    order: str,
    tie: str,
    n_buckets: int,
) -> dict[int, str]:
    """Stage the merge of ``batch_df`` for every bucket it touches and
    return ``{bucket: staged dir}``. ``committed(b)`` names bucket
    ``b``'s current directory, or None when the bucket has no data yet.
    The touched old buckets ∪ the batch go through one keep-latest and
    ONE ``partitionBy`` write into ``stage_dir`` (cleared first). The
    old buckets are read with the batch's schema, so no schema
    inference job runs. The caller commits the staged dirs."""
    spark = batch_df.sparkSession
    shutil.rmtree(stage_dir, ignore_errors=True)
    batch = batch_df.withColumn("__bucket", _bucket_of(F.col(key), n_buckets))
    batch.persist()
    try:
        touched = [r[0] for r in batch.select("__bucket").distinct().collect()]
        if not touched:
            return {}
        old_dirs = [d for d in map(committed, touched) if d is not None]
        merged = batch
        if old_dirs:
            old = spark.read.schema(batch_df.schema).parquet(*old_dirs)
            old = old.withColumn("__bucket", _bucket_of(F.col(key), n_buckets))
            merged = old.unionByName(batch)
        keep_latest(merged, key, order, tie).write.partitionBy("__bucket").parquet(
            stage_dir
        )
    finally:
        batch.unpersist()
    return {b: os.path.join(stage_dir, f"__bucket={b}") for b in touched}


def merge_batch_into_store(
    batch_df: DataFrame,
    store_dir: str,
    key: str,
    order: str,
    tie: str,
    n_buckets: int = 8,
) -> None:
    """Batch-merge ``batch_df`` into the keyed store: recover any
    crashed commit, stage every bucket the batch touches in one write
    under ``_staging`` (``_stage_merge``), then replace every touched
    ``bucket=<b>`` with its staged dir in one ``dircommit.commit``."""
    dircommit.recover(store_dir)

    def committed(b: int) -> str | None:
        d = os.path.join(store_dir, f"bucket={b}")
        return d if os.path.isdir(d) else None

    stage = os.path.join(store_dir, dircommit.STAGING)
    staged = _stage_merge(batch_df, stage, committed, key, order, tie, n_buckets)
    if staged:
        dircommit.commit(
            store_dir,
            {os.path.relpath(d, store_dir): f"bucket={b}" for b, d in staged.items()},
        )
    shutil.rmtree(stage, ignore_errors=True)


# Every merge is now the single partitioned write this name stood for.
merge_batch_into_store_dpo = merge_batch_into_store


def stream_upsert_to_store(
    sdf: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    key: str = "user_id",
    order: str = "ts",
    tie: str = "event_id",
    n_buckets: int = 8,
) -> None:
    """Drain a streaming DataFrame into the keyed store with
    ``foreachBatch`` + availableNow: every micro-batch merges via
    ``merge_batch_into_store``. The checkpoint makes restarts exactly-
    once at the batch level; a replayed batch re-merges the same rows,
    and keep-latest is idempotent, so the store converges either way."""

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        merge_batch_into_store(
            batch_df, store_dir, key=key, order=order, tie=tie, n_buckets=n_buckets
        )

    q = (
        sdf.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from yamr_spark.streaming.events import restore_ns_conf

    restore_ns_conf(sdf.sparkSession)


def read_store(
    spark: SparkSession, store_dir: str, tombstone_col: str | None = None
) -> DataFrame:
    """Read every committed bucket of the store back as one DataFrame.

    CDC deletes: tombstone rows are PERSISTED by the merge (so a
    late-replayed older update loses the keep-latest window to the
    tombstone instead of resurrecting the key) and filtered HERE —
    pass ``tombstone_col`` to hide deleted keys from readers.

    Recovers any crashed commit first, so the store reads as its last
    committed state even when no merge has run since the crash. Only
    exact ``bucket=<int>`` dirs are read; a ``bucket=<b>`` dir appears
    only through a commit, and commit residue is underscore-named."""
    import re

    dircommit.recover(store_dir)
    buckets = [
        os.path.join(store_dir, d)
        for d in sorted(os.listdir(store_dir))
        if re.fullmatch(r"bucket=\d+", d)
    ]
    out = spark.read.parquet(*buckets)
    if tombstone_col is not None:
        # NULL tombstone = not a delete (same coalesce as keep_latest —
        # a bare ~col would null out and hide those keys)
        out = out.where(~F.coalesce(F.col(tombstone_col), F.lit(False)))
    return out
