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
write to an underscore-named staging dir. Each bucket is then
committed by directory renames. No write ever overwrites a path its
own plan reads, so no computation barrier is needed, and the number
of Spark jobs per merge does not grow with the number of touched
buckets. Untouched buckets are never read or written, so per-batch
cost is O(batch ∪ touched buckets), not O(store). On a real cluster
the same pattern is what Delta/Iceberg MERGE INTO compiles to
(copy-on-write of matched files); here it is plain parquet plus
directory renames, so the engine has no table-format dependency.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


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


# Staging dir of the one partitioned write, inside the store (or the
# snapshot table root). The leading underscore hides it from Spark's
# FileIndex and from ``read_store``; a crash leaves it behind, and the
# next merge sweeps it before staging again.
_STAGING = "_staging"


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
    ONE ``partitionBy`` write into ``stage_dir``; each staged bucket
    gets its own ``_SUCCESS`` marker once that write has committed.
    The old buckets are read with the batch's schema, so no schema
    inference job runs.
    The caller commits the staged dirs by renaming them into place."""
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
    staged = {}
    for b in touched:
        staged[b] = os.path.join(stage_dir, f"__bucket={b}")
        open(os.path.join(staged[b], "_SUCCESS"), "w").close()
    return staged


def _sweep_bucket_residue(store_dir: str) -> None:
    """Store-wide crash-residue sweep, run before every merge AND every
    read: a bucket stranded as ``_bucket_<b>.old`` by a crash between
    the two swap renames (committed ``bucket=<b>`` missing) is RESTORED;
    superseded ``.old`` and partial ``.tmp`` dirs are dropped.
    Sweeping all buckets — not just the ones the current batch touches —
    closes the ADVICE r05 hole where a direct read after a crash
    silently under-reported the untouched stranded bucket."""
    import re

    if not os.path.isdir(store_dir):
        return
    for d in sorted(os.listdir(store_dir)):
        m = re.fullmatch(r"_bucket_(\d+)\.(old|tmp)", d)
        if not m:
            continue
        full = os.path.join(store_dir, d)
        bucket_dir = os.path.join(store_dir, f"bucket={m.group(1)}")
        if m.group(2) == "old" and not os.path.exists(bucket_dir):
            os.rename(full, bucket_dir)
        else:
            shutil.rmtree(full)


def merge_batch_into_store(
    batch_df: DataFrame,
    store_dir: str,
    key: str,
    order: str,
    tie: str,
    n_buckets: int = 8,
) -> None:
    """Batch-merge ``batch_df`` into the keyed store: stage every bucket
    the batch touches in one write (``_stage_merge``), then swap each
    staged bucket in. Each swap renames the staged bucket to
    ``_bucket_<b>.tmp``, the live bucket aside to ``_bucket_<b>.old``,
    and the tmp into place — so a concurrent reader sees the bucket
    missing for two metadata ops, not for an rmtree of the old data.
    Every staging name starts with an underscore and holds no '='
    (Spark's path filter exempts underscore names containing '=', for
    partition dirs), so Spark's FileIndex AND ``read_store`` both
    ignore it: a crash at any point leaves only invisible residue
    (swept by the next merge), never a half-committed bucket that
    reads as duplicated keys."""

    def committed(b: int) -> str | None:
        d = os.path.join(store_dir, f"bucket={b}")
        return d if os.path.exists(os.path.join(d, "_SUCCESS")) else None

    # recover residue of any previously crashed merge STORE-WIDE before
    # touching anything (a stranded bucket may not be in this batch's
    # touched set)
    _sweep_bucket_residue(store_dir)
    stage = os.path.join(store_dir, _STAGING)
    staged = _stage_merge(batch_df, stage, committed, key, order, tie, n_buckets)
    for b, src in staged.items():
        bucket_dir = os.path.join(store_dir, f"bucket={b}")
        tmp = os.path.join(store_dir, f"_bucket_{b}.tmp")
        old_stage = os.path.join(store_dir, f"_bucket_{b}.old")
        os.rename(src, tmp)
        if os.path.exists(bucket_dir):
            os.rename(bucket_dir, old_stage)
        os.rename(tmp, bucket_dir)
        if os.path.exists(old_stage):
            shutil.rmtree(old_stage)
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

    Only exact ``bucket=<int>`` dirs with a _SUCCESS marker qualify —
    staging residue (``_staging``, ``_bucket_K.tmp``, ``_bucket_K.old``)
    is invisible by its underscore prefix, and the strict name match
    additionally excludes any legacy suffixed dir. The store-wide
    residue sweep runs first, so a bucket stranded mid-swap by a crash
    is restored (not silently missing) even when no merge has touched
    it since."""
    import re

    _sweep_bucket_residue(store_dir)
    buckets = [
        os.path.join(store_dir, d)
        for d in sorted(os.listdir(store_dir))
        if re.fullmatch(r"bucket=\d+", d)
        and os.path.exists(os.path.join(store_dir, d, "_SUCCESS"))
    ]
    out = spark.read.parquet(*buckets)
    if tombstone_col is not None:
        # NULL tombstone = not a delete (same coalesce as keep_latest —
        # a bare ~col would null out and hide those keys)
        out = out.where(~F.coalesce(F.col(tombstone_col), F.lit(False)))
    return out
