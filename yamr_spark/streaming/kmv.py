"""Streaming KMV distinct-count maintenance via ``foreachBatch``.

The batch operator (``operators/text.py:kmv_distinct``) is a bottom-k
SET of distinct 60-bit hashes — the sketch of a union is the bottom-k
of the UNION of per-slice hash sets.  Set union is IDEMPOTENT (unlike
the Count-Min sketch's cell addition, ``streaming/cms.py``), so an
at-least-once replay that re-contributes a batch's hashes cannot
corrupt the served estimate even in principle.  The store still uses
the per-batch-partition dynamic-overwrite discipline — not for
correctness this time, but so a replayed batch REPLACES its earlier
partition instead of appending a duplicate file, keeping the store's
row count bounded by batches x k rather than growing with replays.

Per-batch state shipped to the store is the batch's own bottom-k hash
set (<= k rows regardless of batch size: TakeOrdered, never a global
sort).  The served sketch re-derives bottom-k over the DISTINCT union
of all partitions — batches x k rows, corpus-size independent — and
feeds the identical (k-1)/(kth_min/2^60) estimator as the one-shot
batch sketch, which it equals exactly: bottom-k of a union of
per-slice bottom-k sets is the global bottom-k (any global bottom-k
hash survives its own slice's cut).

Compaction for unbounded run lengths follows the CMS store unchanged:
any prefix of batch partitions may be rewritten as one merged
bottom-k partition (same union semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yamr_spark import dircommit


def merge_kmv_batch(
    batch_df: DataFrame,
    batch_id: int,
    col: str,
    store_dir: str,
    k: int = 256,
) -> None:
    """Write one micro-batch's bottom-k hash set as its ``batch_id``
    partition (dynamic overwrite => replay replaces, store stays
    bounded)."""
    from yamr_spark.functions import hash60

    bottom = (
        batch_df.select(hash60(F.col(col).cast("string")).alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
        .orderBy("h")
        .limit(k)
        .withColumn("batch_id", F.lit(int(batch_id)))
    )
    (
        bottom.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(store_dir)
    )


def stream_kmv_to_store(
    sdf: DataFrame,
    col: str,
    store_dir: str,
    checkpoint_dir: str,
    k: int = 256,
) -> None:
    """Drain the stream (availableNow) into the bottom-k delta store.

    ``dircommit.recover`` runs ONCE before the first batch (the LSH
    ingest discipline): a compaction that died after its commit point
    must be finished before new batch partitions land."""
    dircommit.recover(store_dir)
    q = (
        sdf.writeStream.foreachBatch(
            lambda b, bid: merge_kmv_batch(b, bid, col, store_dir, k=k)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_kmv_store(spark: SparkSession, store_dir: str, k: int = 256) -> DataFrame:
    """The served sketch: (n_hashes, kth_min, estimate) from the
    bottom-k of the distinct union of every batch partition — the same
    estimator row ``kmv_distinct`` produces from a one-shot scan, which
    it equals exactly (bottom-k over union-of-bottom-k's == global
    bottom-k)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    dircommit.recover(store_dir)
    bottom = (
        spark.read.parquet(store_dir)
        .select("h")
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    return bottom.agg(
        F.count("*").alias("n_hashes"),
        F.max("h").alias("kth_min"),
    ).select(
        "n_hashes",
        "kth_min",
        F.round(
            F.when(
                F.col("n_hashes") < k, F.col("n_hashes").cast("double")
            ).otherwise(
                F.lit(float(k - 1))
                / (F.col("kth_min").cast("double") / F.lit(float(1 << 60)))
            ),
            4,
        ).alias("estimate"),
    )
