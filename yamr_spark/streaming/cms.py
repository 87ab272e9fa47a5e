"""Streaming Count-Min sketch maintenance via ``foreachBatch``.

The batch operator (``operators/text.py:cms_sketch``) is additive —
the sketch of a union is the cell-wise sum of per-slice sketches — so
the streaming maintainer is a pure DELTA store: each micro-batch
writes its OWN bounded (<= depth x width rows) cell table as one
``batch_id=`` partition, and the served sketch is the cell-wise SUM
over partitions, which equals the one-shot batch sketch exactly
(addition commutes). No read-modify-write of the store ever happens.

Exactly-once without a table format: ``foreachBatch`` is
at-least-once — a crash between the store write and the checkpoint
commit replays the batch — and an additive merge would double-add on
replay (unlike the keyed upsert store, whose keep-latest rule is
idempotent). Writing each batch as its own partition under dynamic
partition overwrite makes the replay OVERWRITE its earlier partition
instead: per-partition idempotence turns at-least-once delivery into
an exactly-once store.

Scale notes: per-batch state shipped to the store is bounded by
depth x width cells regardless of batch size; the serve-side sum runs
over batches x (d*w) rows. For unbounded run lengths,
``streaming/sketch_compact.compact_prefix(..., cms_merge, upto)``
folds any checkpoint-committed prefix of batch partitions into one
summed partition (same additivity), committed through
``yamr_spark.dircommit``; serve/ingest paths run ``dircommit.recover``
first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yamr_spark import dircommit
from yamr_spark.operators.text import cms_sketch


def merge_cms_batch(
    batch_df: DataFrame,
    batch_id: int,
    col: str,
    store_dir: str,
    depth: int = 4,
    width: int = 256,
) -> None:
    """Write one micro-batch's sketch delta as its ``batch_id``
    partition (dynamic overwrite => replay-idempotent)."""
    cells = cms_sketch(batch_df, col, depth=depth, width=width).withColumn(
        "batch_id", F.lit(int(batch_id))
    )
    # per-WRITE dynamic mode, not a session-conf toggle: two streams
    # sharing one SparkSession could interleave a set/restore and run a
    # static-mode overwrite that wipes every other batch partition
    # (ADVICE r07)
    # no barrier needed: the delta plan reads only the batch, never
    # the store it writes
    (
        cells.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(store_dir)
    )


def stream_cms_to_store(
    sdf: DataFrame,
    col: str,
    store_dir: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 256,
) -> None:
    """Drain the stream (availableNow) into the delta store.

    ``dircommit.recover`` runs ONCE before the first batch (the LSH
    ingest discipline): a compaction that died after its commit point
    must be finished before new batch partitions land."""
    dircommit.recover(store_dir)
    q = (
        sdf.writeStream.foreachBatch(
            lambda b, bid: merge_cms_batch(
                b, bid, col, store_dir, depth=depth, width=width
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_cms_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """The served sketch: cell-wise sum over every batch partition."""
    dircommit.recover(store_dir)
    return (
        spark.read.parquet(store_dir)
        .groupBy("i", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
