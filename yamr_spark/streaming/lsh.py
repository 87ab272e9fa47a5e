"""Streaming incremental LSH near-dup detection — a deduplication
SERVICE over an arriving document stream.

The batch dedup family answers "which pairs in this corpus are
near-dups"; a production ingestion pipeline needs the ONLINE form:
documents arrive in micro-batches, each batch is checked against a
standing LSH index (did we already ingest something like this?), and
the batch's own signatures are then ADDED to the index so later
batches match against it. ``foreachBatch`` supplies the batch hook;
the index is the banded signature table (`minhash_band_table`) stored
as plain parquet and grown by appending each batch's bands.

Scale notes: per batch the work is one signature aggregation over the
BATCH (shuffle = batch_docs × k fixed-width ints), one equality join
of the batch's bands against the index (shuffled on (band_id, hash) —
at 100 TB the index side would be bucketed on the band hash so the
join is exchange-free on the standing side), and two appends. Index
size is docs × bands fixed-width rows — ~64 bytes/doc — so a 10¹⁰-doc
index is ~600 GB of parquet: big, but partitionable and append-only.
New docs are matched only against STRICTLY EARLIER state (the index
read happens before the append), so results are deterministic given
the batch sequence — which is what makes the closed-form oracle replay
possible.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yamr_spark import dircommit
from yamr_spark.operators.dedup import minhash_band_table, minhash_signatures


def build_band_index(docs: DataFrame, index_dir: str) -> None:
    """Materialize the standing banded-signature index for ``docs``."""
    minhash_band_table(minhash_signatures(docs)).write.mode("overwrite").parquet(
        index_dir
    )


def stage_stream_files(docs: DataFrame, stream_dir: str, batches: list) -> None:
    """Write one parquet file per micro-batch (deterministic membership
    predicates), with strictly increasing mtimes so FileStreamSource
    (oldest-first) delivers them in the given order under
    maxFilesPerTrigger=1."""
    import glob
    import shutil

    os.makedirs(stream_dir, exist_ok=True)
    for i, pred in enumerate(batches):
        tmp = os.path.join(stream_dir, f"_stage_{i}")
        docs.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(stream_dir, f"batch_{i}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))


def stream_lsh_into_index(
    spark: SparkSession,
    stream_dir: str,
    schema,
    index_dir: str,
    results_dir: str,
    checkpoint_dir: str,
    compact_every: int = 2,
) -> None:
    """Drain the staged document stream: per micro-batch, flag band
    matches against the standing index, append them to ``results_dir``,
    then append the batch's bands to the index. Every ``compact_every``
    batches the index directory is compacted (``compact_store``) — each
    micro-batch otherwise adds one small parquet file, which is exactly
    the small-file accretion failure mode the maintenance module exists
    for; with periodic compaction the steady-state file count is O(1)
    per target_bytes of index, not O(batches).

    Delivery: availableNow + checkpoint is at-least-once WITH idempotent
    reads, not exactly-once — a crash between the results/index appends
    and the checkpoint commit re-appends that batch on replay. Results
    stay exact because ``read_flagged`` applies distinct(); replayed
    band rows in the index are duplicates that cannot create new flagged
    pairs (the flagged join is followed by distinct() too), only
    wasted bytes — which the periodic compaction keeps bounded and a
    full rebuild would remove."""

    # Recovery ONCE, BEFORE the first batch can touch the index: a
    # compaction that crashed after its commit point may have left the
    # index with none of its visible files; appending first would
    # match the batch against an empty index. Once per stream start
    # suffices: within a run compact_store recovers before it plans, so
    # a fresh crash window only exists across a RESTART, which lands
    # here.
    dircommit.recover(index_dir)

    def _ingest(batch_df: DataFrame, _bid: int) -> None:
        sigs = minhash_band_table(minhash_signatures(batch_df))
        sigs.persist()
        try:
            flagged_schema = "stream_doc bigint, index_doc bigint"
            if any(
                f.startswith("part-") or f.endswith(".parquet")
                for f in (
                    os.listdir(index_dir) if os.path.isdir(index_dir) else []
                )
            ):
                idx = spark.read.parquet(index_dir)
                flagged = (
                    sigs.alias("s")
                    .join(
                        idx.alias("i"),
                        (F.col("s.band_id") == F.col("i.band_id"))
                        & (F.col("s.band_hash") == F.col("i.band_hash")),
                    )
                    .select(
                        F.col("s.doc_id").alias("stream_doc"),
                        F.col("i.doc_id").alias("index_doc"),
                    )
                    .distinct()
                )
            else:
                flagged = spark.createDataFrame([], flagged_schema)
            flagged.write.mode("append").parquet(results_dir)
            sigs.write.mode("append").parquet(index_dir)
            if compact_every and _bid % compact_every == compact_every - 1:
                from yamr_spark.operators.maintenance import compact_store

                compact_store(spark, index_dir)
        finally:
            sigs.unpersist()

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(stream_dir, "*.parquet"))
        .writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_flagged(spark: SparkSession, results_dir: str) -> DataFrame:
    return spark.read.parquet(results_dir).distinct()
