"""Streaming incremental EXACT SUBSTRING dedup — the span-granularity
member of the online dedup family (exact-hash: incremental_dedup /
streaming upsert; MinHash: streaming/lsh.py; winnow: batch
winnow_incremental).

Documents arrive in micro-batches; each batch's token windows are
checked against a STANDING window index (every ``width``-token window
the corpus has already ingested), the per-doc dropped-span ledger is
appended to a results directory, and the batch's own windows are then
ADDED to the index so later batches dedup against it. ``foreachBatch``
supplies the batch hook; matching is on (hash60, window TEXT) — the
hash prunes the join, the text equality keeps it EXACT (the substring
family's contract: no 60-bit-collision false positives at any corpus
size).

Index layout & lifecycle: the index is a ``batch_id=`` partitioned
store (seed corpus = ``batch_id=-1``, each micro-batch its own
partition), H-BUCKETED one level below: every partition splits into
``hb=pmod(h, n_hb)`` subdirectories (``n_hb`` recorded once per store
in ``_index_layout.json``). It shares the CMS/KMV delta stores'
crash-safe prefix compaction (``sketch_compact.compact_prefix`` with
``substring_merge``, hb-partitioned stage): committed batch partitions
fold into ONE distinct-(h, wt) partition, bounding the store at one
row per DISTINCT window no matter how many batches re-contribute the
same windows. A compacted index serves identical matches (window
matching is set-semantics over (h, wt); distinct-union is associative
and prefix-safe).

Scale: one row per DISTINCT window — (h BIGINT, wt ~60 B) ≈ tokens ×
70 bytes, the price of substring granularity (Lee et al.'s suffix
arrays are ~8× corpus bytes; this is comparable and partitionable).
The per-batch probe does NO standing-side exchange (VERDICT r13 #1):
the batch's distinct 8-byte hashes broadcast INTO the standing scan
(left-semi), only the hash-matched index rows — duplication-bound,
never corpus-bound — come back (distinct + broadcast) for the exact
text verify against the batch windows, and the ``hb`` layout prunes
the scan to the batch's touched hash buckets (``hb IN touched`` is
directory pruning; at 100 TB set ``n_hb`` in the thousands so narrow
batches skip most of the store's files). Per batch the work is one
pruned columnar scan + batch-windows × (broadcast-hash probe + text
verify) + one partition overwrite; the old shuffle semi-join re-
exchanged the FULL standing index every batch. The broadcast probe is
sized for the micro-batch regime (batch hash set ≪ executor memory);
for bulk backfills pass ``probe_broadcast=False`` (same pruned scan,
Catalyst/AQE-planned semi-join) or use the batch operator
(``substring_dedup_incremental``) outright. New docs match only
STRICTLY EARLIER state, so
results are deterministic given the batch sequence and the
closed-form oracle replay holds (batch k matches index0 ∪ batches<k).

Delivery contract (at-least-once made idempotent, ADVICE r12): a
foreachBatch replay must recompute the SAME ledger rows it committed
before the crash. Two mechanisms guarantee that even when the crash
fell between the index write and the checkpoint commit: (1) the probe
EXCLUDES the probing batch's own ``batch_id`` partition, so a replayed
batch never self-matches against the windows its crashed attempt
already appended; (2) both writes are idempotent — the index write is
a dynamic partition OVERWRITE of exactly ``batch_id=<bid>`` (replay
replaces, never duplicates) and the ledger rows are byte-identical on
replay, so ``read_ledgers``'s distinct() collapses them. This holds
for PERSISTENT directories across process restarts, not just fresh
tmpdirs.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yamr_spark import dircommit
from yamr_spark.functions import hash60_sql
from yamr_spark.operators.curation import _TOKS
from yamr_spark.streaming.sketch_compact import compact_prefix

_WIDTH = 8
# hash-bucket (hb=) directory count under each batch_id= partition.
# 16 keeps test-scale file counts sane; at 100 TB set thousands so a
# narrow batch's `hb IN touched` filter prunes most of the store's
# files. Recorded per store in _index_layout.json at seed time — every
# later writer/prober reads it back, so one store never mixes bucket
# counts.
_N_HB = 16
_LAYOUT = "_index_layout.json"


def _layout_n_hb(index_dir: str, default: int | None = None) -> int:
    """The store's recorded hb count; writes ``default`` (or ``_N_HB``)
    as the layout on first use so the store is self-describing."""
    path = os.path.join(index_dir, _LAYOUT)
    if os.path.exists(path):
        with open(path) as fh:
            return int(json.load(fh)["n_hb"])
    n_hb = int(default if default is not None else _N_HB)
    os.makedirs(index_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"n_hb": n_hb}, fh)
    os.rename(tmp, path)
    return n_hb


def _window_table(docs: DataFrame, width: int = _WIDTH) -> DataFrame:
    """(doc_id, n_tokens, s, h, wt) — every ``width``-token window with
    its 60-bit hash and exact text. One map-side pass, no shuffle."""
    toks = docs.select("doc_id", F.expr(_TOKS).alias("__toks")).select(
        "doc_id", F.size("__toks").cast("long").alias("n_tokens"), "__toks"
    )
    ws = (
        f"transform(sequence(1, size(__toks) - {width} + 1), "
        f"s -> struct(cast(s as bigint) AS s, "
        f"concat_ws(chr(32), slice(__toks, s, {width})) AS wt))"
    )
    return (
        toks.filter(F.col("n_tokens") >= width)
        .select("doc_id", "n_tokens", F.explode(F.expr(ws)).alias("w"))
        .select(
            "doc_id",
            "n_tokens",
            F.col("w.s").alias("s"),
            F.expr(hash60_sql("w.wt")).alias("h"),
            F.col("w.wt").alias("wt"),
        )
    )


def _write_index_partition(
    df: DataFrame, index_dir: str, batch_id: int, n_hb: int | None = None
) -> None:
    """Overwrite exactly the ``batch_id=<batch_id>`` partition with the
    distinct (h, wt) windows of ``df``, h-bucketed into ``hb=``
    subdirectories — idempotent under replay (deterministic input →
    the same (batch_id, hb) partitions, replaced in place). The
    repartition clusters each hb into one task so a batch writes one
    file per touched bucket, not tasks × buckets."""
    n_hb = _layout_n_hb(index_dir, n_hb)
    (
        df.select("h", "wt")
        .distinct()
        .withColumn("hb", F.pmod(F.col("h"), F.lit(n_hb)).cast("int"))
        .withColumn("batch_id", F.lit(int(batch_id)))
        .repartition("hb")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "hb")
        .parquet(index_dir)
    )


def build_window_index(
    docs: DataFrame, index_dir: str, width: int = _WIDTH, n_hb: int = _N_HB
) -> None:
    """Materialize the standing window index seed: DISTINCT (h, wt)
    rows under the ``batch_id=-1`` partition (stream batches never use
    negative ids, so the seed is always probed and never folded away
    from under an in-flight batch). ``n_hb`` fixes the store's hash-
    bucket layout for its whole lifetime."""
    _write_index_partition(_window_table(docs, width), index_dir, -1, n_hb)


def probe_matched_keys(
    spark: SparkSession,
    index_dir: str,
    bid: int,
    batch_keys: DataFrame,
    broadcast: bool = True,
) -> DataFrame:
    """The standing index's (h, wt) rows whose hash appears in the
    probing batch — computed with ZERO standing-side exchange and a
    scan pruned to the batch's hash buckets (module docstring, scale):

    1. the batch's distinct hb values (a bounded collect: <= n_hb
       ints) prune the standing scan by DIRECTORY, and the
       ``batch_id != bid`` filter is both pruning and the replay-
       correctness self-exclusion;
    2. the batch's distinct 8-byte hashes broadcast into a left-semi
       over that scan — the standing rows never shuffle;
    3. only the hash-matched rows (duplication-bound volume) are
       distinct-ed and returned; the caller broadcasts them back over
       the batch windows for the exact text verify.

    ``batch_keys`` needs only an ``h`` column.

    ``broadcast=False`` is the BULK mode: when one "batch" is a
    backfill too large to broadcast its hash set, the same pruned,
    self-excluded standing scan is probed with a plain (shuffle-
    planned) semi-join instead — Catalyst/AQE picks the join strategy
    from observed sizes. Identical result set (test-pinned); the
    micro-batch default stays exchange-free."""
    n_hb = _layout_n_hb(index_dir)
    hkeys = batch_keys.select("h").distinct()
    touched = [
        r[0]
        for r in hkeys.select(
            F.pmod(F.col("h"), F.lit(n_hb)).cast("int").alias("hb")
        )
        .distinct()
        .collect()
    ]
    idx = spark.read.parquet(index_dir).where(
        (F.col("batch_id") != int(bid)) & F.col("hb").isin(touched)
    )
    probe = F.broadcast(hkeys) if broadcast else hkeys
    return (
        idx.join(probe, "h", "left_semi")
        .select("h", "wt")
        .distinct()
    )


def substring_merge(df: DataFrame) -> DataFrame:
    """Distinct (h, wt) union — the window index's associative,
    prefix-safe reduction for ``sketch_compact.compact_prefix``. Keeps
    the partition-discovered ``hb`` (functionally dependent on h, so
    the distinct is still per-(h, wt)) so the compacted partition
    rewrites under the same bucket layout."""
    return df.select("h", "wt", "hb").distinct()


def compact_window_index(
    spark: SparkSession, index_dir: str, upto: int, stream_stopped: bool = False
) -> int:
    """Fold committed ``batch_id`` partitions (id <= ``upto``) into one
    distinct-window partition — bounds the index at one row per
    DISTINCT window, preserving the ``hb=`` bucket layout. Same replay
    contract as the sketch stores: pass ``upto`` strictly below the
    newest batch id unless the stream is cleanly stopped."""
    return compact_prefix(
        spark,
        index_dir,
        substring_merge,
        upto,
        stream_stopped=stream_stopped,
        partition_by=["hb"],
    )


def _ledger(wins: DataFrame, hits: DataFrame, width: int) -> DataFrame:
    """Per-doc dropped-span ledger from a window table and its matched
    subset: gaps-and-islands merge, per-doc window state only."""
    from pyspark.sql import Window

    w1 = Window.partitionBy("doc_id").orderBy("s")
    isl = (
        hits.select("doc_id", "s")
        .distinct()
        .withColumn("prev", F.lag("s").over(w1))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("s") > F.col("prev") + width), 1
            ).otherwise(0),
        )
        .withColumn(
            "isl", F.sum("brk").over(w1.rowsBetween(Window.unboundedPreceding, 0))
        )
    )
    spans = isl.groupBy("doc_id", "isl").agg(
        (F.max("s") - F.min("s") + width).cast("long").alias("span_tokens")
    )
    per = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").cast("long").alias("dropped_tokens")
    )
    counts = wins.select("doc_id", "n_tokens").distinct()
    return counts.join(per, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("dropped_tokens", F.lit(0).cast("long")).alias("dropped_tokens"),
    )


def stream_substring_into_index(
    spark: SparkSession,
    stream_dir: str,
    schema,
    index_dir: str,
    results_dir: str,
    checkpoint_dir: str,
    width: int = _WIDTH,
    probe_broadcast: bool = True,
) -> None:
    """Drain the staged document stream: per micro-batch, compute each
    doc's dropped-span ledger against the standing window index
    (EXCLUDING the batch's own partition, so a replayed batch never
    matches windows its crashed attempt appended — see the module
    docstring's delivery contract), append the ledgers to
    ``results_dir``, then overwrite the batch's ``batch_id=`` index
    partition with its distinct windows. The probe is the broadcast
    form of :func:`probe_matched_keys` — pruned standing scan, no
    standing-side exchange."""

    def _ingest(batch_df: DataFrame, bid: int) -> None:
        wins = _window_table(batch_df, width)
        wins.persist()
        try:
            dircommit.recover(index_dir)  # finish any interrupted compaction
            has_index = os.path.isdir(index_dir) and any(
                f.startswith("batch_id=") for f in os.listdir(index_dir)
            )
            if has_index:
                matched = probe_matched_keys(
                    spark, index_dir, bid, wins, broadcast=probe_broadcast
                )
                mk = F.broadcast(matched) if probe_broadcast else matched
                hits = wins.join(mk, ["h", "wt"], "left_semi")
            else:
                hits = wins.limit(0)
            _ledger(wins, hits, width).write.mode("append").parquet(results_dir)
            _write_index_partition(wins, index_dir, bid)
        finally:
            wins.unpersist()

    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir + "/*")
        .writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def read_ledgers(spark: SparkSession, results_dir: str) -> DataFrame:
    """The accumulated per-doc ledgers, exact under at-least-once
    delivery via distinct() (replayed batches recompute byte-identical
    rows — module docstring, delivery contract)."""
    return (
        spark.read.parquet(results_dir)
        .select("doc_id", "n_tokens", "dropped_tokens")
        .distinct()
    )


# --- Minimizer-anchored streaming index --------------------------------------
#
# Same service shape as the word-window index above, with the batch-side
# unit swapped for the winnowing-selected anchor k-grams of
# operators/curation.py (k=16, w=25 — the >= 40-char duplicate
# guarantee). The standing index holds one (h, wt) row per DISTINCT
# SELECTED anchor: ~2/(w+1) of corpus char offsets (~12.6x fewer rows
# than the dense window index, measured in SCALE.md r13), which is the
# difference between an index you can keep hot and one you archive.
# Delivery contract, batch_id partitioning, self-exclusion probe, and
# compaction are shared with the word-window form verbatim.


def build_anchor_index(
    docs: DataFrame, index_dir: str, n_hb: int = _N_HB, **kw
) -> None:
    """Materialize the standing ANCHOR index seed: distinct (h, wt)
    selected-anchor rows under batch_id=-1, h-bucketed like the window
    index (kw: k/w selection params, defaulting to the operator
    constants)."""
    from yamr_spark.operators.curation import minimizer_anchor_table

    _write_index_partition(
        minimizer_anchor_table(docs, **kw), index_dir, -1, n_hb
    )


def stream_minimized_into_index(
    spark: SparkSession,
    stream_dir: str,
    schema,
    index_dir: str,
    results_dir: str,
    checkpoint_dir: str,
    probe_broadcast: bool = True,
) -> None:
    """Drain the staged document stream against the standing ANCHOR
    index: per micro-batch, flag the batch docs' anchors whose exact
    k-gram text is already in the index (excluding the batch's own
    partition — the replay contract of the module docstring), append
    the per-doc flagged-span ledgers, then overwrite the batch's
    ``batch_id=`` partition with its distinct anchors. The probe is
    the broadcast form of :func:`probe_matched_keys` — pruned standing
    scan, no standing-side exchange."""
    from pyspark.sql import functions as F

    from yamr_spark.operators.curation import (
        MINIMIZER_K,
        _flagged_ledger,
        minimizer_anchor_table,
    )

    def _ingest(batch_df: DataFrame, bid: int) -> None:
        anch = minimizer_anchor_table(batch_df)
        anch.persist()
        base = batch_df.select(
            "doc_id", F.length("text").cast("long").alias("n_chars")
        )
        try:
            dircommit.recover(index_dir)
            has_index = os.path.isdir(index_dir) and any(
                f.startswith("batch_id=") for f in os.listdir(index_dir)
            )
            if has_index:
                matched = probe_matched_keys(
                    spark, index_dir, bid, anch, broadcast=probe_broadcast
                )
                mk = F.broadcast(matched) if probe_broadcast else matched
                flagged = (
                    anch.join(mk, ["h", "wt"], "left_semi")
                    .select("doc_id", "s")
                    .distinct()
                )
            else:
                flagged = anch.select("doc_id", "s").limit(0)
            _flagged_ledger(base, flagged, MINIMIZER_K).write.mode(
                "append"
            ).parquet(results_dir)
            _write_index_partition(anch, index_dir, bid)
        finally:
            anch.unpersist()

    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir + "/*")
        .writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def read_minimized_ledgers(spark: SparkSession, results_dir: str) -> DataFrame:
    """The accumulated per-doc flagged-span ledgers, exact under
    at-least-once delivery via distinct()."""
    return (
        spark.read.parquet(results_dir)
        .select(
            "doc_id", "n_chars", "n_flagged_spans", "flagged_chars",
            "flagged_frac",
        )
        .distinct()
    )
