"""Generic MapReduce job API — the reference's C7/C8 operator hooks.

The reference runs user scripts that define duck-typed classes
(/root/reference/mapper.py:94-122, reducer.py:113-139):

- ``Mapper.run_map(data: str) -> list[tuple[key, value]]`` — called once
  per DFS chunk with its whole content; 0..n output tuples (UDTF-shaped).
- ``Reducer.run_reduce(data: list[tuple]) -> list[tuple]`` — called once
  per shuffle region with its key-sorted tuple list; the shipped scripts
  internally group by key (``combine_data``) and fold each group.

``run_job`` accepts exactly those duck-typed objects, so yamr job scripts
(e.g. map_libs/word_count.py's classes) run unmodified. Execution is
Arrow-vectorized end to end:

  input rows --mapInPandas(run_map)--> (key, value)
            --shuffle on key--> --applyInPandas/mapInPandas(run_reduce)-->

Two reduce modes:

- ``grouped`` (default, the 100 TB path): hash-partition on key, sort
  within partitions, then a single Arrow-batched ``mapInPandas`` pass
  slices consecutive equal-key runs and feeds run_reduce one key-group
  at a time (runs spanning Arrow batches are carried over). Same
  semantics as ``groupBy().applyInPandas`` but the JVM↔Python round
  trip is per partition batch, not per key — with 10⁹ distinct keys the
  per-group dispatch would dominate. State is bounded by the largest
  single key, not the largest region.
- ``region``: exact reference topology — hash-partition into
  ``num_regions`` regions, deliver each region's full key-sorted tuple
  list in ONE run_reduce call (mapper.py:124-136 + reducer.py:131-139).
  Only for reducers with cross-key logic; holds a region in one worker's
  memory, so it intentionally does not scale past region size ≈ RAM.

Python stays the slow path: this shim exists for drop-in compatibility.
Native operators (operators/*.py) express the same jobs as pure-JVM
plans and should be preferred; see operators/wordcount.py for the
word-count job's native form.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any, Protocol, runtime_checkable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@runtime_checkable
class MapperLike(Protocol):
    def run_map(self, data: str) -> list[tuple[Any, Any]]: ...


@runtime_checkable
class ReducerLike(Protocol):
    def run_reduce(self, data: list[tuple[Any, Any]]) -> list[tuple[Any, Any]]: ...


def _to_kv_frame(pairs: list[tuple[Any, Any]]) -> pd.DataFrame:
    return pd.DataFrame({"key": [p[0] for p in pairs], "value": [p[1] for p in pairs]})


def reference_partition_id(key: Any, n: int) -> int:
    """The reference's EXACT hash partitioner
    (/root/reference/hash_partitioner.py:4-10): utf-8 bytes of str(key)
    read as one big-endian hex integer, mod region count. Arbitrary-
    precision by construction (a 1 KB key is a 8192-bit int), which is
    why the exact replica lives Python-side — the compat region path is
    already a Python seam. Pinned against the reference's own test
    vectors (/root/reference/tests/test_partition.py:43-47) in
    tests/test_mapreduce_compat.py.

    An empty-string key is rejected with a descriptive error: the
    reference crashes identically (int('', 16) raises deep inside its
    scheduler), so allowing it would not be parity — but the reference's
    traceback is opaque, and inside an RDD lambda ours would be worse
    (ADVICE r12). Mappers must not emit '' as a key."""
    from binascii import hexlify

    s = str(key).encode("utf-8")
    if not s:
        raise ValueError(
            "reference_partition_id: empty-string key — the reference "
            "partitioner (hash_partitioner.py) cannot hash '' (int('', 16) "
            "raises there too); fix the mapper to never emit an empty key"
        )
    return int(hexlify(s), 16) % n


def run_job(
    spark: SparkSession,
    input_df: DataFrame,
    mapper: MapperLike,
    reducer: ReducerLike,
    *,
    map_schema: str = "key string, value long",
    reduce_schema: str | None = None,
    num_regions: int | None = None,
    mode: str = "grouped",
    text_col: str | None = None,
    partitioner: str = "spark",
) -> DataFrame:
    """Run a reference-style MapReduce job as one declarative Spark plan.

    ``input_df``: any DataFrame; ``text_col`` (default: first column) is
    fed to ``mapper.run_map`` one value per call — each row plays the
    role of one DFS chunk.
    ``map_schema``/``reduce_schema``: Spark DDL for the (key, value)
    output of each phase (the reference is dynamically typed; Spark needs
    the types declared — SURVEY.md §7.6 risk 2).
    """
    if not isinstance(mapper, MapperLike):
        raise TypeError("mapper must define run_map(data) -> [(k, v), ...]")
    if not isinstance(reducer, ReducerLike):
        raise TypeError("reducer must define run_reduce(pairs) -> [(k, v), ...]")
    reduce_schema = reduce_schema or map_schema
    col = text_col or input_df.columns[0]

    def map_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple[Any, Any]] = []
            for data in pdf[col]:
                out.extend(mapper.run_map(data))
            yield _to_kv_frame(out)

    src = input_df.select(col)
    # The Python map phase parallelizes per PARTITION. A small corpus in
    # one parquet file scans as a single partition, serializing run_map
    # onto one core — fan the chunks out first. r15 revision (VERDICT
    # r14 #2/#4): the width is DATA-sized via the spread_scan arithmetic
    # (clamp(total_bytes / (maxPartitionBytes / cost_factor), 1,
    # defaultParallelism); cost_factor 8192 — run_map is a per-byte
    # regex kernel), replacing both the unconditional
    # repartition(defaultParallelism) — which forked one python worker
    # per core regardless of input size — and the ~110 ms
    # ``.rdd.getNumPartitions()`` driver check (the metadata-cheap
    # estimate reads the file listing only). At real scale the scan
    # already yields enough splits and no extra shuffle is added. A
    # non-scan root (an in-memory or derived frame) has no file sizes to
    # estimate from, so it falls back to the partition-count check:
    # fewer than defaultParallelism partitions fan out to that width.
    from yamr_spark.tables import scan_spread_plan

    plan = scan_spread_plan(src, cost_factor=8192)
    py_width = None
    if plan is not None:
        est, target = plan
        py_width = target
        if est < target:
            src = src.repartition(target)
    elif src.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        src = src.repartition(spark.sparkContext.defaultParallelism)
    mapped = src.mapInPandas(map_fn, schema=map_schema)

    if mode == "grouped":
        # Sorted-stream run-length reduce: hash-partition on key, sort
        # within each partition, then ONE mapInPandas pass per partition
        # that slices consecutive equal-key runs and feeds each to
        # run_reduce. Semantics are identical to groupBy.applyInPandas
        # (one run_reduce call per key, pairs sorted like the reference's
        # combine_data), but the Arrow round-trip happens once per
        # PARTITION BATCH instead of once per key — with 10⁹ keys the
        # per-group Python dispatch would dominate (VERDICT r03 #6).
        # A run can span Arrow batch boundaries, so the tail run of each
        # batch is carried into the next and flushed at end-of-partition.
        # Reduce width follows the data-sized map width (each reduce
        # partition is one python worker + Arrow round trip — 32 of them
        # over a few thousand distinct keys is pure fixed cost); values
        # are per-key, so the width is semantics-free here (unlike
        # region mode, whose region count IS the reference contract).
        n = (
            num_regions
            or py_width
            or int(spark.conf.get("spark.sql.shuffle.partitions"))
        )

        def reduce_runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            carry: list[tuple[Any, Any]] = []

            def flush(pairs: list[tuple[Any, Any]]) -> list[tuple[Any, Any]]:
                pairs.sort(key=lambda t: (str(t[0]), repr(t[1])))
                return reducer.run_reduce(pairs)

            for pdf in batches:
                if pdf.empty:
                    continue
                keys = pdf["key"].tolist()
                vals = pdf["value"].tolist()
                m = len(keys)
                # run boundaries via vector compare; runs are contiguous
                # because the partition is sorted by key
                bounds = [0] + [i for i in range(1, m) if keys[i] != keys[i - 1]] + [m]
                out: list[tuple[Any, Any]] = []
                for i, j in zip(bounds[:-1], bounds[1:]):
                    run = list(zip(keys[i:j], vals[i:j]))
                    if carry and carry[0][0] == run[0][0]:
                        carry.extend(run)
                        run = carry
                        carry = []
                    elif carry:
                        out.extend(flush(carry))
                        carry = []
                    if j == m:
                        carry = run  # tail run may continue in next batch
                    else:
                        out.extend(flush(run))
                if out:
                    yield _to_kv_frame(out)
            if carry:
                yield _to_kv_frame(flush(carry))

        return (
            mapped.repartition(n, F.col("key"))
            .sortWithinPartitions("key")
            .mapInPandas(reduce_runs, schema=reduce_schema)
        )

    if mode == "region":
        n = num_regions or int(spark.conf.get("spark.sql.shuffle.partitions"))

        def reduce_region(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            pairs: list[tuple[Any, Any]] = []
            for pdf in batches:  # one partition == one region; gather then sort
                pairs.extend(zip(pdf["key"], pdf["value"]))
            if pairs:
                pairs.sort(key=lambda t: (str(t[0]), repr(t[1])))
                yield _to_kv_frame(reducer.run_reduce(pairs))

        if partitioner == "reference":
            # BYTE-IDENTICAL region layout (VERDICT r11 missing #2): key →
            # region via the reference's arbitrary-precision hex-int hash,
            # region r routed to Spark partition r by an IDENTITY RDD
            # partitioner — region membership AND region→run_reduce
            # granularity match the reference exactly (a Spark column
            # repartition could hash two region ids into one partition and
            # merge their run_reduce calls). The RDD hop is confined to
            # this compat-exact path: region mode already holds a whole
            # region in one worker, so it is the documented non-scaling
            # topology either way.
            def reduce_region_rows(rows):
                pairs = sorted(
                    ((k, v) for _, (k, v) in rows),
                    key=lambda t: (str(t[0]), repr(t[1])),
                )
                return iter(reducer.run_reduce(pairs)) if pairs else iter([])

            reduced = (
                mapped.rdd.map(
                    lambda row: (
                        reference_partition_id(row["key"], n),
                        (row["key"], row["value"]),
                    )
                )
                .partitionBy(n, partitionFunc=lambda r: r)
                .mapPartitions(reduce_region_rows)
            )
            return spark.createDataFrame(reduced, schema=reduce_schema)
        return mapped.repartition(n, F.col("key")).mapInPandas(
            reduce_region, schema=reduce_schema
        )

    raise ValueError(f"unknown mode {mode!r}; use 'grouped' or 'region'")
