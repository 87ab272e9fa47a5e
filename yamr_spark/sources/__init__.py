"""Sources & sinks — SURVEY.md §2.1 (S1–S9) re-expressed Spark-first.

The reference's I/O surface: whole-chunk text scan (S1/S8), a JSON-array
``[key, value]`` format (S9), JSON result files (S6) and a result scan
that merges + renders them (S7). Everything else in §2.1 (script fetch,
shuffle spill files, RPC fetch) is Spark-internal and intentionally has
no analogue here.

Scale notes: every reader returns a lazy DataFrame rooted at a
splittable file scan, so partition count follows
``spark.sql.files.maxPartitionBytes`` — EXCEPT the wholetext/chunk
readers, which by definition yield one record per file and are only for
reference-fidelity jobs whose UDFs need the full chunk string (the
reference's run_map contract). Parquet is the default sink: columnar,
splittable, predicate-pushdown-able; the JSON sink exists for
reference-output fidelity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- S1/S8: text sources ----------------------------------------------------


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented text scan → DataFrame[value: string]. The idiomatic
    splittable form of the reference's corpus input (files ``alice`` /
    ``onegin``): Spark assigns line ranges to partitions, so one huge
    file still parallelizes."""
    return spark.read.text(path)


def read_text_chunks(spark: SparkSession, path: str) -> DataFrame:
    """Whole-file-per-record scan → DataFrame[chunk_path, data] — the
    reference's exact chunk semantics (fs.get_chunk delivers one opaque
    string, mapper.py:74-84). Not splittable by construction; use only
    when a compat job's run_map needs the entire chunk."""
    df = spark.read.format("text").option("wholetext", "true").load(path)
    return df.select(
        F.input_file_name().alias("chunk_path"), F.col("value").alias("data")
    )


# --- S9/F6: JSON-array [key, value] format ----------------------------------


def read_kv_json_array(
    spark: SparkSession, path: str, key_type: str = "string", value_type: str = "double"
) -> DataFrame:
    """Read the reference's job-input format: file body = ONE JSON array
    of [key, value] pairs (map_libs/temperature.json:1-2, parsed by
    json.loads at max_year_temp.py:19). Elements are parsed as strings
    first, then cast — so heterogeneous [int, float] pairs survive."""
    arr = "array<array<string>>"
    return (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(path)
        .select(F.explode(F.from_json("value", arr)).alias("pair"))
        .select(
            F.col("pair")[0].cast(key_type).alias("key"),
            F.col("pair")[1].cast(value_type).alias("value"),
        )
    )


# --- S6: result sink / S7: result scan + render -----------------------------


def write_result_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Result sink: key-value rows as JSON-lines files, one file per
    partition — the Spark-native shape of the reference's per-region
    result files (reducer.py:141-150)."""
    df.select("key", "value").write.mode(mode).json(path)


def read_result_json(
    spark: SparkSession, path: str, key_type: str = "string", value_type: str = "double"
) -> DataFrame:
    """Result scan (S7): read a result dir back as (key, value) rows —
    the yamr.py task_result path, minus the manual region merge (the
    multi-file read IS the merge)."""
    schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("value", T.StringType()),
        ]
    )
    df = spark.read.schema(schema).json(path)
    return df.select(
        F.col("key").cast(key_type).alias("key"),
        F.col("value").cast(value_type).alias("value"),
    )


def render_result(df: DataFrame) -> DataFrame:
    """C10: the client's ``"{key}: {value}"`` output lines
    (yamr.py:70-78) as a one-column DataFrame."""
    return df.select(
        F.concat_ws(": ", F.col("key").cast("string"), F.col("value").cast("string")).alias(
            "line"
        )
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV scan. Prefer an explicit DDL ``schema``: inference costs an
    extra full pass over the files and types drift run-to-run — at 100 TB
    the inference pass alone is the whole job."""
    reader = spark.read.option("header", str(header).lower()).option("sep", sep)
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


# --- binary / parquet -------------------------------------------------------


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Opaque-binary file source for multimodal payloads: one row per
    file with (path, modificationTime, length, content). Pairs with
    operators/multimodal.py; length/path predicates prune before content
    is read (the source skips content for filtered rows)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed EXTERNAL table over files at ``path`` (the caller owns
    it; nothing goes to the warehouse dir): rows hash-partitioned into
    ``buckets`` files per partition by ``bucket_cols`` at WRITE time.
    Two tables bucketed the same way join WITHOUT an exchange — the
    shuffle is paid once at ingest instead of per query, which is the
    whole game for a fact table joined daily at 100 TB. ``sort_cols``
    additionally pre-sorts each bucket so sort-merge join skips its sort.
    (Pinned by tests/test_plans.py::test_bucketed_join_has_no_exchange.)"""
    w = df.write.mode("overwrite").bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").option("path", path).saveAsTable(table_name)


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSONL sink (one JSON object per line — Spark's native json format;
    the interchange format of most public LLM-corpus releases). Newlines
    and unicode in values are JSON-escaped, so line-splitting stays
    correct on any content; splittable on read like any line format."""
    df.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSONL source with an EXPLICIT schema — at 100 TB schema inference
    would be a full pre-scan of the corpus; production always declares
    the schema (or samples once and pins the result)."""
    return spark.read.schema(schema).json(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Default sink: columnar, splittable, statistics for pushdown.
    ``partition_by`` gives directory-level partition pruning — the knob
    that turns a 100 TB scan into a per-partition read."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink with full quoting/escaping (header, quoted fields,
    escaped quotes) — the lowest-common-denominator interchange format.
    Multi-line values are quoted, so the file needs multiLine read
    support (see ``read_csv``); prefer JSONL/parquet when the consumer
    allows."""
    (
        df.write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .option("escape", '"')
        .csv(path)
    )


def read_csv_multiline(spark: SparkSession, path: str, schema) -> DataFrame:
    """CSV source with an EXPLICIT schema (inference = full pre-scan;
    production declares). multiLine handles quoted embedded newlines —
    note multiLine makes individual files non-splittable, which is the
    real 100 TB reason to keep corpora out of CSV. For plain
    newline-free CSV use ``read_csv`` (splittable, optional schema)."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(path)
    )


def write_sorted_store(
    df: DataFrame, path: str, col: str, n_files: int = 8
) -> None:
    """Range-layout writer: repartitionByRange + in-file sort on
    ``col``, so every output file covers a DISJOINT value range and
    parquet's min/max statistics make any ``col`` predicate skip whole
    files/row groups at read time. This is the data-layout half of
    data skipping (the read half is free: Spark pushes the predicate,
    parquet consults the stats) — at 100 TB the difference between a
    point lookup scanning one row group and scanning the store.
    Disjointness is pinned by tests/test_sources.py via pyarrow
    footer statistics."""
    (
        df.repartitionByRange(n_files, col)
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_key(c1, c2, bits: int = 16):
    """Morton/Z-order key: interleave the low ``bits`` bits of two
    non-negative integer columns. Sorting by this key clusters rows
    that are close in BOTH dimensions, so parquet min/max statistics
    prune on either column — the multi-column generalization of
    ``write_sorted_store`` (which optimizes exactly one column).
    Pure Column arithmetic (shift/mask fold), fully deterministic."""
    z = None
    for i in range(bits):
        b1 = F.shiftleft(F.shiftright(c1, i).bitwiseAND(F.lit(1)), 2 * i)
        b2 = F.shiftleft(F.shiftright(c2, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        term = b1 + b2
        z = term if z is None else z + term
    return z.cast("long")


def write_zorder_store(
    df: DataFrame, path: str, col1: str, col2: str, n_files: int = 8, bits: int = 16
) -> None:
    """Z-order-clustered store: range-partition + sort on the Morton
    key of (col1, col2), drop the key, write parquet. Each output file
    covers a bounded rectangle of the (col1, col2) plane, so filters
    on EITHER column skip most files via footer statistics — the
    lakehouse OPTIMIZE ZORDER BY recipe on plain parquet. Span
    reduction is pinned by tests/test_sources.py. Caveat (true of
    every ZORDER implementation): interleaving only balances
    dimensions of comparable bit-width — a much wider column's high
    bits dominate the sort and the narrow column degrades toward
    unclustered; normalize ranges (bucketize) before z-ordering."""
    keyed = df.withColumn(
        "__z", zorder_key(F.col(col1).cast("long"), F.col(col2).cast("long"), bits)
    )
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink — the other columnar interchange format (Hive/Trino
    ecosystems). Same scale properties as parquet: splittable, column
    pruning, predicate pushdown via stripe statistics."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (schema from file metadata — self-describing like
    parquet, so no inference pass)."""
    return spark.read.orc(path)
