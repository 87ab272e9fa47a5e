"""Reference-parity queries (SURVEY.md §2.2/§2.3, build plan §7.1–§7.2).

Each entry pairs the Spark operator with a DuckDB oracle over the same
parquet views. Column aliases match exactly on both sides.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from yamr_spark.functions import WORD_BREAK_RE
from yamr_spark.operators.keyvalue import combine_per_key, kv, max_per_key, sum_per_key
from yamr_spark.operators.temperature import max_value_per_year_ts
from yamr_spark.operators.wordcount import top_words, word_count
from yamr_spark.registry import register
from yamr_spark.tables import table


@register(
    "word_count",
    oracle=f"""
    SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (
      SELECT unnest(regexp_split_to_array(lower(text), '{WORD_BREAK_RE}')) AS word
      FROM documents
    ) t
    WHERE length(word) > 0
    GROUP BY word
    """,
)
def q_word_count(spark, sf_dir):
    """C1–C5/F1–F5: the reference's flagship word-count job
    (map_libs/word_count.py) as scan→explode→filter→hash-agg."""
    return word_count(table(spark, sf_dir, "documents"))


@register(
    "top_words",
    oracle=f"""
    SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (
      SELECT unnest(regexp_split_to_array(lower(text), '{WORD_BREAK_RE}')) AS word
      FROM documents
    ) t
    WHERE length(word) > 0
    GROUP BY word
    ORDER BY cnt DESC, word
    LIMIT 20
    """,
)
def q_top_words(spark, sf_dir):
    """C10 + top-k: global top-20 words (TakeOrderedAndProject — per-
    partition heaps, no global sort)."""
    return top_words(table(spark, sf_dir, "documents"), k=20)


@register(
    "max_value_per_year",
    oracle="""
    SELECT CAST(EXTRACT(year FROM ts) AS BIGINT) AS year,
           MAX(value) AS max_value
    FROM events
    GROUP BY 1
    """,
)
def q_max_value_per_year(spark, sf_dir):
    """C6/F7: the max-year-temp job (map_libs/max_year_temp.py) on the
    events table — max(value) per year(ts)."""
    return max_value_per_year_ts(table(spark, sf_dir, "events"))


@register(
    "sum_per_key",
    oracle="""
    SELECT l_returnflag AS key, SUM(l_quantity) AS value
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_sum_per_key(spark, sf_dir):
    """C5 on the generic kv projection: lineitem (l_returnflag,
    l_quantity) per FIXTURES.md §4. l_quantity is integral so the
    double sum is exact under any aggregation order."""
    return sum_per_key(kv(table(spark, sf_dir, "lineitem"), "l_returnflag", "l_quantity"))


@register(
    "max_per_key",
    oracle="""
    SELECT l_returnflag AS key, MAX(l_extendedprice) AS value
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_max_per_key(spark, sf_dir):
    """C6 on the generic kv projection (order-insensitive, FP-exact)."""
    return max_per_key(kv(table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"))


@register(
    "combine_per_key",
    oracle="""
    SELECT CAST(l_orderkey AS BIGINT) AS key,
           string_agg(CAST(l_linenumber AS VARCHAR), ','
                      ORDER BY CAST(l_linenumber AS VARCHAR)) AS values_csv
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def q_combine_per_key(spark, sf_dir):
    """C4: ``combine_data`` grouping (word_count.py:37-59) — all values
    collected under their key. Rendered as a sorted CSV string so the
    array content is hash-comparable across engines."""
    grouped = combine_per_key(
        kv(table(spark, sf_dir, "lineitem"), "l_orderkey", "l_linenumber").select(
            "key", F.col("value").cast("string").alias("value")
        )
    )
    return grouped.select("key", F.concat_ws(",", "values").alias("values_csv"))


@register(
    "kv_json_render",
    oracle="""
    SELECT '["' || l_returnflag || '","' ||
           CAST(CAST(SUM(l_quantity) AS BIGINT) AS VARCHAR) || '"]' AS kv_json
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_kv_json_render(spark, sf_dir):
    """F9/S6: the reference's result-file rendering — each reduced (key,
    value) pair serialized as a JSON array string (mapper.py:152-155,
    reducer.py:146)."""
    summed = sum_per_key(kv(table(spark, sf_dir, "lineitem"), "l_returnflag", "l_quantity"))
    return summed.select(
        F.to_json(
            F.array(F.col("key"), F.col("value").cast("long").cast("string"))
        ).alias("kv_json")
    )


@register(
    "union_mapper_outputs",
    oracle="""
    SELECT key, CAST(SUM(value) AS BIGINT) AS value
    FROM (
      SELECT l_returnflag AS key, CAST(l_linenumber AS BIGINT) AS value FROM lineitem
      UNION ALL
      SELECT o_orderstatus AS key, CAST(1 AS BIGINT) AS value FROM orders
    ) t
    GROUP BY key
    """,
)
def q_union_mapper_outputs(spark, sf_dir):
    """C9: the reducer-side gather of multiple mapper outputs
    (reducer.py:98-111) — explicit unionAll of two (key, value) sources
    feeding one aggregation."""
    a = kv(table(spark, sf_dir, "lineitem"), "l_returnflag", "l_linenumber").select(
        "key", F.col("value").cast("long").alias("value")
    )
    b = table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("key"), F.lit(1).cast("long").alias("value")
    )
    return a.unionAll(b).groupBy("key").agg(F.sum("value").cast("long").alias("value"))


@register(
    "jsonl_roundtrip_stats",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM documents GROUP BY lang
    """,
)
def q_jsonl_roundtrip_stats(spark, sf_dir):
    """JSONL sink → source round-trip fidelity: write the documents table
    as line-delimited JSON (the interchange format of public LLM-corpus
    releases), read it back with an explicit schema, and aggregate. The
    oracle runs on the ORIGINAL parquet, so any row loss, encoding
    damage, or type drift through the JSONL hop fails the hash."""
    import os

    from yamr_spark.sources import read_jsonl, write_jsonl
    from yamr_spark.tmpdirs import session_dir

    docs = table(spark, sf_dir, "documents")
    out = os.path.join(session_dir(f"jsonl:{sf_dir}", "yamr_jsonl_"), "docs")
    write_jsonl(docs, out)
    back = read_jsonl(spark, out, docs.schema)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@register(
    "jsonl_corrupt_handling",
    oracle="""
    SELECT CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrupt,
           CAST(SUM(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_good,
           CAST(SUM(CASE WHEN doc_id % 10 <> 0 THEN n_chars ELSE 0 END) AS BIGINT)
             AS good_chars
    FROM documents
    """,
)
def q_jsonl_corrupt_handling(spark, sf_dir):
    """Malformed-input robustness — the ingestion reality of web-scale
    corpora: a JSONL file where every 10th document's line is truncated
    mid-object is read back in PERMISSIVE mode with a _corrupt_record
    column; good rows parse, bad rows are counted instead of killing the
    job (FAILFAST is one option away). Corruption is deterministic
    (doc_id % 10), so the oracle predicts exactly which rows survive."""
    import os

    from pyspark.sql import types as T

    from yamr_spark.tmpdirs import session_dir

    docs = table(spark, sf_dir, "documents")
    line = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string"), F.lit(", BROKEN")),
    ).otherwise(F.to_json(F.struct("doc_id", "n_chars")))
    out = os.path.join(session_dir(f"jsonl_corrupt:{sf_dir}", "yamr_jsonlc_"), "docs")
    docs.select(line.alias("value")).write.mode("overwrite").text(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.sum(bad.cast("long")).alias("n_corrupt"),
        F.sum((~bad).cast("long")).alias("n_good"),
        F.sum(F.when(~bad, F.col("n_chars")).otherwise(0)).alias("good_chars"),
    )


@register(
    "csv_roundtrip_stats",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM documents GROUP BY lang
    """,
)
def q_csv_roundtrip_stats(spark, sf_dir):
    """CSV sink → source round-trip fidelity (full quoting, embedded
    newlines via multiLine): same contract as the JSONL round-trip —
    the oracle runs on the ORIGINAL parquet, so any row loss, quoting
    damage, or type drift through the CSV hop fails the hash."""
    import os

    from yamr_spark.sources import read_csv_multiline, write_csv
    from yamr_spark.tmpdirs import session_dir

    docs = table(spark, sf_dir, "documents")
    out = os.path.join(session_dir(f"csv:{sf_dir}", "yamr_csv_"), "docs")
    write_csv(docs, out)
    back = read_csv_multiline(spark, out, docs.schema)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@register(
    "synthetic_source_stats",
    oracle="""
    WITH rows AS (
      SELECT r AS row_id, CAST(r // 100 AS INTEGER) AS part,
             ('0x' || substr(md5('syn|' || CAST(r AS VARCHAR)), 1, 15))::BIGINT AS doc_hash
      FROM (SELECT unnest(range(800)) AS r)
    )
    SELECT part,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(doc_hash) AS min_hash,
           ROUND(SUM((doc_hash % 1000000) / 1000000.0), 6) AS value_sum
    FROM rows
    GROUP BY part
    """,
)
def q_synthetic_source_stats(spark, sf_dir):
    """Custom Python DataSource under the hash gate: the yamr_synthetic
    connector plans 8 InputPartitions, each executor generates its
    shard from md5-derived row functions, and the per-partition rollup
    must match DuckDB replaying the same generator arithmetic — the
    connector's partition planning, option plumbing, and row emission
    are all on the hashed path. (sf_dir is unused: the source IS the
    data.)"""
    from yamr_spark.sources.synthetic import SyntheticCorpusDataSource

    try:
        spark.dataSource.register(SyntheticCorpusDataSource)
    except Exception:
        pass  # already registered in this session
    df = (
        spark.read.format("yamr_synthetic")
        .option("parts", 8)
        .option("rows_per_part", 100)
        .load()
    )
    return df.groupBy("part").agg(
        F.count("*").alias("n_rows"),
        F.min("doc_hash").alias("min_hash"),
        F.round(F.sum("value"), 6).alias("value_sum"),
    )


@register(
    "observed_gate_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_in,
           CAST(SUM(CASE WHEN n_chars >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(CASE WHEN n_chars >= 30 THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_pass
    FROM documents
    """,
)
def q_observed_gate_metrics(spark, sf_dir):
    """Pipeline observability via the Observation API: metrics ride the
    SAME job as the data pass (named accumulators evaluated inline — no
    second scan, which at 100 TB is the whole point vs a separate
    count query). The observed gate counters are deterministic
    aggregates, so even the metrics side-channel sits under the
    content hash."""
    from pyspark.sql import Observation

    docs = table(spark, sf_dir, "documents")
    obs = Observation("quality_gate")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_in"),
        F.sum(F.when(F.col("n_chars") >= 30, 1).otherwise(0)).alias("n_pass"),
        F.sum(F.when(F.col("n_chars") >= 30, F.col("n_chars")).otherwise(0)).alias(
            "chars_pass"
        ),
    )
    observed.where(F.col("n_chars") >= 30).count()  # the data pass
    m = obs.get
    return spark.createDataFrame(
        [(m["n_in"], m["n_pass"], m["chars_pass"])],
        "n_in bigint, n_pass bigint, chars_pass bigint",
    )


@register(
    "sql_view_pipeline",
    oracle="""
    WITH gated AS (
      SELECT doc_id, lang, n_chars, sha256(text) AS text_hash
      FROM documents WHERE n_chars >= 30
    ),
    deduped AS (
      SELECT lang, text_hash, MIN(doc_id) AS keep_id
      FROM gated GROUP BY lang, text_hash
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM deduped GROUP BY lang
    """,
)
def q_sql_view_pipeline(spark, sf_dir):
    """The pure-SQL user path: a temp-view chain (gate → dedup →
    report) executed entirely through spark.sql — the same Catalyst
    plan the DataFrame API builds, exercised via the SQL front door a
    migrating reference user would actually type. Views are lazy;
    Catalyst fuses the whole chain into one DAG (no materialization
    between steps)."""
    table(spark, sf_dir, "documents").createOrReplaceTempView("sqlp_docs")
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW sqlp_gated AS
        SELECT doc_id, lang, n_chars, sha2(text, 256) AS text_hash
        FROM sqlp_docs WHERE n_chars >= 30
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW sqlp_deduped AS
        SELECT lang, text_hash, MIN(doc_id) AS keep_id
        FROM sqlp_gated GROUP BY lang, text_hash
        """
    )
    return spark.sql(
        "SELECT lang, COUNT(*) AS n_kept FROM sqlp_deduped GROUP BY lang"
    )


@register(
    "schema_evolution_stats",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_quality,
           CAST(SUM(CASE WHEN doc_id % 2 = 1
                         THEN CAST(n_chars % 97 AS BIGINT) ELSE 0 END) AS BIGINT)
             AS quality_sum
    FROM documents
    GROUP BY lang
    """,
)
def q_schema_evolution_stats(spark, sf_dir):
    """Schema evolution on a long-lived store: generation 1 (even docs)
    was written WITHOUT the ``quality`` column, generation 2 (odd docs)
    WITH it. A mergeSchema read reconciles the footers — old rows
    surface NULL quality — and the rollup proves no row or value is
    lost across the schema boundary. The 100 TB reality this covers:
    a corpus store accretes columns over months, and readers must not
    need a rewrite of old generations (mergeSchema costs footer reads
    only, so production pins the merged schema once and passes it
    explicitly thereafter)."""
    from yamr_spark.tmpdirs import session_store

    docs = table(spark, sf_dir, "documents")

    def build(store):
        g1 = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "n_chars")
        g1.write.mode("overwrite").parquet(store)
        g2 = docs.where(F.col("doc_id") % 2 == 1).select(
            "doc_id",
            "lang",
            "n_chars",
            (F.col("n_chars") % 97).cast("long").alias("quality"),
        )
        g2.write.mode("append").parquet(store)

    store = session_store(f"schema_evo:{sf_dir}", build)
    merged = spark.read.option("mergeSchema", "true").parquet(store)
    return merged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("quality").isNotNull().cast("long")).alias("n_with_quality"),
        F.sum(F.coalesce(F.col("quality"), F.lit(0))).alias("quality_sum"),
    )


@register(
    "zorder_store_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events
    WHERE user_id % 16 < 4 AND event_id % 16 < 4
    GROUP BY event_type
    """,
)
def q_zorder_store_stats(spark, sf_dir):
    """Z-order-clustered store end-to-end: events written clustered on
    the Morton key of two bucketized dimensions, read back under a
    rectangle predicate on both — each file covers a bounded rectangle
    of the plane, so either predicate alone prunes via footer stats
    (span reduction pinned by unit test); the rollup proves the
    clustered rewrite lost nothing."""
    from yamr_spark.sources import write_zorder_store
    from yamr_spark.tmpdirs import session_store

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.pmod("user_id", F.lit(16)).cast("long").alias("u4"),
        F.pmod("event_id", F.lit(16)).cast("long").alias("e4"),
    )
    store = session_store(
        f"zorder:{sf_dir}",
        lambda p: write_zorder_store(ev, p, "u4", "e4", n_files=16, bits=4),
    )
    back = spark.read.parquet(store)
    return (
        back.where((F.col("u4") < 4) & (F.col("e4") < 4))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("event_id").alias("id_sum"),
        )
    )


@register(
    "orc_roundtrip_stats",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM documents GROUP BY lang
    """,
)
def q_orc_roundtrip_stats(spark, sf_dir):
    """ORC sink → source round-trip fidelity (the third interchange
    format after JSONL/CSV): the oracle runs on the ORIGINAL parquet,
    so any row loss or type drift through the ORC hop fails the hash."""
    import os

    from yamr_spark.sources import read_orc, write_orc
    from yamr_spark.tmpdirs import session_dir

    docs = table(spark, sf_dir, "documents")
    out = os.path.join(session_dir(f"orc:{sf_dir}", "yamr_orc_"), "docs")
    write_orc(docs, out)
    back = read_orc(spark, out)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@register(
    "sorted_store_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events
    WHERE user_id BETWEEN 10 AND 20
    GROUP BY event_type
    """,
)
def q_sorted_store_stats(spark, sf_dir):
    """Range-layout store end-to-end: events rewritten with
    write_sorted_store (disjoint per-file user_id ranges — pinned by
    unit test via pyarrow footer stats), read back under a range
    predicate that parquet row-group statistics can skip on; the
    rollup proves the clustered rewrite lost nothing."""
    from yamr_spark.sources import write_sorted_store
    from yamr_spark.tmpdirs import session_store

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    store = session_store(
        f"sorted_store:{sf_dir}",
        lambda p: write_sorted_store(ev, p, "user_id", n_files=8),
    )
    back = spark.read.parquet(store)
    return (
        back.where(F.col("user_id").between(10, 20))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"), F.sum("event_id").alias("id_sum"))
    )
