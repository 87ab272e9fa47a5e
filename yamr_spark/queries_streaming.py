"""Windowed / streaming queries over the events table (SURVEY.md §7.5).

The reference has no streaming (its heartbeats are control-plane liveness,
worker.py:31-37 — see SURVEY.md §2.4); these are the north-star event-time
operators, built on Structured Streaming semantics. Each windowed shape is
registered twice where possible:

- a BATCH form (``window_*``) — the same ``F.window`` logical plan Catalyst
  uses for streams, checked against a DuckDB oracle;
- a STREAMING form (``streaming_*``) — the identical plan executed through
  ``readStream`` + watermark + availableNow trigger and drained to a memory
  sink, checked against the SAME oracle. That makes the stream path itself
  part of the correctness gate, not just the batch twin.

Scale notes: watermark(``2 hours``) bounds state to O(open windows × keys);
tumbling/sliding windows are a single hash-aggregate shuffle keyed on
(window, key) — partial aggregation happens map-side, so wire volume is
proportional to distinct (window, key) pairs, not events. value sums go
through decimal(18,3) so results are aggregation-order-independent and
hash-comparable across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from yamr_spark.registry import register
from yamr_spark.streaming.events import (
    run_stream_to_memory,
    run_stream_to_parquet,
    session_user_windows,
    sliding_user_activity,
    stream_events,
    streaming_tumbling_counts,
    tumbling_event_counts,
)
from yamr_spark.tables import table

_TUMBLING_ORACLE = """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS event_cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY 1, 2
"""


@register("window_tumbling_counts", oracle=_TUMBLING_ORACLE)
def q_window_tumbling(spark, sf_dir):
    """Tumbling 1h event-time windows, batch plan (same logical plan the
    streaming form runs)."""
    return tumbling_event_counts(table(spark, sf_dir, "events"), width="1 hour")


@register("streaming_tumbling_counts", oracle=_TUMBLING_ORACLE)
def q_streaming_tumbling(spark, sf_dir):
    """The SAME tumbling aggregation executed as a Structured Streaming
    query: file-source readStream → watermark('ts', 2h) → window agg →
    memory sink, availableNow trigger. Must match the batch oracle."""
    sdf = streaming_tumbling_counts(spark, sf_dir, width="1 hour", delay="2 hours")
    return run_stream_to_memory(spark, sdf, "streaming_tumbling_counts")


@register(
    "window_sliding_activity",
    oracle="""
    SELECT window_start, user_id, CAST(COUNT(*) AS BIGINT) AS event_cnt
    FROM (
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start, user_id
      FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) AS window_start, user_id
      FROM events
    ) t
    GROUP BY 1, 2
    """,
)
def q_window_sliding(spark, sf_dir):
    """Sliding 2h windows advancing 1h: every event contributes to exactly
    two windows (oracle enumerates both starts explicitly)."""
    return sliding_user_activity(table(spark, sf_dir, "events"), "2 hours", "1 hour")


@register(
    "window_session_user",
    oracle="""
    SELECT MIN(ts) AS session_start, user_id, CAST(COUNT(*) AS BIGINT) AS event_cnt
    FROM (
      SELECT user_id, ts,
             SUM(CASE WHEN prev_ts IS NULL
                        OR ts - prev_ts > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts) AS sess
      FROM (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events
      ) a
    ) b
    GROUP BY user_id, sess
    """,
)
def q_window_session(spark, sf_dir):
    """Session windows (30 min inactivity gap) per user — F.session_window;
    the oracle is the classic gaps-and-islands rewrite."""
    return session_user_windows(table(spark, sf_dir, "events"), gap="30 minutes")


@register(
    "streaming_user_stats",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS event_cnt,
           ROUND(SUM(value), 6) AS value_sum
    FROM events
    GROUP BY user_id
    """,
)
def q_streaming_user_stats(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user running
    counters through the streaming state store, final state checked
    against the batch GROUP BY oracle."""
    from yamr_spark.streaming.stateful import streaming_user_stats

    return streaming_user_stats(spark, sf_dir)


@register(
    "streaming_click_purchase_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, c.click_id, c.ts AS ts_r
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT event_id AS click_id, user_id, ts FROM events
          WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND epoch(c.ts) >= epoch(p.ts) - 3600
     AND epoch(c.ts) <= epoch(p.ts)
    """,
)
def q_streaming_click_purchase_join(spark, sf_dir):
    """Stream-stream inner join (purchases ⋈ clicks within 1h, both
    watermarked) — same oracle as the batch range join, so the streaming
    join path itself is value-checked."""
    from yamr_spark.streaming.joins import streaming_click_purchase_join

    return streaming_click_purchase_join(spark, sf_dir)


@register(
    "streaming_dedup_events",
    oracle="""
    SELECT event_id, MIN(event_type) AS event_type, MIN(value) AS value
    FROM events
    GROUP BY event_id
    """,
)
def q_streaming_dedup_events(spark, sf_dir):
    """Streaming exact dedup (dropDuplicatesWithinWatermark on event_id);
    the fixture's event_ids are unique, so the oracle reduces to one row
    per id — what matters under test is the bounded-state dedup path."""
    from yamr_spark.streaming.stateful import streaming_dedup_events

    return streaming_dedup_events(spark, sf_dir)


@register(
    "streaming_parquet_sink",
    oracle="""
    SELECT event_id, MIN(event_type) AS event_type, MIN(value) AS value
    FROM events
    GROUP BY event_id
    """,
)
def q_streaming_parquet_sink(spark, sf_dir):
    """The PRODUCTION-shaped sink path: watermarked streaming dedup →
    parquet sink with a checkpoint, then the stream is RESTARTED against
    the same checkpoint (a no-op batch — file-source offsets are already
    committed) and the sink directory is read back. The oracle match
    therefore proves both the append-sink output and exactly-once restart
    semantics: a duplicated batch would double rows and fail the hash.
    Dedup (not windowed agg) is the stateful op here because append-mode
    window aggregates hold final windows back behind the watermark; dedup
    emits every first-seen row immediately, so the sink is complete when
    availableNow drains."""
    import os

    from yamr_spark.tmpdirs import session_dir

    # per-process sink+checkpoint, cleaned at exit; re-invocation against
    # the committed checkpoint is a no-op batch (exactly-once), so reuse
    # preserves the oracle match — and exercises restart idempotence again
    base = session_dir(f"stream_sink:{sf_dir}", "yamr_stream_sink_")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")

    def deduped():
        return (
            stream_events(spark, sf_dir)
            .withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "event_type", "value")
        )

    run_stream_to_parquet(deduped(), out, ckpt)
    run_stream_to_parquet(deduped(), out, ckpt)  # restart: must not duplicate
    return spark.read.parquet(out)


@register(
    "streaming_enrich_dim",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name AS c_name,
           c.c_mktsegment AS mktsegment, e.value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    """,
)
def q_streaming_enrich_dim(spark, sf_dir):
    """Stream-static join — the production enrichment shape: an unbounded
    event stream joined to a broadcast dimension snapshot. No watermark
    needed (the static side never changes mid-batch); each micro-batch is
    a map-side broadcast hash join, zero streaming state."""
    sdf = stream_events(spark, sf_dir).select("event_id", "user_id", "value")
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        "c_name",
        F.col("c_mktsegment").alias("mktsegment"),
    )
    joined = sdf.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "c_name", "mktsegment", "value"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("streaming_enrich_dim")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("streaming_enrich_dim")


@register(
    "streaming_event_passthrough",
    oracle="SELECT event_id, event_type, value FROM events WHERE value > 0.5",
)
def q_streaming_passthrough(spark, sf_dir):
    """Stateless streaming ETL: readStream → filter + projection → append
    sink. Deterministic (no state, no watermark drops under availableNow),
    so the batch filter IS the oracle — the stream execution path itself
    sits under the content hash."""
    sdf = (
        stream_events(spark, sf_dir)
        .where("value > 0.5")
        .selectExpr("event_id", "event_type", "value")
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("streaming_event_passthrough")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("streaming_event_passthrough")


@register(
    "streaming_upsert_latest",
    oracle="""
    SELECT user_id, event_id, event_type, value FROM (
      SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) t WHERE rn = 1
    """,
)
def q_streaming_upsert_latest(spark, sf_dir):
    """MERGE-INTO over an append-only engine: foreachBatch keyed upsert.
    Each micro-batch merges into a hash-bucketed parquet store (read old
    bucket ∪ batch slice → keep latest per key → one ``dircommit`` commit;
    untouched buckets never touched). The stream is run TWICE against
    the same checkpoint — the second run is a no-op batch — and the
    store must equal the batch keep-latest oracle, proving both merge
    correctness and restart idempotence. The keep-latest rule is
    associative, so per-batch incremental application equals the
    one-shot result the oracle computes."""
    import os

    from yamr_spark.streaming.upsert import read_store, stream_upsert_to_store
    from yamr_spark.tmpdirs import session_dir

    base = session_dir(f"stream_upsert:{sf_dir}", "yamr_stream_upsert_")
    store, ckpt = os.path.join(base, "store"), os.path.join(base, "ckpt")
    sdf = stream_events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    stream_upsert_to_store(sdf, store, ckpt)
    stream_upsert_to_store(
        stream_events(spark, sf_dir).select(
            "user_id", "event_id", "event_type", "value", "ts"
        ),
        store,
        ckpt,
    )  # restart against the committed checkpoint: must not change the store
    return read_store(spark, store).select(
        "user_id", "event_id", "event_type", "value"
    )


@register(
    "streaming_session_windows",
    oracle="""
    SELECT MIN(ts) AS session_start, user_id, CAST(COUNT(*) AS BIGINT) AS event_cnt
    FROM (
      SELECT user_id, ts,
             SUM(CASE WHEN prev_ts IS NULL
                        OR ts - prev_ts > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts) AS sess
      FROM (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events
      ) a
    ) b
    GROUP BY user_id, sess
    """,
)
def q_streaming_session_windows(spark, sf_dir):
    """The SAME session-window aggregation executed as a Structured
    Streaming query: session_window is the one window type whose
    streaming state MERGES (sessions extend/coalesce as events arrive),
    so this pins the merging-state code path, not just the batch plan.
    Watermark + complete-mode memory sink under availableNow; must
    match the batch gaps-and-islands oracle exactly."""
    sdf = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("event_cnt"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "user_id",
            "event_cnt",
        )
    )
    return run_stream_to_memory(spark, sdf, "streaming_session_windows")


@register(
    "snapshot_time_travel",
    oracle="""
    WITH half1 AS (
      SELECT user_id, event_id, value FROM (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-01-16'
      ) t WHERE rn = 1
    ),
    allrows AS (
      SELECT user_id, event_id, value FROM (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) t WHERE rn = 1
    )
    SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS value_sum
    FROM half1
    UNION ALL
    SELECT 2 AS version, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS value_sum
    FROM allrows
    """,
)
def q_snapshot_time_travel(spark, sf_dir):
    """Snapshot isolation + time travel under the content hash: commit 1
    merges the first half-month of events (keep-latest per user),
    commit 2 merges the rest; reading snapshot v1 AFTER v2 committed
    must still equal the half-month keep-latest, and v2 the full
    keep-latest — any in-place mutation of shared bucket versions
    breaks the v1 hash. Immutable bucket versions + manifest pointers
    (operators/snapshots.py), the Iceberg/Delta core on plain parquet."""
    from yamr_spark.operators.snapshots import (
        commit_merge,
        create_table,
        read_snapshot,
    )
    from yamr_spark.tmpdirs import session_store

    def build(t):
        # both commits before session_store's marker: a crash between
        # them rebuilds instead of serving a half-built v2
        create_table(t)
        ev = table(spark, sf_dir, "events").select(
            "user_id", "event_id", "value", "ts"
        )
        commit_merge(
            ev.where(F.col("ts") < "2024-01-16"),
            t, key="user_id", order="ts", tie="event_id",
        )
        commit_merge(
            ev.where(F.col("ts") >= "2024-01-16"),
            t, key="user_id", order="ts", tie="event_id",
        )

    t = session_store(f"snap_table:{sf_dir}", build)

    def rollup(version):
        return (
            read_snapshot(spark, t, version)
            .agg(
                F.count("*").alias("n_keys"),
                F.sum(F.col("value").cast("decimal(18,3)"))
                .cast("double")
                .alias("value_sum"),
            )
            .select(F.lit(version).alias("version"), "n_keys", "value_sum")
        )

    return rollup(1).unionAll(rollup(2))


def _stream_service(spark, sf_dir, key, build_index, drain, read):
    """The streaming dedup services' shared shape: even doc_ids seed the
    standing index (``build_index``); odd docs are staged as two
    micro-batch files (doc_id%4==1 then %4==3). Index and staged files
    are one session store; ``drain`` is ALWAYS invoked against it, and
    its results/checkpoint live under the store too, so a rebuild
    after a crashed setup clears them. ``read`` serves the results."""
    import os

    from yamr_spark.streaming.lsh import stage_stream_files
    from yamr_spark.tmpdirs import session_store

    docs = table(spark, sf_dir, "documents")

    def build(base):
        build_index(
            docs.where(F.col("doc_id") % 2 == 0), os.path.join(base, "index")
        )
        stage_stream_files(
            docs,
            os.path.join(base, "stream"),
            [F.col("doc_id") % 4 == 1, F.col("doc_id") % 4 == 3],
        )

    base = session_store(f"{key}:{sf_dir}", build)
    results = os.path.join(base, "results")
    drain(
        spark, os.path.join(base, "stream"), docs.schema,
        os.path.join(base, "index"), results, os.path.join(base, "ckpt"),
    )
    return read(spark, results)


@register(
    "streaming_lsh_incremental",
    oracle=None,  # set below: needs the bands CTE from queries_dedup
)
def q_streaming_lsh_incremental(spark, sf_dir):
    """Online near-dup detection: an LSH dedup SERVICE over an arriving
    document stream. Even doc_ids seed the standing banded-signature
    index; odd docs arrive in two deterministic micro-batches
    (doc_id%4==1 then %4==3, one file per trigger). Each batch is
    flagged against STRICTLY EARLIER state, then its bands join the
    index — so batch 2 can match batch 1's docs, which is the
    incremental property the oracle replays in closed form (batch k
    matches index0 ∪ batches < k). Setup (seed index + staged files)
    is guarded by a completion marker; the stream drain is ALWAYS
    invoked — availableNow + checkpoint makes it a no-op when fully
    drained, and resumes the remaining batches if a prior attempt in
    this session crashed mid-stream (ADVICE r05: a checkpoint-dir
    existence guard would silently return partial results there)."""
    from yamr_spark.streaming.lsh import (
        build_band_index,
        read_flagged,
        stream_lsh_into_index,
    )

    return _stream_service(
        spark, sf_dir, "stream_lsh",
        build_band_index, stream_lsh_into_index, read_flagged,
    )


from yamr_spark.queries_dedup import _BANDS_CTE as _LSH_BANDS_CTE  # noqa: E402
from yamr_spark.registry import ORACLES as _ORACLES  # noqa: E402

_ORACLES["streaming_lsh_incremental"] = f"""
    WITH {_LSH_BANDS_CTE}
    SELECT DISTINCT s.doc_id AS stream_doc, i.doc_id AS index_doc
    FROM bands s JOIN bands i ON s.band_id = i.band_id AND s.bh = i.bh
    WHERE (s.doc_id % 4 = 1 AND i.doc_id % 2 = 0)
       OR (s.doc_id % 4 = 3 AND (i.doc_id % 2 = 0 OR i.doc_id % 4 = 1))
"""


@register(
    "cdc_latest_state",
    oracle="""
    SELECT user_id, event_id, value FROM (
      SELECT user_id, event_id, value, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) t WHERE rn = 1
      AND (event_type IS NULL OR event_type != 'error')
    """,
)
def q_cdc_latest_state(spark, sf_dir):
    """CDC apply with DELETE tombstones: the event stream is read as a
    change log (event_type 'error' = delete, anything else = upsert);
    the final state is one keep-latest window with the tombstone rule —
    a key whose LATEST change is a delete disappears. Same associative
    merge rule the bucketed store persists (tombstones retained so late
    older updates can't resurrect deleted keys — test-pinned in
    test_cdc_tombstone_delete_survives_late_update)."""
    from yamr_spark.streaming.upsert import keep_latest

    # NULL event_type → NULL deleted → keep_latest coalesces to "not a
    # delete"; the oracle mirrors with (event_type IS NULL OR != 'error')
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        "ts",
        (F.col("event_type") == "error").alias("deleted"),
    )
    return keep_latest(
        ev, key="user_id", order="ts", tie="event_id", tombstone_col="deleted"
    ).select("user_id", "event_id", "value")


@register(
    "streaming_windowed_topk",
    oracle="""
    WITH counts AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS event_cnt
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, event_cnt, rnk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY window_start
                                        ORDER BY event_cnt DESC, event_type)
                     AS BIGINT) AS rnk
      FROM counts
    ) t WHERE rnk <= 2
    """,
)
def q_streaming_windowed_topk(spark, sf_dir):
    """Trending-now: top-2 event types per hourly window, SERVED off
    the streaming aggregate — the stream (watermarked windowed counts,
    availableNow) drains into the memory sink, and the rank runs as a
    batch window over that window-cardinality-sized serving table (the
    stream→serve split: ranking inside the stream would need complete
    mode and unbounded state; ranking the sink costs one bounded
    window). Same oracle as the closed-form batch computation."""
    from pyspark.sql import Window

    sdf = streaming_tumbling_counts(spark, sf_dir, width="1 hour", delay="2 hours")
    drained = run_stream_to_memory(spark, sdf, "streaming_windowed_topk_src")
    w = Window.partitionBy("window_start").orderBy(
        F.col("event_cnt").desc(), "event_type"
    )
    return (
        drained.select("window_start", "event_type", "event_cnt")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 2)
    )


@register(
    "streaming_cms_frequency",
    oracle="""
    WITH vals AS (
      SELECT user_id, CAST(user_id AS VARCHAR) AS k
      FROM events WHERE user_id IS NOT NULL
    ),
    depths AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(i)),
    sketch AS (
      SELECT i,
             ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || k), 1, 15))::BIGINT
               % 256 AS bucket,
             COUNT(*) AS cnt
      FROM vals CROSS JOIN depths
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT DISTINCT user_id, k FROM vals ORDER BY user_id LIMIT 10
    ),
    exact AS (
      SELECT v.user_id, COUNT(*) AS exact_cnt
      FROM vals v JOIN probes p USING (user_id) GROUP BY v.user_id
    ),
    est AS (
      SELECT p.user_id, MIN(s.cnt) AS cms_est
      FROM probes p CROSS JOIN depths d
      JOIN sketch s
        ON s.i = d.i
       AND s.bucket = ('0x' || substr(md5(CAST(d.i AS VARCHAR) || ':' || p.k),
                                      1, 15))::BIGINT % 256
      GROUP BY p.user_id
    )
    SELECT e.user_id, e.exact_cnt, m.cms_est,
           m.cms_est >= e.exact_cnt AS never_underestimates
    FROM exact e JOIN est m USING (user_id)
    """,
)
def q_streaming_cms_frequency(spark, sf_dir):
    """The CMS sketch MAINTAINED BY A STREAM: micro-batches write
    bounded per-batch cell deltas (one batch_id partition each, dynamic
    overwrite => replay-idempotent), the served sketch is their
    cell-wise sum. The stream runs TWICE against the same checkpoint —
    the restart must be a no-op — and the summed store must equal the
    one-shot batch sketch the oracle computes, because cell addition
    commutes: the same mergeability that makes CMS shard-parallel at
    100 TB makes it streamable. Identical probe/exact/invariant frame
    as the batch cms_user_frequency query."""
    import os

    from yamr_spark.operators.text import cms_estimates
    from yamr_spark.streaming.cms import read_cms_store, stream_cms_to_store
    from yamr_spark.tmpdirs import session_dir

    base = session_dir(f"stream_cms:{sf_dir}", "yamr_stream_cms_")
    store, ckpt = os.path.join(base, "store"), os.path.join(base, "ckpt")
    stream_cms_to_store(stream_events(spark, sf_dir), "user_id", store, ckpt)
    # restart against the committed checkpoint: must not change the store
    stream_cms_to_store(stream_events(spark, sf_dir), "user_id", store, ckpt)
    sketch = read_cms_store(spark, store)

    ev = table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    probes = ev.select("user_id").distinct().orderBy("user_id").limit(10)
    exact = (
        ev.join(F.broadcast(probes), "user_id")
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_cnt"))
    )
    est = cms_estimates(sketch, probes, "user_id")
    return exact.join(est, "user_id").select(
        "user_id",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_cnt")).alias("never_underestimates"),
    )


@register(
    "streaming_kmv_distinct",
    oracle="""
    WITH hashes AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events WHERE user_id IS NOT NULL
    ),
    bottom AS (SELECT h FROM hashes ORDER BY h LIMIT 64)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hashes,
           MAX(h) AS kth_min,
           ROUND(CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                 ELSE 63.0 / (CAST(MAX(h) AS DOUBLE) / 1152921504606846976.0)
                 END, 4) AS estimate
    FROM bottom
    """,
)
def q_streaming_kmv_distinct(spark, sf_dir):
    """The KMV distinct-count sketch MAINTAINED BY A STREAM: each
    micro-batch writes its own bottom-k hash-set partition (<= k rows
    per batch — TakeOrdered, never a global sort), the served sketch is
    bottom-k over the DISTINCT union of partitions. Unlike the CMS
    delta store, union is IDEMPOTENT, so replay safety is free; the
    per-batch dynamic-overwrite partition keeps the store bounded by
    batches x k rows anyway. The stream runs TWICE against the same
    checkpoint (restart must be a no-op) and the served estimator must
    equal the one-shot batch sketch the oracle computes — bottom-k of a
    union of per-slice bottom-k's IS the global bottom-k."""
    import os

    from yamr_spark.streaming.kmv import read_kmv_store, stream_kmv_to_store
    from yamr_spark.tmpdirs import session_dir

    base = session_dir(f"stream_kmv:{sf_dir}", "yamr_stream_kmv_")
    store, ckpt = os.path.join(base, "store"), os.path.join(base, "ckpt")
    stream_kmv_to_store(stream_events(spark, sf_dir), "user_id", store, ckpt, k=64)
    # restart against the committed checkpoint: must not change the store
    stream_kmv_to_store(stream_events(spark, sf_dir), "user_id", store, ckpt, k=64)
    return read_kmv_store(spark, store, k=64)


def _minimized_stream_oracle() -> str:
    """Closed-form replay of the minimized-anchor stream: one winnowing
    selection block over ALL documents (selection is per-doc, so one
    block serves seed and batches), then batch-k anchors match the
    anchor texts of index0 ∪ batches<k."""
    from yamr_spark.operators.curation import (
        MINIMIZER_K as K,
        MINIMIZER_W as W,
        _MINIMIZER_POS_MAX as PM,
    )

    return f"""
    WITH mibase AS (
      SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    ),
    mpos AS (
      SELECT doc_id, text,
             CAST(greatest(length(text) - {K - 1}, 1) AS BIGINT) AS n_grams,
             unnest(range(1, greatest(length(text) - {K - 1}, 1) + 1)) AS i
      FROM mibase WHERE n_chars >= {K}
    ),
    mkeys AS (
      SELECT doc_id, n_grams, i AS pos,
             md5(substring(text, CAST(i AS INT), {K})) || '#' ||
               lpad(CAST({PM} - i AS VARCHAR), 12, '0') AS key
      FROM mpos
    ),
    msel AS (
      SELECT doc_id, n_grams, pos,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {W - 1}
                            FOLLOWING) AS sk
      FROM mkeys
    ),
    manch AS (
      SELECT DISTINCT doc_id,
             {PM} - CAST(substring(sk, 34, 12) AS BIGINT) AS s
      FROM msel
      WHERE pos <= greatest(n_grams - {W - 1}, 1)
    ),
    mtxt AS MATERIALIZED (
      SELECT a.doc_id, a.s,
             substring(b.text, CAST(a.s AS INT), {K}) AS wt
      FROM manch a JOIN mibase b USING (doc_id)
    ),
    hits AS (
      SELECT DISTINCT n.doc_id, n.s
      FROM mtxt n JOIN mtxt e ON n.wt = e.wt
      WHERE (n.doc_id % 4 = 1 AND e.doc_id % 2 = 0)
         OR (n.doc_id % 4 = 3 AND (e.doc_id % 2 = 0 OR e.doc_id % 4 = 1))
    ),
    hlag AS (
      SELECT doc_id, s,
             LAG(s) OVER (PARTITION BY doc_id ORDER BY s) AS prev
      FROM hits
    ),
    hisl AS (
      SELECT doc_id, s,
             SUM(CASE WHEN prev IS NULL OR s > prev + {K} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s
                     ROWS UNBOUNDED PRECEDING) AS isl
      FROM hlag
    ),
    hspans AS (
      SELECT doc_id, CAST(MAX(s) - MIN(s) + {K} AS BIGINT) AS span_chars
      FROM hisl GROUP BY doc_id, isl
    ),
    hper AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_flagged_spans,
             CAST(SUM(span_chars) AS BIGINT) AS flagged_chars
      FROM hspans GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_chars,
           CAST(COALESCE(p.n_flagged_spans, 0) AS BIGINT) AS n_flagged_spans,
           CAST(COALESCE(p.flagged_chars, 0) AS BIGINT) AS flagged_chars,
           CASE WHEN b.n_chars > 0
                THEN CAST(ROUND(COALESCE(p.flagged_chars, 0)
                                * 1.0 / b.n_chars, 6) AS DOUBLE)
                ELSE CAST(0.0 AS DOUBLE) END AS flagged_frac
    FROM mibase b LEFT JOIN hper p USING (doc_id)
    WHERE b.doc_id % 2 = 1
    """


@register("streaming_minimized_index", oracle=_minimized_stream_oracle())
def q_streaming_minimized_index(spark, sf_dir):
    """Online minimizer-anchored substring dedup: the anchor-index
    SERVICE — the streaming member of the minimized family, with the
    standing index at ~2/(w+1) of corpus char offsets (one (h, wt) row
    per distinct SELECTED anchor — ~12.6x fewer rows than the dense
    window index, the state you can actually keep hot at 100 TB). Even
    doc_ids seed the index; odd docs arrive in two deterministic
    micro-batches (doc_id%4==1 then %4==3); each batch's per-doc
    flagged-span ledger is computed against STRICTLY EARLIER state,
    then its anchors join the index. Same setup-marker + always-drain
    discipline, batch_id self-exclusion, and compaction as the
    word-window service."""
    from yamr_spark.streaming.substring import (
        build_anchor_index,
        read_minimized_ledgers,
        stream_minimized_into_index,
    )

    return _stream_service(
        spark, sf_dir, "stream_minsub",
        build_anchor_index, stream_minimized_into_index, read_minimized_ledgers,
    )



@register(
    "streaming_substring_index",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}_]+'),
                         x -> length(x) > 0) AS t
      FROM documents
    ),
    wpos AS (
      SELECT doc_id, t, unnest(range(len(t) - 8 + 1)) + 1 AS s
      FROM toks WHERE len(t) >= 8
    ),
    wwt AS MATERIALIZED (
      SELECT doc_id, CAST(s AS BIGINT) AS s,
             array_to_string(t[s : s + 7], ' ') AS wt
      FROM wpos
    ),
    hits AS (
      SELECT DISTINCT n.doc_id, n.s
      FROM wwt n JOIN wwt e ON n.wt = e.wt
      WHERE (n.doc_id % 4 = 1 AND e.doc_id % 2 = 0)
         OR (n.doc_id % 4 = 3 AND (e.doc_id % 2 = 0 OR e.doc_id % 4 = 1))
    ),
    hlag AS (
      SELECT doc_id, s,
             LAG(s) OVER (PARTITION BY doc_id ORDER BY s) AS prev
      FROM hits
    ),
    hisl AS (
      SELECT doc_id, s,
             SUM(CASE WHEN prev IS NULL OR s > prev + 8 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s
                     ROWS UNBOUNDED PRECEDING) AS isl
      FROM hlag
    ),
    hspans AS (
      SELECT doc_id, CAST(MAX(s) - MIN(s) + 8 AS BIGINT) AS span_tokens
      FROM hisl GROUP BY doc_id, isl
    ),
    hper AS (
      SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS dropped_tokens
      FROM hspans GROUP BY doc_id
    ),
    hcnt AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens
      FROM toks WHERE doc_id % 2 = 1 AND len(t) >= 8
    )
    SELECT c.doc_id, c.n_tokens,
           CAST(COALESCE(p.dropped_tokens, 0) AS BIGINT) AS dropped_tokens
    FROM hcnt c LEFT JOIN hper p USING (doc_id)
    """,
)
def q_streaming_substring_index(spark, sf_dir):
    """Online exact substring dedup: a window-index SERVICE over an
    arriving document stream — the span-granularity member of the
    streaming dedup family (LSH: streaming_lsh_incremental; exact-hash:
    streaming upsert). Even doc_ids seed the standing window index; odd
    docs arrive in two deterministic micro-batches (doc_id%4==1 then
    %4==3). Each batch's per-doc dropped-span ledger is computed
    against STRICTLY EARLIER state, then its windows join the index —
    batch 2 matches batch 1's windows, the incremental property the
    oracle replays in closed form. Same setup-marker + always-drain
    discipline as the LSH stream."""
    from yamr_spark.streaming.substring import (
        build_window_index,
        read_ledgers,
        stream_substring_into_index,
    )

    return _stream_service(
        spark, sf_dir, "stream_substr",
        build_window_index, stream_substring_into_index, read_ledgers,
    )
