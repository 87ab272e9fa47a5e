"""Streaming / windowed-aggregation tests (SURVEY.md §7.5).

Golden-case unit tests on synthetic rows (mirroring the reference's
hand-written golden style, tests/test_base_mappers.py) plus a
stream-equals-batch differential on the real events table.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from yamr_spark.streaming.events import (
    run_stream_to_memory,
    session_user_windows,
    sliding_user_activity,
    streaming_tumbling_counts,
    tumbling_event_counts,
)
from yamr_spark.tables import table


def _events(spark, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


T0 = dt.datetime(2024, 1, 1, 10, 0, 0)


def _at(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def test_tumbling_golden(spark):
    ev = _events(
        spark,
        [
            (1, _at(0), 1, "click", 1.0),
            (2, _at(30), 1, "click", 2.0),
            (3, _at(61), 2, "click", 4.0),  # next hour window
            (4, _at(62), 2, "view", 8.0),
        ],
    )
    out = {
        (r["window_start"].hour, r["event_type"]): (r["event_cnt"], r["value_sum"])
        for r in tumbling_event_counts(ev, "1 hour").collect()
    }
    assert out == {(10, "click"): (2, 3.0), (11, "click"): (1, 4.0), (11, "view"): (1, 8.0)}


def test_sliding_each_event_in_two_windows(spark):
    ev = _events(spark, [(1, _at(30), 7, "click", 1.0)])
    rows = sliding_user_activity(ev, "2 hours", "1 hour").collect()
    starts = sorted(r["window_start"] for r in rows)
    assert starts == [dt.datetime(2024, 1, 1, 9), dt.datetime(2024, 1, 1, 10)]
    assert all(r["event_cnt"] == 1 for r in rows)


def test_session_gap_splits(spark):
    ev = _events(
        spark,
        [
            (1, _at(0), 1, "c", 0.0),
            (2, _at(20), 1, "c", 0.0),   # within 30min gap → same session
            (3, _at(70), 1, "c", 0.0),   # 50min silence → new session
            (4, _at(0), 2, "c", 0.0),    # other user: own session
        ],
    )
    rows = sorted(
        session_user_windows(ev, "30 minutes").collect(),
        key=lambda r: (r["user_id"], r["session_start"]),
    )
    assert [(r["user_id"], r["session_start"], r["event_cnt"]) for r in rows] == [
        (1, _at(0), 2),
        (1, _at(70), 1),
        (2, _at(0), 1),
    ]


def test_stream_matches_batch(spark, sf_dir):
    batch = tumbling_event_counts(table(spark, sf_dir, "events"), "1 hour")
    sdf = streaming_tumbling_counts(spark, sf_dir, width="1 hour", delay="2 hours")
    streamed = run_stream_to_memory(spark, sdf, "t_stream_vs_batch")
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, streamed.collect()))
    assert b == s and len(b) > 0


def test_stream_to_parquet_exactly_once(spark, sf_dir, tmp_path):
    """Checkpointed parquet sink: drain once, re-run with the SAME
    checkpoint — no duplicate rows (offsets already committed)."""
    from yamr_spark.streaming.events import run_stream_to_parquet, stream_events

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    sdf = stream_events(spark, sf_dir).where("event_type = 'signup'").select(
        "event_id", "user_id"
    )
    run_stream_to_parquet(sdf, out, ckpt)
    n1 = spark.read.parquet(out).count()
    # second drain from the same checkpoint: nothing new to process
    sdf2 = stream_events(spark, sf_dir).where("event_type = 'signup'").select(
        "event_id", "user_id"
    )
    run_stream_to_parquet(sdf2, out, ckpt)
    n2 = spark.read.parquet(out).count()
    from yamr_spark.tables import table

    expected = table(spark, sf_dir, "events").where("event_type = 'signup'").count()
    assert n1 == n2 == expected


def test_streaming_dedup_suppresses_duplicates(spark, tmp_path):
    """Write a parquet stream source containing DUPLICATED event rows;
    dropDuplicatesWithinWatermark must emit each event_id once."""
    import pyspark.sql.functions as F

    base = spark.createDataFrame(
        [(1, "click", 1.0), (2, "view", 2.0)], "event_id long, event_type string, value double"
    ).withColumn("ts", F.lit("2024-01-01 10:00:00").cast("timestamp"))
    dup = base.unionAll(base)  # every row twice
    src = str(tmp_path / "src")
    dup.write.parquet(src)

    sdf = (
        spark.readStream.schema(dup.schema).parquet(src + "/*")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    q = (
        sdf.writeStream.format("memory").queryName("t_dedup_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = sorted(map(tuple, spark.table("t_dedup_stream").collect()))
    assert rows == [(1, "click"), (2, "view")]


def test_keep_latest_null_tombstone_means_kept(spark):
    """ADVICE r06: a winning row with a NULL tombstone value is NOT a
    delete — keys whose latest record never set the flag must survive
    the tombstone filter (a bare ~col would null them out)."""
    from yamr_spark.streaming.upsert import keep_latest

    df = spark.createDataFrame(
        [
            (1, 1, None),   # latest for key 1: NULL flag → keep
            (2, 1, True),   # latest for key 2: delete → drop
            (3, 2, False),  # latest for key 3: explicit keep
            (3, 1, True),   # older delete loses the window
        ],
        "k long, ts long, deleted boolean",
    )
    got = {r.k for r in keep_latest(df, "k", "ts", "ts", tombstone_col="deleted").collect()}
    assert got == {1, 3}


def test_upsert_incremental_merge_equals_one_shot(spark, tmp_path):
    """Two sequential batch merges must equal one keep_latest over the
    union (associativity — what makes foreachBatch upsert correct), and
    a batch whose keys miss a bucket must not rewrite that bucket."""
    import os

    from yamr_spark.streaming.upsert import (
        keep_latest,
        merge_batch_into_store,
        read_store,
    )

    from datetime import datetime

    schema = "user_id long, event_id long, event_type string, value double, ts timestamp"
    b1 = spark.createDataFrame(
        [
            (1, 10, "click", 1.0, datetime(2024, 1, 1, 0, 0)),
            (2, 11, "view", 2.0, datetime(2024, 1, 1, 0, 1)),
            (1, 12, "click", 3.0, datetime(2024, 1, 1, 0, 2)),
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [
            (1, 13, "purchase", 9.0, datetime(2024, 1, 1, 1, 0)),
            (3, 14, "view", 4.0, datetime(2024, 1, 1, 1, 1)),
        ],
        schema,
    )
    store = str(tmp_path / "store")
    merge_batch_into_store(b1, store, key="user_id", order="ts", tie="event_id")
    # bucket mtimes after batch 1
    mtimes = {
        d: os.path.getmtime(os.path.join(store, d))
        for d in os.listdir(store)
        if d.startswith("bucket=")
    }
    merge_batch_into_store(b2, store, key="user_id", order="ts", tie="event_id")

    got = {
        (r.user_id, r.event_id) for r in read_store(spark, store).collect()
    }
    want = {
        (r.user_id, r.event_id)
        for r in keep_latest(
            b1.unionByName(b2), "user_id", "ts", "event_id"
        ).collect()
    }
    assert got == want == {(1, 13), (2, 11), (3, 14)}

    # any bucket untouched by batch 2's keys {1, 3} must keep its mtime
    from pyspark.sql import functions as F

    touched2 = {
        f"bucket={r[0]}"
        for r in b2.select(
            F.pmod(F.xxhash64(F.col("user_id")), F.lit(8))
        ).distinct().collect()
    }
    untouched = set(mtimes) - touched2
    for d in untouched:
        assert os.path.getmtime(os.path.join(store, d)) == mtimes[d], (
            f"{d} was rewritten by a batch that never touched it"
        )


def test_dpo_merge_equals_per_bucket_loop(spark, tmp_path):
    """The single-job dynamic-partition-overwrite merge must produce the
    same store state as the per-bucket swap loop, and leave untouched
    bucket partitions' files alone."""
    import os
    from datetime import datetime

    from pyspark.sql import functions as F

    from yamr_spark.streaming.upsert import (
        merge_batch_into_store,
        merge_batch_into_store_dpo,
        read_store,
    )

    schema = "user_id long, event_id long, value double, ts timestamp"
    b1 = spark.createDataFrame(
        [
            (u, u * 10, float(u), datetime(2024, 1, 1, u % 12))
            for u in range(1, 9)
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [(1, 99, 9.0, datetime(2024, 1, 2)), (3, 98, 8.0, datetime(2024, 1, 2))],
        schema,
    )

    loop_store = str(tmp_path / "loop")
    dpo_store = str(tmp_path / "dpo")
    for b in (b1, b2):
        merge_batch_into_store(b, loop_store, key="user_id", order="ts", tie="event_id")
        merge_batch_into_store_dpo(
            b, dpo_store, key="user_id", order="ts", tie="event_id"
        )

    loop_state = {
        (r.user_id, r.event_id) for r in read_store(spark, loop_store).collect()
    }
    dpo_state = {
        (r.user_id, r.event_id)
        for r in spark.read.parquet(dpo_store)
        .select("user_id", "event_id")
        .collect()
    }
    assert dpo_state == loop_state

    # untouched partitions keep their files: record mtimes, merge again
    mtimes = {}
    for d in os.listdir(dpo_store):
        if d.startswith("bucket="):
            p = os.path.join(dpo_store, d)
            mtimes[d] = max(os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p))
    b3 = spark.createDataFrame([(1, 97, 1.0, datetime(2024, 1, 3))], schema)
    merge_batch_into_store_dpo(b3, dpo_store, key="user_id", order="ts", tie="event_id")
    touched = {
        f"bucket={r[0]}"
        for r in b3.select(F.pmod(F.xxhash64(F.col("user_id")), F.lit(8))).collect()
    }
    for d, mt in mtimes.items():
        if d not in touched:
            p = os.path.join(dpo_store, d)
            now = max(os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p))
            assert now == mt, f"{d} rewritten by a merge that never touched it"


def test_streaming_lsh_incremental_and_restart(spark, sf_dir, tmp_path):
    """The LSH ingestion service matches each batch against strictly
    earlier state (batch 2 must be able to match batch 1's docs — the
    incremental property), and a restart against the committed
    checkpoint replays nothing (no duplicated flags, no index growth)."""
    import os

    from pyspark.sql import functions as F

    from yamr_spark.streaming.lsh import (
        build_band_index,
        read_flagged,
        stage_stream_files,
        stream_lsh_into_index,
    )
    from yamr_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    index_dir = str(tmp_path / "index")
    stream_dir = str(tmp_path / "stream")
    results_dir = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")
    build_band_index(docs.where(F.col("doc_id") % 2 == 0), index_dir)
    stage_stream_files(
        docs, stream_dir, [F.col("doc_id") % 4 == 1, F.col("doc_id") % 4 == 3]
    )
    stream_lsh_into_index(spark, stream_dir, docs.schema, index_dir, results_dir, ckpt)
    flagged = {(r.stream_doc, r.index_doc) for r in read_flagged(spark, results_dir).collect()}
    n_index_files = len(
        [f for f in os.listdir(index_dir) if f.endswith(".parquet")]
    )
    # every flag matched strictly earlier state
    for s, i in flagged:
        assert s % 2 == 1
        assert i % 2 == 0 or (s % 4 == 3 and i % 4 == 1), (s, i)

    # restart: same checkpoint, no new files -> nothing replays
    stream_lsh_into_index(spark, stream_dir, docs.schema, index_dir, results_dir, ckpt)
    flagged2 = {
        (r.stream_doc, r.index_doc) for r in read_flagged(spark, results_dir).collect()
    }
    assert flagged2 == flagged
    assert (
        len([f for f in os.listdir(index_dir) if f.endswith(".parquet")])
        == n_index_files
    )


def test_streaming_lsh_compaction_preserves_flags(spark, sf_dir, tmp_path):
    """Wiring compact_store into the ingest loop (every N batches) must
    not change the flagged pairs — compaction is content-preserving —
    while keeping the steady-state index file count O(1) instead of one
    small parquet append per micro-batch (VERDICT r05 #8)."""
    import os

    from pyspark.sql import functions as F

    from yamr_spark.streaming.lsh import (
        build_band_index,
        read_flagged,
        stage_stream_files,
        stream_lsh_into_index,
    )
    from yamr_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    batches = [F.col("doc_id") % 4 == 1, F.col("doc_id") % 4 == 3]
    outs = {}
    for label, every in (("nocompact", 0), ("compact", 1)):
        base = tmp_path / label
        index_dir = str(base / "index")
        build_band_index(docs.where(F.col("doc_id") % 2 == 0), index_dir)
        stage_stream_files(docs, str(base / "stream"), batches)
        stream_lsh_into_index(
            spark, str(base / "stream"), docs.schema, index_dir,
            str(base / "results"), str(base / "ckpt"), compact_every=every,
        )
        outs[label] = {
            (r.stream_doc, r.index_doc)
            for r in read_flagged(spark, str(base / "results")).collect()
        }
        outs[label + "_files"] = len(
            [f for f in os.listdir(index_dir) if f.endswith(".parquet")]
        )
    assert outs["compact"] == outs["nocompact"]
    assert outs["nocompact"]  # non-vacuous
    # compacted index: one file (3 small appends merged); uncompacted: 3+
    assert outs["compact_files"] < outs["nocompact_files"]


def test_read_store_restores_stranded_bucket_directly(spark, tmp_path, crash_commit):
    """A merge that crashes after its intent, with a bucket moved to the
    trash and its replacement not yet moved in, reads in full through a
    DIRECT ``read_store`` — no merge in between."""
    import os

    from yamr_spark.streaming.upsert import merge_batch_into_store, read_store

    store = str(tmp_path / "store")
    keys = dict(key="user_id", order="ts", tie="event_id")
    merge_batch_into_store(_store_rows(spark, range(8), day=1), store, **keys)
    # steps: 1 intent, 2 first touched bucket to the trash, 3 its move
    with crash_commit(3) as steps, pytest.raises(crash_commit.Crash):
        merge_batch_into_store(_store_rows(spark, range(8), day=2), store, **keys)
    stranded = steps[1][1]
    assert os.path.basename(stranded).startswith("bucket=")
    assert not os.path.exists(stranded)
    got = {(r.user_id, r.event_id) for r in read_store(spark, store).collect()}
    assert got == {(k, 2000 + k) for k in range(8)}
    assert os.path.isdir(stranded)
    assert not {"_commits", "_trash"} & set(os.listdir(store))


def test_cdc_tombstone_delete_survives_late_update(spark, tmp_path):
    """CDC delete semantics in the bucketed store: the tombstone row is
    PERSISTED by the merge and filtered at read time — so a
    late-arriving OLDER update for a deleted key loses the keep-latest
    window to the tombstone instead of resurrecting the key."""
    from datetime import datetime

    from yamr_spark.streaming.upsert import merge_batch_into_store, read_store

    schema = ("user_id long, event_id long, value double, ts timestamp,"
              " deleted boolean")
    store = str(tmp_path / "cdc_store")
    b1 = spark.createDataFrame(
        [
            (1, 10, 1.0, datetime(2024, 1, 1), False),
            (2, 11, 2.0, datetime(2024, 1, 1), False),
        ],
        schema,
    )
    merge_batch_into_store(b1, store, key="user_id", order="ts", tie="event_id")
    # delete user 1 (newer tombstone)
    b2 = spark.createDataFrame(
        [(1, 20, 0.0, datetime(2024, 1, 3), True)], schema
    )
    merge_batch_into_store(b2, store, key="user_id", order="ts", tie="event_id")
    live = {r.user_id for r in
            read_store(spark, store, tombstone_col="deleted").collect()}
    assert live == {2}
    # late replay: an OLDER update for user 1 must NOT resurrect it
    b3 = spark.createDataFrame(
        [(1, 15, 9.0, datetime(2024, 1, 2), False)], schema
    )
    merge_batch_into_store(b3, store, key="user_id", order="ts", tie="event_id")
    live = {r.user_id for r in
            read_store(spark, store, tombstone_col="deleted").collect()}
    assert live == {2}
    # the tombstone is still physically in the store (unfiltered read)
    raw = {(r.user_id, r.deleted) for r in read_store(spark, store).collect()}
    assert (1, True) in raw


def test_streaming_lsh_recovers_index_after_compaction_crash(
    spark, sf_dir, tmp_path, crash_commit
):
    """The kill chain, end-to-end: index compaction crashes after its
    commit point, with every old file in the trash and no compacted
    file moved in yet, so the index dir holds ZERO visible parquet
    files. A restart that ingests one more batch must recover the index
    before matching, so the new batch's flags still see every
    pre-crash doc."""
    import os

    from pyspark.sql import functions as F

    from yamr_spark.operators.dedup import minhash_band_table, minhash_signatures
    from yamr_spark.operators.maintenance import compact_store
    from yamr_spark.streaming.lsh import (
        read_flagged,
        stage_stream_files,
        stream_lsh_into_index,
    )
    from yamr_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    index_dir = str(tmp_path / "index")
    results_dir = str(tmp_path / "results")
    # the index as build_band_index writes it, in several files
    evens = docs.where(F.col("doc_id") % 2 == 0)
    minhash_band_table(minhash_signatures(evens)).repartition(4).write.parquet(index_dir)
    index_rows = spark.read.parquet(index_dir).count()
    n_old = len([f for f in os.listdir(index_dir) if f.endswith(".parquet")])
    assert n_old > 1

    # steps: 1 intent, 2..n_old+1 old files to the trash, then the
    # first move of a compacted file
    with crash_commit(n_old + 2), pytest.raises(crash_commit.Crash):
        compact_store(spark, index_dir)
    assert not [f for f in os.listdir(index_dir) if f.endswith(".parquet")]

    # restart: ingest one batch of odd docs against the crashed index
    stage_stream_files(docs, str(tmp_path / "stream"), [F.col("doc_id") % 4 == 1])
    stream_lsh_into_index(
        spark, str(tmp_path / "stream"), docs.schema, index_dir,
        results_dir, str(tmp_path / "ckpt"),
    )
    flagged = {
        (r.stream_doc, r.index_doc)
        for r in read_flagged(spark, results_dir).collect()
    }
    # flags against the RECOVERED pre-crash index (even doc_ids) exist
    assert any(i % 2 == 0 for _s, i in flagged), flagged
    # index = recovered pre-crash rows + the new batch's bands
    assert spark.read.parquet(index_dir).count() > index_rows
    assert not {"_commits", "_trash"} & set(os.listdir(index_dir))


def test_streaming_substring_incremental_and_restart(spark, sf_dir, tmp_path):
    """The substring window-index service drops spans against strictly
    earlier state only (the incremental property), its ledgers equal
    the batch operator's answer computed per batch, and a restart
    against the committed checkpoint replays nothing."""
    import os

    from pyspark.sql import functions as F

    from yamr_spark.operators.curation import substring_dedup_incremental
    from yamr_spark.streaming.lsh import stage_stream_files
    from yamr_spark.streaming.substring import (
        build_window_index,
        read_ledgers,
        stream_substring_into_index,
    )
    from yamr_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    index_dir = str(tmp_path / "index")
    stream_dir = str(tmp_path / "stream")
    results_dir = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")
    build_window_index(docs.where(F.col("doc_id") % 2 == 0), index_dir)
    stage_stream_files(
        docs, stream_dir, [F.col("doc_id") % 4 == 1, F.col("doc_id") % 4 == 3]
    )
    stream_substring_into_index(
        spark, stream_dir, docs.schema, index_dir, results_dir, ckpt
    )
    got = {
        int(r.doc_id): (int(r.n_tokens), int(r.dropped_tokens))
        for r in read_ledgers(spark, results_dir).collect()
    }
    # batch operator replay: batch 1 vs index0; batch 2 vs index0+batch1
    b1 = substring_dedup_incremental(
        docs.where(F.col("doc_id") % 4 == 1),
        docs.where(F.col("doc_id") % 2 == 0),
    )
    b2 = substring_dedup_incremental(
        docs.where(F.col("doc_id") % 4 == 3),
        docs.where((F.col("doc_id") % 2 == 0) | (F.col("doc_id") % 4 == 1)),
    )
    want = {}
    for df in (b1, b2):
        for r in df.collect():
            if r.n_tokens >= 8:  # the stream ledger covers windowed docs
                want[int(r.doc_id)] = (int(r.n_tokens), int(r.dropped_tokens))
    assert got == want

    # restart: committed checkpoint, no new files -> nothing replays
    n_res = len([f for f in os.listdir(results_dir) if f.endswith(".parquet")])
    stream_substring_into_index(
        spark, stream_dir, docs.schema, index_dir, results_dir, ckpt
    )
    assert (
        len([f for f in os.listdir(results_dir) if f.endswith(".parquet")])
        == n_res
    )

    # full replay (ADVICE r12 crash window): a FRESH checkpoint re-runs
    # every batch against an index that already contains those batches'
    # own windows. The probe's own-batch_id exclusion must keep the
    # recomputed ledgers byte-identical (no self-matching), and the
    # dynamic partition overwrite must not duplicate index rows.
    idx_rows = spark.read.parquet(index_dir).count()
    import shutil

    shutil.rmtree(ckpt)
    stream_substring_into_index(
        spark, stream_dir, docs.schema, index_dir, results_dir, ckpt
    )
    got_replay = {
        int(r.doc_id): (int(r.n_tokens), int(r.dropped_tokens))
        for r in read_ledgers(spark, results_dir).collect()
    }
    assert got_replay == want
    assert spark.read.parquet(index_dir).count() == idx_rows


def test_streaming_substring_index_compaction(spark, sf_dir, tmp_path):
    """Bounded-index mode: folding committed batch partitions into one
    distinct-window partition preserves served matches exactly (a new
    batch over the compacted index equals the batch-operator replay),
    and the fold removes cross-batch duplicate windows."""
    import os

    from pyspark.sql import functions as F

    from yamr_spark.operators.curation import substring_dedup_incremental
    from yamr_spark.streaming.lsh import stage_stream_files
    from yamr_spark.streaming.substring import (
        build_window_index,
        compact_window_index,
        read_ledgers,
        stream_substring_into_index,
    )
    from yamr_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    index_dir = str(tmp_path / "index")
    stream_dir = str(tmp_path / "stream")
    results_dir = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")
    build_window_index(docs.where(F.col("doc_id") % 2 == 0), index_dir)
    # batch 0 overlaps the seed (doc_id%4==0 docs re-arrive): cross-batch
    # duplicate windows exist, so the fold must actually shrink the store
    stage_stream_files(
        docs, stream_dir, [F.col("doc_id") % 4 == 0, F.col("doc_id") % 4 == 1]
    )
    stream_substring_into_index(
        spark, stream_dir, docs.schema, index_dir, results_dir, ckpt
    )
    pre = spark.read.parquet(index_dir)
    n_pre = pre.count()
    n_distinct = pre.select("h", "wt").distinct().count()
    assert n_distinct < n_pre  # duplicates across partitions exist
    # stream drained (availableNow terminated) -> clean-stop fold of all
    folded = compact_window_index(
        spark, index_dir, upto=10**9, stream_stopped=True
    )
    assert folded == 3  # seed + 2 batches
    assert spark.read.parquet(index_dir).count() == n_distinct
    assert len([d for d in os.listdir(index_dir) if d.startswith("batch_id=")]) == 1

    # new batch over the compacted index == batch-operator replay
    stage_stream_files(docs, stream_dir + "2", [F.col("doc_id") % 4 == 3])
    stream_substring_into_index(
        spark, stream_dir + "2", docs.schema, index_dir, results_dir + "2",
        ckpt + "2",
    )
    got = {
        int(r.doc_id): (int(r.n_tokens), int(r.dropped_tokens))
        for r in read_ledgers(spark, results_dir + "2").collect()
    }
    b = substring_dedup_incremental(
        docs.where(F.col("doc_id") % 4 == 3),
        docs.where(
            (F.col("doc_id") % 2 == 0)
            | (F.col("doc_id") % 4 == 0)
            | (F.col("doc_id") % 4 == 1)
        ),
    )
    want = {
        int(r.doc_id): (int(r.n_tokens), int(r.dropped_tokens))
        for r in b.collect()
        if r.n_tokens >= 8
    }
    assert got == want


def test_streaming_minimized_index_matches_batch_replay(spark, sf_dir, tmp_path):
    """The anchor-index service equals the incremental batch operator
    replayed per batch (batch 1 vs seed; batch 2 vs seed + batch 1),
    and a restart against the committed checkpoint replays nothing."""
    import os

    from pyspark.sql import functions as F

    from yamr_spark.operators.curation import (
        substring_dedup_minimized_incremental,
    )
    from yamr_spark.streaming.lsh import stage_stream_files
    from yamr_spark.streaming.substring import (
        build_anchor_index,
        read_minimized_ledgers,
        stream_minimized_into_index,
    )
    from yamr_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    index_dir = str(tmp_path / "index")
    stream_dir = str(tmp_path / "stream")
    results_dir = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")
    build_anchor_index(docs.where(F.col("doc_id") % 2 == 0), index_dir)
    stage_stream_files(
        docs, stream_dir, [F.col("doc_id") % 4 == 1, F.col("doc_id") % 4 == 3]
    )
    stream_minimized_into_index(
        spark, stream_dir, docs.schema, index_dir, results_dir, ckpt
    )
    got = {
        int(r.doc_id): (
            int(r.n_chars), int(r.n_flagged_spans), int(r.flagged_chars)
        )
        for r in read_minimized_ledgers(spark, results_dir).collect()
    }
    b1 = substring_dedup_minimized_incremental(
        docs.where(F.col("doc_id") % 4 == 1),
        docs.where(F.col("doc_id") % 2 == 0),
    )
    b2 = substring_dedup_minimized_incremental(
        docs.where(F.col("doc_id") % 4 == 3),
        docs.where((F.col("doc_id") % 2 == 0) | (F.col("doc_id") % 4 == 1)),
    )
    want = {}
    for df in (b1, b2):
        for r in df.collect():
            want[int(r.doc_id)] = (
                int(r.n_chars), int(r.n_flagged_spans), int(r.flagged_chars)
            )
    assert got == want

    # restart: committed checkpoint, no new files -> nothing replays
    n_res = len([f for f in os.listdir(results_dir) if f.endswith(".parquet")])
    stream_minimized_into_index(
        spark, stream_dir, docs.schema, index_dir, results_dir, ckpt
    )
    assert (
        len([f for f in os.listdir(results_dir) if f.endswith(".parquet")])
        == n_res
    )

    # full replay (fresh checkpoint = every batch re-runs against an
    # index already holding its own anchors): the own-batch_id
    # exclusion + dynamic overwrite must keep ledgers and index rows
    # byte-stable — the same crash-window contract as the word form
    import shutil

    idx_rows = spark.read.parquet(index_dir).count()
    shutil.rmtree(ckpt)
    stream_minimized_into_index(
        spark, stream_dir, docs.schema, index_dir, results_dir, ckpt
    )
    got_replay = {
        int(r.doc_id): (
            int(r.n_chars), int(r.n_flagged_spans), int(r.flagged_chars)
        )
        for r in read_minimized_ledgers(spark, results_dir).collect()
    }
    assert got_replay == want
    assert spark.read.parquet(index_dir).count() == idx_rows

    # bounded-index mode: the anchor store shares the (h, wt) batch_id
    # layout, so the word form's compaction applies verbatim
    from yamr_spark.streaming.substring import compact_window_index

    pre = spark.read.parquet(index_dir)
    n_distinct = pre.select("h", "wt").distinct().count()
    folded = compact_window_index(
        spark, index_dir, upto=10**9, stream_stopped=True
    )
    assert folded == 3  # seed + 2 batches
    assert spark.read.parquet(index_dir).count() == n_distinct
    # the fold rewrote the merged partition under the same hb= buckets
    (merged_dir,) = [
        d for d in os.listdir(index_dir) if d.startswith("batch_id=")
    ]
    assert any(
        d.startswith("hb=")
        for d in os.listdir(os.path.join(index_dir, merged_dir))
    )


def test_substring_index_bucketed_probe_plan_and_values(spark, sf_dir, tmp_path):
    """The h-bucketed standing-index probe (VERDICT r13 'What's missing'
    #1): the store lays out two-level batch_id=/hb= partitions with a
    self-describing layout file; probe_matched_keys joins with ZERO
    standing-side exchange (the batch's hashes broadcast INTO the
    standing scan — the only shuffles in the plan are the batch-side
    hash distinct and the duplication-bound matched-key distinct), its
    standing scan carries the hb partition filter, and its result
    equals the old shuffle semi-join exactly."""
    import os

    from pyspark.sql import functions as F

    from yamr_spark.plans import plan_text
    from yamr_spark.streaming.substring import (
        _LAYOUT,
        _window_table,
        build_window_index,
        probe_matched_keys,
    )
    from yamr_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    index_dir = str(tmp_path / "index")
    build_window_index(docs.where(F.col("doc_id") % 2 == 0), index_dir)
    assert os.path.exists(os.path.join(index_dir, _LAYOUT))
    seed = os.path.join(index_dir, "batch_id=-1")
    assert any(d.startswith("hb=") for d in os.listdir(seed))

    batch = _window_table(docs.where(F.col("doc_id") % 2 == 1))
    matched = probe_matched_keys(spark, index_dir, 0, batch)
    plan = matched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # exactly 2 shuffle exchanges: batch hkeys distinct + matched-keys
    # distinct (plus the batch-side BroadcastExchange); the standing
    # scan feeds the broadcast join with NO exchange
    lines = plan.splitlines()
    hash_ex = [ln for ln in lines if "Exchange hashpartitioning" in ln]
    other_ex = [
        ln
        for ln in lines
        if "Exchange" in ln
        and "hashpartitioning" not in ln
        and "BroadcastExchange" not in ln
    ]
    assert len(hash_ex) == 2 and not other_ex, plan
    fmt = plan_text(matched, "formatted")
    scan_blocks = [
        b for b in fmt.split("\n\n")
        if "Scan parquet" in b and "batch_id" in b
    ]
    assert scan_blocks and all(
        "PartitionFilters" in b and "hb" in b for b in scan_blocks
    ), fmt

    # value parity with the pre-bucketing shuffle semi-join
    idx = spark.read.parquet(index_dir).where(F.col("batch_id") != 0)
    ref = (
        idx.join(batch.select("h", "wt").distinct(), ["h", "wt"], "left_semi")
        .select("h", "wt")
        .distinct()
    )
    got = {(r.h, r.wt) for r in matched.collect()}
    want = {(r.h, r.wt) for r in ref.collect()}
    assert got and got == want

    # empty batch -> empty matched set (touched-bucket list is empty)
    empty = probe_matched_keys(spark, index_dir, 0, batch.limit(0))
    assert empty.count() == 0

    # bulk mode (probe_broadcast=False): same pruned scan probed with
    # a planner-chosen semi-join — identical result set
    bulk = probe_matched_keys(spark, index_dir, 0, batch, broadcast=False)
    assert {(r.h, r.wt) for r in bulk.collect()} == want


def test_substring_index_layout_is_self_describing(spark, sf_dir, tmp_path):
    """A store seeded with a non-default bucket count must keep that
    layout for every later write and probe (the recorded n_hb wins over
    the module default — one store never mixes bucket counts), and the
    streamed ledgers must equal the batch-operator replay under the
    custom layout."""
    import os

    from pyspark.sql import functions as F

    from yamr_spark.operators.curation import substring_dedup_incremental
    from yamr_spark.streaming.lsh import stage_stream_files
    from yamr_spark.streaming.substring import (
        build_window_index,
        read_ledgers,
        stream_substring_into_index,
    )
    from yamr_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    index_dir = str(tmp_path / "index")
    build_window_index(docs.where(F.col("doc_id") % 2 == 0), index_dir, n_hb=4)
    stage_stream_files(
        docs, str(tmp_path / "stream"), [F.col("doc_id") % 2 == 1]
    )
    stream_substring_into_index(
        spark, str(tmp_path / "stream"), docs.schema, index_dir,
        str(tmp_path / "results"), str(tmp_path / "ckpt"),
    )
    # every batch partition (seed AND streamed) uses the recorded 4
    for d in os.listdir(index_dir):
        if d.startswith("batch_id="):
            hbs = {
                int(x.split("=", 1)[1])
                for x in os.listdir(os.path.join(index_dir, d))
                if x.startswith("hb=")
            }
            assert hbs and hbs <= set(range(4)), (d, hbs)
    got = {
        int(r.doc_id): (int(r.n_tokens), int(r.dropped_tokens))
        for r in read_ledgers(spark, str(tmp_path / "results")).collect()
    }
    want = {
        int(r.doc_id): (int(r.n_tokens), int(r.dropped_tokens))
        for r in substring_dedup_incremental(
            docs.where(F.col("doc_id") % 2 == 1),
            docs.where(F.col("doc_id") % 2 == 0),
        ).collect()
        if r.n_tokens >= 8
    }
    assert got == want


_STORE_SCHEMA = "user_id long, event_id long, value double, ts timestamp"


def _store_rows(spark, keys, day):
    return spark.createDataFrame(
        [(k, day * 1000 + k, float(k), dt.datetime(2024, 1, day)) for k in keys],
        _STORE_SCHEMA,
    )


def _every_and_one_bucket(spark, n_buckets=8):
    """(keys 0..63, which cover every bucket; the keys of ONE bucket).
    The one-bucket set has several rows: on a one-row batch AQE drops
    a stage for reasons unrelated to the bucket count."""
    from yamr_spark.streaming.upsert import _bucket_of

    rows = spark.range(64).select(
        F.col("id").alias("k"), _bucket_of(F.col("id"), n_buckets).alias("b")
    ).collect()
    assert len({r.b for r in rows}) == n_buckets
    one = [r.k for r in rows if r.b == rows[0].b]
    assert len(one) > 1
    return [r.k for r in rows], one


def test_read_store_reads_dpo_store(spark, tmp_path):
    """``read_store`` reads a store written by
    ``merge_batch_into_store_dpo``."""
    from yamr_spark.streaming.upsert import (
        keep_latest,
        merge_batch_into_store_dpo,
        read_store,
    )

    b1 = _store_rows(spark, range(10), day=1)
    b2 = _store_rows(spark, [1, 3, 12], day=2)
    store = str(tmp_path / "dpo")
    for b in (b1, b2):
        merge_batch_into_store_dpo(b, store, key="user_id", order="ts", tie="event_id")
    got = {(r.user_id, r.event_id) for r in read_store(spark, store).collect()}
    want = {
        (r.user_id, r.event_id)
        for r in keep_latest(b1.unionByName(b2), "user_id", "ts", "event_id").collect()
    }
    assert got == want and len(got) == 11


@pytest.mark.parametrize(
    "writer", ["merge_batch_into_store", "merge_batch_into_store_dpo"]
)
def test_merge_jobs_do_not_grow_with_touched_buckets(spark, tmp_path, job_count, writer):
    """A merge touching one bucket runs as many Spark jobs as a merge
    touching all eight: the touched buckets are written in one
    partitioned write, not one job loop per bucket. The old buckets are
    read with the batch's schema, so at most five jobs run."""
    from yamr_spark.streaming import upsert

    merge = getattr(upsert, writer)
    every, one = _every_and_one_bucket(spark)
    store = str(tmp_path / "store")
    keys = dict(key="user_id", order="ts", tie="event_id")
    merge(_store_rows(spark, every, day=1), store, **keys)
    b_one, b_all = _store_rows(spark, one, day=2), _store_rows(spark, every, day=3)
    n_one = job_count(lambda: merge(b_one, store, **keys))
    n_all = job_count(lambda: merge(b_all, store, **keys))
    assert n_one == n_all <= 5, (n_one, n_all)
    assert {r.event_id for r in upsert.read_store(spark, store).collect()} == {
        3000 + k for k in every
    }


def test_staging_residue_invisible_and_swept(spark, tmp_path, crash_commit):
    """A merge that crashes before its intent is written leaves a staging
    dir that is invisible to ``read_store`` and to a plain scan of the
    store root, and the next merge drops it."""
    import os

    from yamr_spark import dircommit
    from yamr_spark.streaming.upsert import merge_batch_into_store, read_store

    store = str(tmp_path / "store")
    keys = dict(key="user_id", order="ts", tie="event_id")
    merge_batch_into_store(_store_rows(spark, range(8), day=1), store, **keys)
    truth = {(r.user_id, r.event_id) for r in read_store(spark, store).collect()}
    with crash_commit(1), pytest.raises(crash_commit.Crash):
        merge_batch_into_store(_store_rows(spark, range(8), day=3), store, **keys)
    stage = os.path.join(store, dircommit.STAGING)
    assert any(d.startswith("__bucket=") for d in os.listdir(stage))

    assert {(r.user_id, r.event_id) for r in read_store(spark, store).collect()} == truth
    assert spark.read.parquet(store).count() == len(truth)

    merge_batch_into_store(_store_rows(spark, [0], day=2), store, **keys)
    assert not os.path.exists(stage)
    assert not {"_commits", "_trash"} & set(os.listdir(store))
    got = {(r.user_id, r.event_id) for r in read_store(spark, store).collect()}
    assert got == (truth - {(0, 1000)}) | {(0, 2000)}
