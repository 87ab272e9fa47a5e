"""Versioned keyed table: snapshot isolation, time travel, bucket-version
sharing, and mark-and-sweep expiry."""

from __future__ import annotations

import os
from datetime import datetime

from yamr_spark.operators.snapshots import (
    commit_merge,
    create_table,
    expire_snapshots,
    list_snapshots,
    read_manifest,
    read_snapshot,
)

SCHEMA = "user_id long, event_id long, value double, ts timestamp"


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_time_travel_and_bucket_sharing(spark, tmp_path):
    table = str(tmp_path / "t")
    create_table(table)

    v1 = commit_merge(
        _batch(
            spark,
            [
                (1, 10, 1.0, datetime(2024, 1, 1)),
                (2, 11, 2.0, datetime(2024, 1, 1)),
            ],
        ),
        table, key="user_id", order="ts", tie="event_id",
    )
    v2 = commit_merge(
        _batch(spark, [(1, 12, 9.0, datetime(2024, 1, 2))]),
        table, key="user_id", order="ts", tie="event_id",
    )
    assert (v1, v2) == (1, 2)

    # time travel: v1 still shows the pre-merge row for user 1
    s1 = {(r.user_id, r.event_id) for r in read_snapshot(spark, table, 1).collect()}
    s2 = {(r.user_id, r.event_id) for r in read_snapshot(spark, table).collect()}
    assert s1 == {(1, 10), (2, 11)}
    assert s2 == {(1, 12), (2, 11)}

    # untouched buckets are inherited by pointer, not rewritten: user 2's
    # bucket entry must be identical across the two manifests (unless
    # users 1 and 2 share a bucket, in which case both advance)
    m1, m2 = read_manifest(table, 1), read_manifest(table, 2)
    shared = set(m1["buckets"].items()) & set(m2["buckets"].items())
    touched_2 = {b for b, v in m2["buckets"].items() if v == 2}
    assert len(touched_2) >= 1
    assert len(m1["buckets"]) - len(shared) == len(
        {b for b in m1["buckets"] if b in touched_2}
    )


def test_expire_keeps_latest_readable_and_sweeps_orphans(spark, tmp_path):
    table = str(tmp_path / "t")
    create_table(table)
    for day, (uid, eid) in enumerate([(1, 10), (1, 11), (2, 12)], start=1):
        commit_merge(
            _batch(spark, [(uid, eid, 1.0, datetime(2024, 1, day))]),
            table, key="user_id", order="ts", tie="event_id",
        )
    assert list_snapshots(table) == [0, 1, 2, 3]

    latest_before = {
        (r.user_id, r.event_id) for r in read_snapshot(spark, table).collect()
    }
    deleted = expire_snapshots(table, keep_last=1)
    assert list_snapshots(table) == [3]
    assert len(deleted) >= 1
    # everything the retained manifest references survives
    latest_after = {
        (r.user_id, r.event_id) for r in read_snapshot(spark, table).collect()
    }
    assert latest_after == latest_before == {(1, 11), (2, 12)}
    # swept paths are gone
    for p in deleted:
        assert not os.path.exists(p)


def test_random_batch_sequence_equals_one_shot(spark, tmp_path):
    """Property-ish: any sequence of commits equals keep_latest over the
    concatenation (associativity through the manifest chain)."""
    import random
    from datetime import datetime, timedelta

    from yamr_spark.streaming.upsert import keep_latest

    rng = random.Random(7)
    base = datetime(2024, 1, 1)
    all_rows = []
    table = str(tmp_path / "t")
    create_table(table)
    for _ in range(4):
        batch = [
            (
                rng.randrange(6),
                len(all_rows) * 100 + i,
                float(rng.randrange(100)),
                base + timedelta(minutes=rng.randrange(10000)),
            )
            for i in range(rng.randrange(1, 8))
        ]
        all_rows += batch
        commit_merge(
            _batch(spark, batch), table, key="user_id", order="ts", tie="event_id"
        )
    got = {
        (r.user_id, r.event_id) for r in read_snapshot(spark, table).collect()
    }
    want = {
        (r.user_id, r.event_id)
        for r in keep_latest(
            _batch(spark, all_rows), "user_id", "ts", "event_id"
        ).collect()
    }
    assert got == want


def test_read_missing_snapshot_raises(spark, tmp_path):
    import pytest

    table = str(tmp_path / "t")
    create_table(table)
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, 99)
    with pytest.raises(ValueError):
        read_snapshot(spark, table, 0)  # empty snapshot


def test_commit_jobs_do_not_grow_with_touched_buckets(spark, tmp_path, job_count):
    """A commit touching one bucket runs as many Spark jobs as a commit
    touching all eight: one partitioned write stages every touched
    bucket. The old buckets are read with the batch's schema, so at
    most five jobs run."""
    from pyspark.sql import functions as F

    from yamr_spark.streaming.upsert import _bucket_of

    rows = spark.range(64).select(
        F.col("id").alias("k"), _bucket_of(F.col("id"), 8).alias("b")
    ).collect()
    every = [r.k for r in rows]
    one = [r.k for r in rows if r.b == rows[0].b]
    assert len({r.b for r in rows}) == 8 and len(one) > 1

    def batch(keys, day):
        return _batch(spark, [(k, day * 1000 + k, 1.0, datetime(2024, 1, day)) for k in keys])

    table = str(tmp_path / "t")
    create_table(table)
    keys = dict(key="user_id", order="ts", tie="event_id")
    commit_merge(batch(every, 1), table, **keys)
    b_one, b_all = batch(one, 2), batch(every, 3)
    n_one = job_count(lambda: commit_merge(b_one, table, **keys))
    n_all = job_count(lambda: commit_merge(b_all, table, **keys))
    assert n_one == n_all <= 5, (n_one, n_all)
    assert {r.event_id for r in read_snapshot(spark, table).collect()} == {
        3000 + k for k in every
    }


def test_staging_residue_invisible_swept_and_expiry_safe(spark, tmp_path):
    """A staging dir left by a crashed commit is invisible to
    ``read_snapshot``, leaves ``expire_snapshots`` working, and is
    swept by the next commit."""
    import shutil

    from yamr_spark.dircommit import STAGING

    table = str(tmp_path / "t")
    create_table(table)
    keys = dict(key="user_id", order="ts", tie="event_id")
    rows = [(u, 10 + u, 1.0, datetime(2024, 1, 1)) for u in range(6)]
    commit_merge(_batch(spark, rows), table, **keys)
    truth = {(r.user_id, r.event_id) for r in read_snapshot(spark, table).collect()}
    bucket, v = sorted(read_manifest(table)["buckets"].items())[0]
    stage = os.path.join(table, STAGING)
    shutil.copytree(
        os.path.join(table, "buckets", f"bucket={bucket}", f"v={v}"),
        os.path.join(stage, f"__bucket={bucket}"),
    )

    assert {(r.user_id, r.event_id) for r in read_snapshot(spark, table).collect()} == truth
    expire_snapshots(table, keep_last=1)
    assert list_snapshots(table) == [1]
    assert {(r.user_id, r.event_id) for r in read_snapshot(spark, table).collect()} == truth

    commit_merge(_batch(spark, [(0, 99, 2.0, datetime(2024, 1, 2))]), table, **keys)
    assert not os.path.exists(stage)
    got = {(r.user_id, r.event_id) for r in read_snapshot(spark, table).collect()}
    assert got == (truth - {(0, 10)}) | {(0, 99)}
