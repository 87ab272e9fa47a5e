"""Prefix compaction of the per-batch sketch delta stores: served
results must be IDENTICAL before and after folding a committed prefix,
and a fold that crashes before, during or after its commit recovers
to that same served result."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from yamr_spark import dircommit
from yamr_spark.streaming.cms import read_cms_store, stream_cms_to_store
from yamr_spark.streaming.events import stream_events
from yamr_spark.streaming.kmv import read_kmv_store, stream_kmv_to_store
from yamr_spark.streaming.sketch_compact import cms_merge, compact_prefix, kmv_merge


def _batch_ids(store):
    return sorted(
        int(d.split("=")[1]) for d in os.listdir(store) if d.startswith("batch_id=")
    )


def _split_into_batches(spark, store, n=3):
    """The availableNow drain lands one batch at test scale; re-shard
    the partitions into n synthetic committed batches so compaction has
    a real prefix to fold. Rows go through the DRIVER, not cache():
    caching is best-effort, and an evicted partition would recompute
    from the store deleted on the next line (review r09 finding)."""
    src = spark.read.parquet(store).drop("batch_id")
    cols = src.columns
    rows = src.collect()  # sketch stores are tiny (cells / bottom-k)
    shutil.rmtree(store)
    for b in range(n):
        part = spark.createDataFrame(
            [r for i, r in enumerate(rows) if i % n == b], src.schema
        )
        (
            part.select(*cols)
            .withColumn("batch_id", F.lit(b))
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(store)
        )


@pytest.fixture()
def cms_store(spark, sf_dir, tmp_path):
    store = os.path.join(str(tmp_path), "store")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    stream_cms_to_store(stream_events(spark, sf_dir), "user_id", store, ckpt)
    _split_into_batches(spark, store)
    return store


def _served_cms(spark, store):
    return sorted(
        map(tuple, read_cms_store(spark, store).collect())
    )


def test_cms_compact_preserves_served_sketch(spark, cms_store):
    before = _served_cms(spark, cms_store)
    assert len(_batch_ids(cms_store)) == 3
    folded = compact_prefix(spark, cms_store, cms_merge, upto=1)
    assert folded == 2
    assert _batch_ids(cms_store) == [0, 2]
    assert _served_cms(spark, cms_store) == before
    # idempotent: nothing left to fold below upto
    assert compact_prefix(spark, cms_store, cms_merge, upto=1) == 1


def test_kmv_compact_preserves_served_sketch(spark, sf_dir, tmp_path):
    store = os.path.join(str(tmp_path), "store")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    stream_kmv_to_store(stream_events(spark, sf_dir), "user_id", store, ckpt, k=32)
    _split_into_batches(spark, store)
    before = read_kmv_store(spark, store, k=32).collect()
    compact_prefix(spark, store, kmv_merge(32), upto=1)
    assert read_kmv_store(spark, store, k=32).collect() == before


def test_crash_before_marker_drops_stage(spark, cms_store, crash_commit):
    """A fold that crashes before its intent is written leaves the store
    as it was; the next fold drops the uncommitted stage."""
    before = _served_cms(spark, cms_store)
    with crash_commit(1), pytest.raises(crash_commit.Crash):
        compact_prefix(spark, cms_store, cms_merge, upto=1)
    assert os.path.isdir(os.path.join(cms_store, dircommit.STAGING))
    assert _served_cms(spark, cms_store) == before
    assert _batch_ids(cms_store) == [0, 1, 2]
    assert compact_prefix(spark, cms_store, cms_merge, upto=1) == 2
    assert not os.path.exists(os.path.join(cms_store, dircommit.STAGING))
    assert _served_cms(spark, cms_store) == before


def test_crash_after_marker_mid_delete_completes(spark, cms_store, crash_commit):
    """A fold that crashes after its intent, with one of two folded
    partitions deleted, is completed by the read path's recovery."""
    before = _served_cms(spark, cms_store)
    # steps: 1 intent, 2 delete batch_id=1, 3 delete batch_id=2
    with crash_commit(3) as steps, pytest.raises(crash_commit.Crash):
        compact_prefix(spark, cms_store, cms_merge, upto=2, stream_stopped=True)
    assert steps[2][1] == os.path.join(cms_store, "batch_id=2")
    assert _batch_ids(cms_store) == [0, 2]
    assert _served_cms(spark, cms_store) == before
    assert _batch_ids(cms_store) == [0]


def test_crash_after_move_marker_left(spark, cms_store, crash_commit):
    """A replay of an intent whose move already completed keeps the
    merged partition: the fold replaces its target, never deletes it."""
    before = _served_cms(spark, cms_store)
    # steps: 1 intent, 2 delete batch_id=1, 3 old batch_id=0 to the
    # trash, 4 move the stage onto batch_id=0, 5 drop the trash
    with crash_commit(5) as steps, pytest.raises(crash_commit.Crash):
        compact_prefix(spark, cms_store, cms_merge, upto=1)
    assert steps[3][2] == os.path.join(cms_store, "batch_id=0")
    assert os.listdir(os.path.join(cms_store, "_commits"))
    dircommit.recover(cms_store)
    assert not os.path.exists(os.path.join(cms_store, "_commits"))
    assert _batch_ids(cms_store) == [0, 2]
    assert _served_cms(spark, cms_store) == before


def test_compact_guard_rejects_newest_batch(spark, cms_store):
    """ADVICE r09: the replay contract (never fold a batch foreachBatch
    may still replay) is enforced structurally — upto at or beyond the
    newest batch id raises and the store is untouched."""
    import pytest

    before = _served_cms(spark, cms_store)
    for bad in (2, 99):
        with pytest.raises(ValueError, match="newest"):
            compact_prefix(spark, cms_store, cms_merge, upto=bad)
    assert _batch_ids(cms_store) == [0, 1, 2]
    assert _served_cms(spark, cms_store) == before


def test_compact_stream_stopped_folds_newest(spark, cms_store):
    """ADVICE r10: after a clean stream stop no replay is possible, so
    stream_stopped=True may fold the FULL prefix including the newest
    batch — and the served sketch is unchanged by the fold."""
    before = _served_cms(spark, cms_store)
    folded = compact_prefix(
        spark, cms_store, cms_merge, upto=2, stream_stopped=True
    )
    assert folded == 3
    assert _batch_ids(cms_store) == [0]
    assert _served_cms(spark, cms_store) == before
