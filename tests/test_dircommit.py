"""``yamr_spark.dircommit``: every directory-store writer commits
through one intent log. A crash at any filesystem step of a real
commit, then ``recover``, reads as the store before the commit or
after it, and after it whenever the intent was written."""

from __future__ import annotations

import ast
import contextlib
import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from yamr_spark import dircommit
from yamr_spark.tables import table


def _visible_files(store: str) -> frozenset[str]:
    """The parquet files a scan of ``store`` sees: Spark's file index
    skips ``_``- and ``.``-prefixed names that hold no ``=``."""
    out = set()
    for root, dirs, files in os.walk(store):
        dirs[:] = [d for d in dirs if "=" in d or not d.startswith(("_", "."))]
        rel = os.path.relpath(root, store)
        out |= {
            os.path.normpath(os.path.join(rel, f))
            for f in files
            if f.endswith(".parquet")
        }
    return frozenset(out)


def _keyed_merge(spark, sf_dir, store):
    from yamr_spark.streaming.upsert import merge_batch_into_store, read_store

    def rows(keys, day):
        return spark.createDataFrame(
            [(k, day * 1000 + k, dt.datetime(2024, 1, day)) for k in keys],
            "user_id long, event_id long, ts timestamp",
        )

    keys = dict(key="user_id", order="ts", tie="event_id")
    merge_batch_into_store(rows(range(16), 1), store, **keys)
    return (
        lambda: merge_batch_into_store(rows(range(8, 24), 2), store, **keys),
        lambda s: read_store(spark, s),
    )


def _compaction(nested):
    def setup(spark, sf_dir, store):
        from yamr_spark.operators.maintenance import compact_store

        docs = table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
        w = docs.repartition(6).write
        (w.partitionBy("lang") if nested else w).parquet(store)
        return (
            lambda: compact_store(spark, store, target_bytes=64 << 20),
            lambda s: spark.read.parquet(s),
        )

    return setup


def _substring_fold(spark, sf_dir, store):
    from yamr_spark.streaming.substring import (
        _window_table,
        _write_index_partition,
        build_window_index,
        compact_window_index,
    )

    docs = table(spark, sf_dir, "documents")
    build_window_index(docs.where(F.col("doc_id") % 4 == 0), store)
    for bid, mod in ((0, 2), (1, 1)):
        _write_index_partition(
            _window_table(docs.where(F.col("doc_id") % 4 == mod)), store, bid
        )
    # folds batch_id=-1 and 0: deletes batch_id=0 and replaces
    # batch_id=-1 with the hb-partitioned stage
    return (
        lambda: compact_window_index(spark, store, upto=0),
        lambda s: spark.read.parquet(s),
    )


WRITERS = {
    "keyed_merge": _keyed_merge,
    "nested_compaction": _compaction(nested=True),
    "flat_compaction": _compaction(nested=False),
    "substring_fold": _substring_fold,
}


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_crash_at_every_step_recovers(
    spark, sf_dir, tmp_path, monkeypatch, crash_commit, writer
):
    store, snap = str(tmp_path / "store"), str(tmp_path / "snap")
    write, read = WRITERS[writer](spark, sf_dir, store)
    captured = []
    real_commit = dircommit.commit

    def capture(root, moves, deletes=()):
        if not captured:
            # the writer staged inside its store, and nowhere else
            assert os.listdir(tmp_path) == ["store"]
            shutil.copytree(root, snap)
            captured.append((moves, list(deletes)))
        real_commit(root, moves, deletes)

    with monkeypatch.context() as m:
        m.setattr(dircommit, "commit", capture)
        write()
    moves, deletes = captured[0]

    def state(root):
        return _visible_files(root), sorted(map(repr, read(root).collect()))

    def replica(name):
        shutil.copytree(snap, str(tmp_path / name))
        return str(tmp_path / name)

    pre = state(snap)
    done = replica("done")
    with crash_commit(None) as steps:
        dircommit.commit(done, moves, deletes)
    post = state(done)
    assert pre[0] != post[0]
    # the intent, then at least one rename per move and delete
    assert len(steps) > len(moves) + len(deletes)
    for k in range(1, len(steps) + 1):
        d = replica(f"crash_{k}")
        with crash_commit(k), pytest.raises(crash_commit.Crash):
            dircommit.commit(d, moves, deletes)
        # before recovery a scan sees no file outside the two states
        assert _visible_files(d) <= pre[0] | post[0], steps[k - 1]
        # a crash in the first replay step is recovered by the next
        with crash_commit(1), contextlib.suppress(crash_commit.Crash):
            dircommit.recover(d)
        dircommit.recover(d)
        # step 1 writes the intent: the commit point
        assert state(d) == (post if k > 1 else pre), steps[k - 1]
        assert not {"_commits", "_trash"} & set(os.listdir(d))
        shutil.rmtree(d)


def test_commit_rejects_a_path_both_deleted_and_moved_onto(tmp_path):
    """A replay after the move would delete the moved data."""
    os.makedirs(tmp_path / "_staging")
    with pytest.raises(ValueError, match="both deleted and moved onto"):
        dircommit.commit(str(tmp_path), {"_staging": "p"}, deletes=["p"])
    assert sorted(os.listdir(tmp_path)) == ["_staging"]


def test_store_writers_rename_only_through_dircommit():
    """The keyed store, compaction and the prefix fold replace nothing
    by hand: every rename goes through ``dircommit.commit``."""
    import yamr_spark

    banned = {("os", "rename"), ("os", "replace"), ("shutil", "move")}
    base = os.path.dirname(yamr_spark.__file__)
    for rel in (
        "streaming/upsert.py",
        "operators/maintenance.py",
        "streaming/sketch_compact.py",
    ):
        with open(os.path.join(base, rel)) as fh:
            tree = ast.parse(fh.read())
        found = [
            f"{node.value.id}.{node.attr}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and (node.value.id, node.attr) in banned
        ]
        found += [
            f"{node.module}.{a.name}"
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if (node.module, a.name) in banned
        ]
        assert not found, (rel, found)
