"""``tmpdirs.session_store``: the one way a query builds a per-process
store once. Its ``_BUILT`` marker is written only after the builder
returns, so a build that fails part-way is redone from an empty path
instead of being served half-built."""

from __future__ import annotations

import os
import sys

import bench
import pytest
from canon import frame_digest
from pyspark.sql.readwriter import DataFrameWriter
from test_registry_oracle import _duck

from yamr_spark import tmpdirs
from yamr_spark.registry import all_oracles, all_queries


@pytest.fixture
def fresh_dirs(monkeypatch):
    monkeypatch.setattr(tmpdirs, "_DIRS", {})


def test_session_store_builds_once(fresh_dirs):
    calls = []
    first = tmpdirs.session_store("k", calls.append)
    assert tmpdirs.session_store("k", calls.append) == first
    assert calls == [first]


def test_failed_build_leaves_no_marker_and_rebuilds_from_empty(fresh_dirs):
    def failing(path):
        os.makedirs(path)
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError):
        tmpdirs.session_store("k", failing)
    assert os.listdir(tmpdirs.session_dir("k")) == ["store"]
    seen = []
    tmpdirs.session_store("k", lambda p: seen.append(os.path.exists(p)))
    assert seen == [False]
    assert "_BUILT" in os.listdir(tmpdirs.session_dir("k"))


def test_schema_evolution_retry_after_failed_append_matches_oracle(
    spark, sf_dir, fresh_dirs, monkeypatch
):
    """The store is written in two jobs (overwrite, then append); after
    a failed append the first job's ``_SUCCESS`` stays, and a retry in
    the same process must rebuild rather than read one generation."""
    real, calls = DataFrameWriter.parquet, []

    def second_write_fails_once(self, *args, **kwargs):
        calls.append(args)
        if len(calls) == 2:
            raise RuntimeError("append failed")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", second_write_fails_once)
    q = all_queries()["schema_evolution_stats"]
    with pytest.raises(RuntimeError):
        q(spark, sf_dir)
    got = q(spark, sf_dir).toPandas()
    want = _duck(sf_dir).execute(all_oracles()["schema_evolution_stats"]).fetchdf()
    assert frame_digest(got) == frame_digest(want)


def test_store_warmup_entries_are_headline_session_stores(
    spark, sf_dir, monkeypatch
):
    """Every untimed bench warmup entry is a headline query whose build
    goes through ``session_store`` — the warmup exists only to pay that
    one-time store layout."""
    real, keys = tmpdirs.session_store, []

    def recording(key, build):
        keys.append(key)
        return real(key, build)

    for mod in [m for n, m in list(sys.modules.items()) if n.startswith("yamr_spark")]:
        if getattr(mod, "session_store", None) is real:
            monkeypatch.setattr(mod, "session_store", recording)
    for name in bench.STORE_WARMUP:
        assert name in bench.HEADLINE, name
        keys.clear()
        all_queries()[name](spark, sf_dir)
        assert keys, f"{name} builds no session_store"
