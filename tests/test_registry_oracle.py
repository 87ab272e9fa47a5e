"""Differential check: every registered query must match its DuckDB
oracle on the same parquet — a strict replica of the driver's t2 gate,
run at sf0.001 for speed (the driver runs sf0.01). Values compare by
``perfbench/canon.py``'s ``frame_digest``: exact float bits, type
families, sorted column names, order-insensitive rows.

The same pass checks the driver's canonicalization contract on the
DataFrame it already builds: the production driver sorts the pandas
result and factorizes each column, which crashes on unhashable values
— bytearrays (BinaryType), lists (ArrayType), dicts (MapType) and Rows
(StructType). Registered queries project hex/digest for bytes and
array_join/to_json for collections instead.

Bench headline and certification plans are also audited: a window
fed by one partition must be in ``ALLOWED_SINGLE_PARTITION_WINDOWS``,
and every allowlisted plan must still have one.
"""

from __future__ import annotations

import bench
import duckdb
import pytest
from canon import frame_digest
from pyspark.sql import types as T

from yamr_spark.plans import (
    ALLOWED_SINGLE_PARTITION_WINDOWS,
    single_partition_window_count,
)
from yamr_spark.registry import all_oracles, all_queries
from yamr_spark.tables import TABLE_NAMES


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _driver_hashable(dt: T.DataType) -> bool:
    """Only scalar types survive pandas factorize; arrays become lists
    (unhashable), maps become dicts, structs become Rows, binary
    becomes bytearray."""
    return not isinstance(dt, (T.BinaryType, T.MapType, T.ArrayType, T.StructType))


def _query_names():
    return sorted(all_oracles().keys())


@pytest.mark.parametrize("name", _query_names())
def test_query_matches_oracle(spark, sf_dir, name):
    sdf = all_queries()[name](spark, sf_dir)
    offenders = [f.name for f in sdf.schema.fields if not _driver_hashable(f.dataType)]
    assert not offenders, (
        "driver canonicalizer cannot hash these columns — project hex/"
        f"digest/array_join/to_json instead: { {name: offenders} }"
    )
    if name in bench.HEADLINE + bench.CERTIFICATION:
        # read the pre-execution plan, as the bench's first build sees it
        assert (single_partition_window_count(sdf) > 0) == (
            name in ALLOWED_SINGLE_PARTITION_WINDOWS
        ), f"{name}: single-partition window unaudited or allowlist entry stale"
    spark_df = sdf.toPandas()
    duck_df = _duck(sf_dir).execute(all_oracles()[name]).fetchdf()
    assert sorted(spark_df.columns) == sorted(duck_df.columns), (
        f"{name}: column mismatch {spark_df.columns} vs {duck_df.columns}"
    )
    assert len(spark_df) == len(duck_df), f"{name}: row count mismatch"
    assert frame_digest(spark_df) == frame_digest(duck_df), f"{name}: value mismatch"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
