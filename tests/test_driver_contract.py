"""Driver-harness contract guards: the production driver canonicalizes
results via pandas (sort_values + per-column factorize), which crashes
on any column whose values are unhashable Python objects — bytearrays
(BinaryType — CORRECTNESS_r05's multimodal ERRs), but equally lists /
ndarrays (ArrayType), dicts (MapType), and Rows (StructType). These
tests pin the contract so a future query can't reintroduce the class:
every registered query must emit only scalar columns (hex/digest for
bytes, array_join/to_json for collections), and every oracle key must
have a query."""

from __future__ import annotations

from pyspark.sql import types as T

from yamr_spark.registry import all_oracles, all_queries


def _driver_hashable(dt: T.DataType) -> bool:
    """Only scalar types survive pandas factorize; arrays become lists
    (unhashable), maps become dicts, structs become Rows, binary
    becomes bytearray."""
    return not isinstance(
        dt, (T.BinaryType, T.MapType, T.ArrayType, T.StructType)
    )


def test_no_registered_query_emits_unhashable_columns(spark, sf_dir):
    bad = {}
    for name, fn in all_queries().items():
        schema = fn(spark, sf_dir).schema
        offenders = [
            f.name for f in schema.fields if not _driver_hashable(f.dataType)
        ]
        if offenders:
            bad[name] = offenders
    assert not bad, (
        "driver canonicalizer cannot hash these columns — project hex/"
        f"digest/array_join/to_json instead: {bad}"
    )


def test_every_oracle_has_query_and_no_empty_sql():
    qs, os_ = all_queries(), all_oracles()
    assert set(os_) <= set(qs)
    for name, sql in os_.items():
        assert sql.strip(), name


def test_driver_priority_names_resolve(spark):
    """``queries()`` lists every registered name exactly once, in the
    certification order: never-stamped first, then oldest
    ``CORRECTNESS_r*.json`` stamp first, registration order breaking
    ties."""
    from yamr_spark.registry import QUERIES, load_stamps

    names = list(all_queries())
    assert sorted(names) == sorted(QUERIES) and len(set(names)) == len(names)
    rounds = {n: r for n, (r, _) in load_stamps().items()}
    registered = list(QUERIES)
    keys = [(rounds.get(n, 0), registered.index(n)) for n in names]
    assert keys == sorted(keys)
    assert list(all_oracles()) == [n for n in names if n in all_oracles()]
