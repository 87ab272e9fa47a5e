"""Driver-harness contract guards: every registered query has a
non-empty oracle (so ``test_registry_oracle`` compares all of them and
checks each one's schema for the driver's hashable-columns contract),
and ``queries()`` lists the names in certification order."""

from __future__ import annotations

from yamr_spark.registry import all_oracles, all_queries


def test_every_oracle_has_query_and_no_empty_sql():
    qs, os_ = all_queries(), all_oracles()
    assert set(os_) == set(qs)
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
