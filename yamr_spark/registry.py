"""Query registry — the driver-facing inventory of implemented operators.

Every operator from SURVEY.md §2 (and the north-star extensions) gets a
named entry: a ``(spark, sf_dir) -> DataFrame`` callable plus, when the
semantics are ANSI-SQL-expressible, a DuckDB oracle string the driver runs
side-by-side at sf=0.01. Column names/types are aligned on both sides
(the driver hashes values after sorting columns by name).

Use ``@register("name", oracle="SELECT ...")`` to add entries;
``__spark_entry__.py`` re-exports the dicts.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import tempfile
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Ship yamr_spark to python workers via addPyFile (once per session).

    Operators that run python-side (mapInPandas/applyInPandas) close over
    functions cloudpickle serializes BY REFERENCE to this package, so the
    workers must be able to import it. The driver's session is vanilla
    (no PYTHONPATH for the python daemon), and on a real cluster the
    executors have no local checkout at all — addPyFile is the cluster
    answer (same mechanism as spark-submit --py-files), so it is also the
    local answer."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempfile.gettempdir(), f"yamr_spark_pkg_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fname in files:
                    if not fname.endswith(".py"):
                        continue
                    full = os.path.join(root, fname)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED.add(app_id)


def register(name: str, oracle: str | None = None):
    """Register a query under ``name`` with an optional DuckDB oracle.

    Queries without an oracle get the driver's weaker rows-only check
    (reserved for genuinely non-SQL-expressible ops).
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ship_package(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _load_query_modules() -> None:
    """Import every module that registers queries (side-effect imports).

    Imports are unconditional: a broken query module must fail LOUDLY here,
    not silently shrink the registry (and with it the driver's correctness
    gate). All ten modules exist; there is no 'not built yet' state."""
    for mod in (
        "queries_core",
        "queries_relational",
        "queries_dedup",
        "queries_similarity",
        "queries_text",
        "queries_streaming",
        "queries_multimodal",
        "queries_temporal",
        "queries_functions",
        "queries_compat",
        "queries_analytics",
        "queries_curation",
        "queries_tpch",
    ):
        __import__(f"yamr_spark.{mod}")


_LOADED = False
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_stamps(repo: str = _REPO) -> dict[str, tuple[int, bool]]:
    """{query: (latest round whose ``CORRECTNESS_r*.json`` has a row for
    it, whether that row was green)} — the driver's certification stamps."""
    latest: dict[str, tuple[int, bool]] = {}
    files = glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
    for rnd, f in sorted((int(f.rsplit("_r", 1)[1].split(".")[0]), f) for f in files):
        with open(f) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if isinstance(row, dict):
                ok = row.get("rows_match") and row.get("schema_match")
                ok = ok and row.get("hash_match", True) and not row.get("err")
                latest[name] = (rnd, bool(ok))
    return latest


@functools.cache
def _stamp_rounds() -> dict[str, int]:
    return {name: rnd for name, (rnd, _) in load_stamps().items()}


def _certification_order(d: dict) -> dict:
    """The driver certifies the first entries of ``queries()``, so order
    them never-stamped first, then oldest stamp first. Registration order
    breaks ties, and is the whole order when no stamp files exist."""
    rounds = _stamp_rounds()
    return {n: d[n] for n in sorted(d, key=lambda n: rounds.get(n, 0))}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    global _LOADED
    if not _LOADED:
        _load_query_modules()
        _LOADED = True
    return _certification_order(QUERIES)


def all_oracles() -> dict[str, str]:
    all_queries()
    return _certification_order(ORACLES)
