"""Session-scoped temp directories for queries that materialize a store
or sink (IVF partitioned store, streaming parquet sink + checkpoint).

One directory per (process, key), removed at interpreter exit — repeated
invocations of the same query (bench warmup + timed pass, driver
correctness + replica) reuse the directory instead of leaking a fresh
mkdtemp per call. A streaming sink + checkpoint pair reuses its
directory safely: it is exactly-once, so a re-invocation is a no-op batch.

``session_store`` is the one way a query builds a store once per
process. Its commit point is a marker written LAST, after the builder
returns, so a builder may write in several jobs (overwrite then append,
two snapshot commits, index plus staged stream files) — Spark's per-job
``_SUCCESS`` would trust a half-built store. A store is immutable once
built, so the timed pass measures the probe (the build is the one-time
layout cost at 100 TB). The winnow fingerprint table is an external
bucketed table over such a store, keyed by the applicationId because
its in-memory catalog entry dies with the SparkContext; nothing is
written to ``./spark-warehouse``.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

_DIRS: dict[str, str] = {}


def session_dir(key: str, prefix: str = "yamr_tmp_") -> str:
    """Return the per-process temp dir for ``key``, creating (and
    registering for exit-time removal) on first use."""
    if key not in _DIRS:
        d = tempfile.mkdtemp(prefix=prefix)
        _DIRS[key] = d
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return _DIRS[key]


def session_store(key: str, build: Callable[[str], object]) -> str:
    """Return ``<session_dir(key)>/store``, calling ``build(path)`` first
    unless this process already built it (marker ``_BUILT`` present). A
    build that raises leaves no marker; the next call clears the
    partial store and builds again."""
    d = session_dir(key)
    store = os.path.join(d, "store")
    marker = os.path.join(d, "_BUILT")
    if not os.path.exists(marker):
        shutil.rmtree(store, ignore_errors=True)
        build(store)
        open(marker, "w").close()
    return store
