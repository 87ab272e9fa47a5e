"""Versioned keyed table over plain parquet: snapshot isolation, time
travel, and snapshot expiry — the Iceberg/Delta core, re-expressed with
immutable bucket versions + JSON manifests so the engine carries no
table-format dependency.

Layout::

    table/
      buckets/bucket=K/v=N/   immutable parquet directories
      manifests/v=N.json      {"version": N, "buckets": {"K": N_K, ...}}
      LATEST                  current version number (atomic tmp+rename)
      _staging/               the commit in flight (crash residue)

Every commit writes NEW versions of only the buckets it touches and a
new manifest whose untouched entries still point at the old bucket
versions — data files are shared across snapshots, never rewritten in
place. The touched buckets are written by the keyed store's one staged
write (``streaming.upsert._stage_merge``): one ``partitionBy`` write
into ``_staging/``, outside ``buckets/`` so ``expire_snapshots`` never
sees it, then one rename per bucket to ``buckets/bucket=K/v=N``.
Readers resolve a manifest first, then read exactly the bucket
versions it lists: a reader holding manifest N is isolated from any
concurrent commit (nothing it references is ever mutated), and reading
an old N IS time travel. ``expire_snapshots`` deletes manifests older
than the retention and then any bucket version no retained manifest
references — the standard mark-and-sweep.

Scale: a commit runs the same number of Spark jobs however many
buckets it touches, and its renames are O(touched buckets); reads are
O(listed buckets); the manifest is KBs at any table size (one entry
per bucket). On a real cluster the only change is listing/rename via
the Hadoop FileSystem API instead of ``os``.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from yamr_spark.dircommit import STAGING
from yamr_spark.streaming.upsert import _stage_merge


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, "manifests", f"v={version}.json")


def _latest_path(table_dir: str) -> str:
    return os.path.join(table_dir, "LATEST")


def create_table(table_dir: str) -> None:
    """Initialize an empty table: manifest v0 referencing no buckets."""
    os.makedirs(os.path.join(table_dir, "manifests"), exist_ok=True)
    os.makedirs(os.path.join(table_dir, "buckets"), exist_ok=True)
    with open(_manifest_path(table_dir, 0), "w") as f:
        json.dump({"version": 0, "buckets": {}}, f)
    _write_latest(table_dir, 0)


def _write_latest(table_dir: str, version: int) -> None:
    tmp = _latest_path(table_dir) + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, _latest_path(table_dir))


def latest_version(table_dir: str) -> int:
    with open(_latest_path(table_dir)) as f:
        return int(f.read().strip())


def read_manifest(table_dir: str, version: int | None = None) -> dict:
    if version is None:
        version = latest_version(table_dir)
    with open(_manifest_path(table_dir, version)) as f:
        return json.load(f)


def commit_merge(
    batch_df: DataFrame,
    table_dir: str,
    key: str,
    order: str,
    tie: str,
    n_buckets: int = 8,
) -> int:
    """Merge a batch into the table as ONE new snapshot; returns the new
    version. Touched buckets get a new immutable ``v=<version>``
    directory (old bucket ∪ batch rows → keep-latest, staged in one
    write and renamed in); untouched buckets are inherited by manifest
    pointer. The commit becomes visible only at the final atomic LATEST
    swap — a crash before that leaves the staging dir (swept by the
    next commit) or orphan bucket versions (replaced by the next commit
    of the same version, or swept by ``expire_snapshots``) and a fully
    consistent table."""
    base = read_manifest(table_dir)
    version = base["version"] + 1
    buckets = dict(base["buckets"])

    def bucket_dir(b, v) -> str:
        return os.path.join(table_dir, "buckets", f"bucket={b}", f"v={v}")

    def committed(b: int) -> str | None:
        v = buckets.get(str(b))
        return None if v is None else bucket_dir(b, v)

    stage = os.path.join(table_dir, STAGING)
    staged = _stage_merge(batch_df, stage, committed, key, order, tie, n_buckets)
    for b, src in staged.items():
        new_dir = bucket_dir(b, version)
        if os.path.exists(new_dir):
            shutil.rmtree(new_dir)
        os.makedirs(os.path.dirname(new_dir), exist_ok=True)
        os.rename(src, new_dir)
        buckets[str(b)] = version
    shutil.rmtree(stage, ignore_errors=True)

    with open(_manifest_path(table_dir, version), "w") as f:
        json.dump({"version": version, "buckets": buckets}, f)
    _write_latest(table_dir, version)
    return version


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the table as of ``version`` (default: latest). Resolves the
    manifest, then reads exactly the bucket versions it lists —
    snapshot-isolated by immutability."""
    man = read_manifest(table_dir, version)
    dirs = [
        os.path.join(table_dir, "buckets", f"bucket={b}", f"v={v}")
        for b, v in sorted(man["buckets"].items())
    ]
    if not dirs:
        raise ValueError(f"snapshot v{man['version']} is empty")
    return spark.read.parquet(*dirs)


def list_snapshots(table_dir: str) -> list[int]:
    mdir = os.path.join(table_dir, "manifests")
    return sorted(
        int(f[2:-5]) for f in os.listdir(mdir) if f.startswith("v=")
    )


def expire_snapshots(table_dir: str, keep_last: int = 1) -> list[str]:
    """Drop all but the newest ``keep_last`` manifests, then delete every
    bucket version no retained manifest references (mark-and-sweep).
    Returns the deleted bucket-version paths."""
    versions = list_snapshots(table_dir)
    retained = versions[-keep_last:]
    for v in versions[:-keep_last]:
        os.remove(_manifest_path(table_dir, v))

    live: set[tuple[str, int]] = set()
    for v in retained:
        man = read_manifest(table_dir, v)
        live.update((b, bv) for b, bv in man["buckets"].items())

    deleted = []
    broot = os.path.join(table_dir, "buckets")
    for bdir in os.listdir(broot):
        b = bdir.split("=", 1)[1]
        for vdir in os.listdir(os.path.join(broot, bdir)):
            bv = int(vdir.split("=", 1)[1])
            if (b, bv) not in live:
                path = os.path.join(broot, bdir, vdir)
                shutil.rmtree(path)
                deleted.append(path)
    return deleted
