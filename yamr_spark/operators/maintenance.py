"""Store maintenance: small-file compaction.

The small-file problem is THE operational failure mode of a long-lived
100 TB parquet store: streaming sinks, per-batch upserts, and
fine-grained partitioning each leave thousands of KB-sized files, and
scan cost becomes per-file overhead (open/footer/seek) instead of
bytes. Compaction rewrites each partition directory into
``ceil(bytes / target)`` right-sized files.

Design:

- **Per-partition-directory, not whole-store**: each leaf directory
  compacts independently (and idempotently), so a 100 TB store
  compacts incrementally — a crashed run leaves every completed
  directory valid, and re-running skips directories already within
  budget.
- **One crash protocol** (``yamr_spark.dircommit``): each leaf's
  rewrite is staged under the store's ``_staging/<id>`` and committed
  with one intent. A nested leaf's stage replaces the leaf directory;
  a flat store (the leaf IS the store root) deletes its old root
  ``.parquet`` files and moves the staged files up. Planning calls
  ``dircommit.recover`` first, so a crash at any step reads as the
  leaf before or after its rewrite, and nothing is staged outside the
  store. Flat-store compaction is a single-writer maintenance window:
  a reader that lists the root during the commit's renames can see a
  partial file set.
- **Planning from metadata only**: file sizes come from a directory
  listing; no data is read to decide whether/how much to compact.
  (Local implementation walks the filesystem; on a cluster the same
  listing comes from the Hadoop FileSystem API — the plan/rewrite/commit
  structure is unchanged. The per-leaf loop is sequential on the
  driver; with many thousands of undersized leaves, submit the
  rewrites through a thread pool — Spark schedules concurrent jobs
  fine — or compact coarser prefixes.)
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import SparkSession

from yamr_spark import dircommit


def _leaf_parquet_dirs(store_dir: str) -> list[str]:
    """Leaf directories holding parquet files (a flat store is its own
    single leaf). Any path component with a leading underscore
    (``dircommit``'s ``_staging``, ``_trash``, ``_commits``) is skipped
    here exactly as Spark's FileIndex skips it."""
    leaves = []
    for root, _dirs, files in os.walk(store_dir):
        rel = os.path.relpath(root, store_dir)
        if rel != "." and any(part.startswith("_") for part in rel.split(os.sep)):
            continue
        if any(f.endswith(".parquet") for f in files):
            leaves.append(root)
    return sorted(leaves)


def _parquet_files(d: str) -> list[str]:
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def compaction_plan(
    store_dir: str, target_bytes: int = 128 * 1024 * 1024
) -> list[dict]:
    """Metadata-only plan: one entry per leaf directory with its file
    count, byte total, and the file count compaction would produce.
    ``needed`` is False when the directory is already at (or below) its
    target file count — re-running a completed compaction is a no-op.
    Planning starts with ``dircommit.recover``, so the plan always
    sees exactly the committed leaves."""
    dircommit.recover(store_dir)
    plan = []
    for leaf in _leaf_parquet_dirs(store_dir):
        files = _parquet_files(leaf)
        total = sum(os.path.getsize(os.path.join(leaf, f)) for f in files)
        target_files = max(1, math.ceil(total / target_bytes))
        plan.append(
            {
                "dir": leaf,
                "n_files": len(files),
                "bytes": total,
                "target_files": target_files,
                "needed": len(files) > target_files,
            }
        )
    return plan


def compact_store(
    spark: SparkSession,
    store_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    max_concurrency: int = 1,
) -> list[dict]:
    """Compact every leaf directory that exceeds its target file count;
    returns the executed plan (with ``n_files_after`` filled in).
    Content-preserving by construction: each rewrite is
    read → coalesce(target) → write of the same rows, committed through
    ``dircommit``. ``max_concurrency`` > 1 submits leaf rewrites through a
    thread pool — Spark's scheduler interleaves the independent jobs
    (FIFO within a pool is fine: each job is small) so thousands of
    tiny leaves don't serialize on driver round-trips; each leaf
    commits with its own intent, and leaves never share state."""
    plan = compaction_plan(store_dir, target_bytes)
    staging = os.path.join(store_dir, dircommit.STAGING)
    shutil.rmtree(staging, ignore_errors=True)

    def _compact_leaf(entry: dict) -> None:
        leaf = entry["dir"]
        if entry["needed"]:
            stage = os.path.join(dircommit.STAGING, uuid.uuid4().hex)
            # coalesce, not repartition: merging files needs no shuffle
            spark.read.parquet(leaf).coalesce(entry["target_files"]).write.parquet(
                os.path.join(store_dir, stage)
            )
            rel = os.path.relpath(leaf, store_dir)
            if rel == os.curdir:
                staged = _parquet_files(os.path.join(store_dir, stage))
                moves = {os.path.join(stage, f): f for f in staged}
                dircommit.commit(store_dir, moves, deletes=_parquet_files(leaf))
            else:
                dircommit.commit(store_dir, {stage: rel})
        entry["n_files_after"] = len(_parquet_files(leaf))

    if max_concurrency <= 1:
        for entry in plan:
            _compact_leaf(entry)
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
            list(pool.map(_compact_leaf, plan))
    shutil.rmtree(staging, ignore_errors=True)
    return plan
