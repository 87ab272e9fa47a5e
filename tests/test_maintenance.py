"""Small-file compaction: content preservation, file-count reduction,
idempotence, and partition-layout preservation."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from yamr_spark.operators.maintenance import compact_store, compaction_plan
from yamr_spark.tables import table


def _parquet_files(d):
    out = []
    for root, _dirs, files in os.walk(d):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def test_compaction_preserves_content_and_reduces_files(spark, sf_dir, tmp_path):
    store = str(tmp_path / "store")
    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    # deliberately fragment: many tiny files per lang partition
    docs.repartition(20).write.partitionBy("lang").parquet(store)
    before_files = len(_parquet_files(store))
    before_rows = sorted(r.doc_id for r in spark.read.parquet(store).collect())

    plan = compact_store(spark, store, target_bytes=64 * 1024 * 1024)
    after_files = len(_parquet_files(store))
    assert after_files < before_files
    assert all(e["n_files_after"] == e["target_files"] for e in plan if e["needed"])

    back = spark.read.parquet(store)
    assert sorted(r.doc_id for r in back.collect()) == before_rows
    # partition column survives the per-leaf rewrite
    assert {r.lang for r in back.select("lang").distinct().collect()} == {
        r.lang for r in docs.select("lang").distinct().collect()
    }

    # idempotent: a second run plans nothing
    plan2 = compaction_plan(store, target_bytes=64 * 1024 * 1024)
    assert not any(e["needed"] for e in plan2)


def test_compaction_prunes_still_work_after_rewrite(spark, sf_dir, tmp_path):
    """Partition pruning must survive compaction (the directory names are
    the partition index)."""
    from yamr_spark.plans import plan_text

    store = str(tmp_path / "store")
    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    docs.repartition(10).write.partitionBy("lang").parquet(store)
    compact_store(spark, store, target_bytes=64 * 1024 * 1024)

    pruned = spark.read.parquet(store).filter(F.col("lang") == "en")
    txt = plan_text(pruned)
    assert "PartitionFilters" in txt and "lang" in txt
    assert pruned.count() == docs.filter(F.col("lang") == "en").count()


def test_concurrent_compaction_equals_sequential(spark, sf_dir, tmp_path):
    from yamr_spark.operators.maintenance import compact_store

    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    seq_store, con_store = str(tmp_path / "seq"), str(tmp_path / "con")
    for store in (seq_store, con_store):
        docs.repartition(12).write.partitionBy("lang").parquet(store)
    p1 = compact_store(spark, seq_store, target_bytes=64 * 1024 * 1024)
    p2 = compact_store(
        spark, con_store, target_bytes=64 * 1024 * 1024, max_concurrency=4
    )
    assert sorted(r.doc_id for r in spark.read.parquet(con_store).collect()) == sorted(
        r.doc_id for r in spark.read.parquet(seq_store).collect()
    )
    by_rel = lambda plan, root: {
        e["dir"].replace(root, ""): e["n_files_after"] for e in plan
    }
    assert by_rel(p1, seq_store) == by_rel(p2, con_store)


def test_flat_store_compaction_stages_inside_store(spark, sf_dir, tmp_path):
    """ADVICE r06 (medium): compacting a FLAT store (the leaf IS
    store_dir) must stage its residue INSIDE the store — the old
    dir-rename protocol staged in the store's parent, outside every
    sweep's walk, so a crash mid-swap stranded the index invisibly."""
    store = str(tmp_path / "flat")
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.repartition(12).write.parquet(store)
    truth = sorted(r.doc_id for r in spark.read.parquet(store).collect())
    assert len(_parquet_files(store)) == 12

    plan = compact_store(spark, store, target_bytes=256 * 1024 * 1024)
    assert len(_parquet_files(store)) < 12
    assert sorted(r.doc_id for r in spark.read.parquet(store).collect()) == truth
    assert all(e["n_files_after"] == e["target_files"] for e in plan if e["needed"])
    # nothing staged OUTSIDE the store, no residue left inside
    assert not [d for d in os.listdir(tmp_path) if d.startswith("_")]
    assert not [d for d in os.listdir(store) if d.startswith("_") and d != "_SUCCESS"]
