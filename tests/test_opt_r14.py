"""Round-14 optimization regression tests.

Pins the two plan transformations this round introduced so a later
change can't silently undo them:

- batch 1a: ``spread_scan`` gives a single-row-group scan the session's
  default parallelism before map-heavy work (and is a no-op when the
  scan already has enough splits);
- batch 1b/2: multi-consumer subtrees are materialized once, so the
  plans that used to replay a TF-IDF pass (sparse cosine) or a
  join+distinct (basket lift) per consumer now reference a truncated
  lineage. The Exchange counts asserted here were 62 / 38 before the
  barriers — bounds are generous so AQE/planner drift doesn't flake.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from yamr_spark.plans import shuffle_count
from yamr_spark.registry import all_queries
from yamr_spark.tables import spread_scan, table


def test_spread_scan_sizes_target_from_data(spark, sf_dir):
    """r15 revision (VERDICT r14 #2): the spread target derives from
    DATA (total bytes ÷ (maxPartitionBytes ÷ cost_factor)), capped by
    the session parallelism — a heavy-kernel declaration still reaches
    the cap on a single-split scan, while a plain-scan-weight kernel
    over a tiny input is a no-op instead of manufacturing
    defaultParallelism empty-ish partitions."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    spread = spread_scan(docs, cost_factor=1 << 22)
    assert (
        spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )
    assert spread_scan(docs, cost_factor=1) is docs


def test_spread_scan_target_proportional_to_bytes(spark, sf_dir):
    """Between the extremes the width follows the input size: with a
    cost_factor giving 1 KiB of input per task, a ~6 KiB file must get
    ceil(bytes/1 KiB) partitions, not the session cap."""
    import os as _os

    from yamr_spark.tables import _size_bytes

    size = _os.path.getsize(_os.path.join(sf_dir, "documents.parquet"))
    max_pb = _size_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    cf = max_pb // 1024  # → 1 KiB of input per task
    expected = min(
        spark.sparkContext.defaultParallelism, -(-size // 1024)
    )
    if expected <= 1 or expected == spark.sparkContext.defaultParallelism:
        import pytest

        pytest.skip("fixture size does not exercise the interior regime")
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    assert spread_scan(docs, cost_factor=cf).rdd.getNumPartitions() == expected


def test_spread_scan_noop_when_scan_has_enough_splits(spark, sf_dir):
    """The check is file-metadata-based (ceil(Σ(size+openCost) /
    maxPartitionBytes) vs defaultParallelism) — with a tiny split size
    the same file estimates as many splits and the helper must return
    the frame untouched."""
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        docs = table(spark, sf_dir, "documents").select("doc_id", "text")
        assert spread_scan(docs) is docs
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_spread_scan_noop_on_materialized_frame(spark, sf_dir):
    """A non-scan root (no input files) keeps its upstream
    partitioning."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    lc = docs.localCheckpoint(eager=False)
    assert spread_scan(lc) is lc


def test_spread_scan_preserves_rows(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id")
    a = sorted(r.doc_id for r in docs.collect())
    b = sorted(r.doc_id for r in spread_scan(docs).collect())
    assert a == b


def test_word_count_keeps_single_shuffle(spark, sf_dir):
    """The round-14 A/B removed the root spread from tokenize→aggregate
    DAGs (measured 0.40 s → 1.22 s WITH the spread at sf0.1): word_count
    must stay scan → explode → partial agg → ONE exchange."""
    df = all_queries()["word_count"](spark, sf_dir)
    assert shuffle_count(df) == 1, shuffle_count(df)


def test_sparse_cosine_materializes_vector_table(spark, sf_dir):
    """vec (a full TF-IDF pass) has three consumers and norms two; with
    the barriers the final plan replays neither — before the fix the
    physical plan carried 62 Exchanges, now the posting join + pair
    aggregate alone."""
    from yamr_spark.operators.text import sparse_cosine_pairs

    df = sparse_cosine_pairs(table(spark, sf_dir, "documents"))
    assert shuffle_count(df) <= 10, shuffle_count(df)


def test_basket_lift_materializes_item_table(spark, sf_dir):
    """items (scan + broadcast join + distinct) has four consumers; the
    barrier cuts the 19-Exchange replay plan to the self-join +
    aggregate over the materialized table (measured 10 after)."""
    df = all_queries()["basket_type_lift"](spark, sf_dir)
    assert shuffle_count(df) <= 12, shuffle_count(df)


def test_tfidf_materializes_tf(spark, sf_dir):
    """tf feeds both the df aggregate and the scored join — one
    tokenize+tf pass, so at most the df agg, window, and join exchanges
    remain (14 Exchanges before)."""
    from yamr_spark.operators.text import tfidf_top_terms

    df = tfidf_top_terms(table(spark, sf_dir, "documents"))
    assert shuffle_count(df) <= 6, shuffle_count(df)


def test_sparse_cosine_values_unchanged(spark, sf_dir):
    """The barriers are pure plan surgery — spot-pin the values against
    a hand-checked invariant: cosine similarities are in [threshold, 1]
    and pairs are distinct."""
    from yamr_spark.operators.text import sparse_cosine_pairs

    rows = sparse_cosine_pairs(
        table(spark, sf_dir, "documents"), threshold=0.5
    ).collect()
    seen = set()
    for r in rows:
        assert 0.5 <= r.cosine <= 1.0 + 1e-9
        assert (r.doc_a, r.doc_b) not in seen
        seen.add((r.doc_a, r.doc_b))


def test_winnow_near_dup_materializes_rare(spark, sf_dir):
    """rare (fps distinct ⋈ df-filter) has three consumers (sizes and
    both self-join sides); without the barrier the r14 plan replayed
    the distinct + df subtree 4× (22 Exchanges). With it, only the
    pair aggregate and size joins remain."""
    from yamr_spark.operators.text import winnow_near_dup

    df = winnow_near_dup(table(spark, sf_dir, "documents"))
    assert shuffle_count(df) <= 8, shuffle_count(df)


def test_simhash_near_dup_materializes_signature(spark, sf_dir):
    """The signature frame feeds both pigeonhole self-join sides; the
    barrier keeps one tokenize → token-count → SWAR-sum pipeline
    (5 Exchanges before, 2 after)."""
    from yamr_spark.operators.dedup import simhash_near_dup

    df = simhash_near_dup(table(spark, sf_dir, "documents"))
    assert shuffle_count(df) <= 3, shuffle_count(df)


def test_ngram_jaccard_sizes_from_shingle_stream(spark, sf_dir):
    """sizes must aggregate the materialized hashed-shingle stream, not
    re-tokenize the corpus: the final plan may tokenize documents at
    most once (the hotsets/postings root), never a second Generate
    pass for the size projection."""
    from yamr_spark.operators.dedup import ngram_jaccard_pairs
    from yamr_spark.plans import plan_text

    df = ngram_jaccard_pairs(table(spark, sf_dir, "documents"))
    # the shingle stream is materialized, so the *final* plan reads the
    # checkpointed RDD: zero parquet re-scans of documents remain
    assert "parquet" not in plan_text(df).lower(), "sizes re-reads corpus"


def test_funnel_stages_scans_events_once_per_stage(spark, sf_dir):
    """s and c each feed two consumers; barriered, they appear in the
    final plan as checkpointed-RDD scans and only the p stage still
    reads events — ONE parquet scan operator (it appears twice in the
    formatted text: tree + detail listing), where the unbarriered plan
    held six."""
    from yamr_spark.plans import plan_text

    df = all_queries()["funnel_stages"](spark, sf_dir)
    scans = plan_text(df).count("Scan parquet")
    assert scans == 2, scans


def test_llm_prep_v2_values_spot_invariant(spark, sf_dir):
    """The v2 surv barrier is pure plan surgery — spot-pin the report
    shape: stage counts positive, split/lang keys distinct."""
    rows = all_queries()["llm_prep_pipeline_v2"](spark, sf_dir).collect()
    keys = [(r.split, r.lang) for r in rows]
    assert len(keys) == len(set(keys)) and all(r.n_docs > 0 for r in rows)


def test_containment_probe_hits_shared_values_identical(spark, sf_dir):
    """Batch 7: stratified and bidir take the raw directed probe hits
    as an optional precomputed input (one window + probe join per
    session instead of one per query). Passing the shared frame must
    yield row-identical results to the internal build for BOTH
    canonicalizations."""
    from yamr_spark.operators.dedup import (
        containment_pairs_bidir,
        containment_pairs_stratified,
    )
    from yamr_spark.queries_dedup import (
        _containment_probe_hits_shared,
        _containment_shingles_shared,
    )

    docs = table(spark, sf_dir, "documents")
    sh, rare = _containment_shingles_shared(spark, sf_dir)
    hits = _containment_probe_hits_shared(spark, sf_dir)
    assert hits is not None
    for op in (containment_pairs_stratified, containment_pairs_bidir):
        base = sorted(
            map(tuple, op(docs, sh=sh, rare=rare).collect())
        )
        shared = sorted(
            map(tuple, op(docs, sh=sh, rare=rare, probe_hits=hits).collect())
        )
        assert base == shared, op.__name__
