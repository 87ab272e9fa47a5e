"""Dedup query registrations with exact DuckDB oracles.

The oracles rebuild the SAME deterministic hash pipelines in SQL
(md5-permutation MinHash, 60-bit md5-derived SimHash, shingle Jaccard),
so the driver's value-hash compares real content, not just row counts.
"""

from __future__ import annotations

import inspect as _inspect
import re

from pyspark.sql import DataFrame, functions as F

from yamr_spark.materialize import materialize, shared
from yamr_spark.operators import dedup as D
from yamr_spark.operators.graph import connected_components
from yamr_spark.registry import register
from yamr_spark.tables import table

# One verified MinHash near-dup pair table per (session, sf_dir),
# shared by the graph-analytics family (VERDICT r06 #5): dedup_groups /
# dedup_keep_best / pagerank_near_dup / neardup_triangles all consume
# the SAME pair set; compute it once, run every graph analysis over it.
# minhash_near_dup itself stays UNCACHED so the pipeline's own cost
# remains measured.


def _near_dup_pairs_shared(spark, sf_dir: str) -> DataFrame:
    return shared(
        spark, "near_dup_pairs", (sf_dir,),
        lambda: materialize(D.minhash_near_dup(table(spark, sf_dir, "documents"))),
    )


# The containment helpers' parameter defaults are DERIVED from the
# operator signature (ADVICE r14 #2): a future change to the operator's
# n/max_df/probes_per_doc defaults must not silently feed consumers a
# probe-hit table built with stale parameters.
_CONT_SIG = {
    name: p.default
    for name, p in _inspect.signature(
        D.containment_pairs_stratified
    ).parameters.items()
}


def _containment_shingles_shared(
    spark,
    sf_dir: str,
    n: int = _CONT_SIG["n"],
    max_df: int = _CONT_SIG["max_df"],
) -> tuple[DataFrame, DataFrame]:
    """(sh, rare): the hashed-shingle table and its df <= max_df stream,
    shared by the containment family (stratified + bidir + ngram
    Jaccard), which all open with the same tokenize → shingle → md5 →
    distinct build and document-frequency filter."""

    def build():
        sh = materialize(
            D.word_shingle_hashes(table(spark, sf_dir, "documents"), n=n)
        )
        dfreq = sh.groupBy("sh").agg(F.count("*").alias("df"))
        rare = materialize(
            sh.join(dfreq.where(F.col("df") <= max_df).select("sh"), "sh")
        )
        return sh, rare

    return shared(spark, "containment_shingles", (sf_dir, n, max_df), build)


def _containment_probe_hits_shared(
    spark,
    sf_dir: str,
    n: int = _CONT_SIG["n"],
    max_df: int = _CONT_SIG["max_df"],
    probes: int = _CONT_SIG["probes_per_doc"],
) -> DataFrame:
    """The raw directed probe hits (bottom-k-per-doc window over the
    shared rare stream ⋈ rare) that stratified and bidir both open
    with; each applies its own canonicalization and exact verify."""

    def build():
        _, rare = _containment_shingles_shared(spark, sf_dir, n=n, max_df=max_df)
        # project to src/dst BEFORE materializing (ADVICE r14 #1): both
        # canonicalizations consume only these two columns
        return materialize(
            D._containment_probe_candidates(rare, probes).select("src", "dst")
        )

    return shared(
        spark, "containment_probe_hits", (sf_dir, n, max_df, probes), build
    )


# Shared DuckDB CTEs: tokens and distinct word-3-shingles per document.
_TOKS_CTE = """
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}_]+'),
                     x -> length(x) > 0) AS t
  FROM documents
)
"""

_SHINGLES_CTE = (
    _TOKS_CTE
    + """,
pos AS (
  SELECT doc_id, t, unnest(range(len(t) - 2)) AS i
  FROM toks WHERE len(t) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i+1:i+3], ' ') AS shingle FROM pos
)
"""
)

# Same universal-hash permutations as minhash_signatures, built from the
# SAME coefficient table (operators.dedup.minhash_coeffs) — pure BIGINT
# arithmetic, so DuckDB reproduces every signature bit-for-bit.
_H60P = f"(('0x' || substr(md5(shingle), 1, 15))::BIGINT % {D.MINHASH_PRIME})"
_MINHASH_COLS = ",\n       ".join(
    f"min(({_H60P} * {a} + {b}) % {D.MINHASH_PRIME}) AS mh{i}"
    for i, (a, b) in enumerate(D.minhash_coeffs(16))
)

_SIG_CTE = (
    _SHINGLES_CTE
    + f""",
sig AS (
  SELECT doc_id, {_MINHASH_COLS},
       CAST(COUNT(*) AS BIGINT) AS sz
  FROM sh GROUP BY doc_id
)
"""
)

_BANDS_CTE = (
    _SIG_CTE
    + ",\nbands AS (\n"
    + "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_id, md5("
        + " || '|' || ".join(
            f"CAST(mh{4 * b + r} AS VARCHAR)" for r in range(4)
        )
        + ") AS bh FROM sig"
        for b in range(4)
    )
    + "\n)"
)

_CAND_PAIRS = """
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id
)
"""

_JACCARD = """
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
"""


@register(
    "dedup_exact",
    oracle="""
    SELECT sha256(text) AS text_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS dup_cnt
    FROM documents GROUP BY sha256(text)
    """,
)
def q_dedup_exact(spark, sf_dir):
    return D.exact_dedup(table(spark, sf_dir, "documents"))


@register(
    "minhash_signatures",
    oracle=f"WITH {_SIG_CTE} SELECT * FROM sig",
)
def q_minhash_signatures(spark, sf_dir):
    return D.minhash_signatures(table(spark, sf_dir, "documents"))


@register(
    "minhash_band_pairs",
    oracle=f"WITH {_BANDS_CTE}, {_CAND_PAIRS} SELECT doc_a, doc_b FROM cand",
)
def q_minhash_band_pairs(spark, sf_dir):
    sigs = D.minhash_signatures(table(spark, sf_dir, "documents"))
    return D.minhash_band_pairs(sigs)


@register(
    "minhash_near_dup",
    oracle=f"""
    WITH {_BANDS_CTE}, {_CAND_PAIRS}, {_JACCARD}
    SELECT c.doc_a, c.doc_b,
           ROUND(CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i), 6) AS jaccard
    FROM cand c
    JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes za ON za.doc_id = c.doc_a
    JOIN sizes zb ON zb.doc_id = c.doc_b
    WHERE CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i) >= 0.5
    """,
)
def q_minhash_near_dup(spark, sf_dir):
    return D.minhash_near_dup(table(spark, sf_dir, "documents"))


# MinHash estimator agreement count, replayed from the same sig CTE.
_MINHASH_AGREE = " + ".join(
    f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(16)
)


def _dmean_sql(expr: str) -> str:
    """Decimal-disciplined mean (the unigram_lm_score float rule)."""
    return (
        f"ROUND(CAST(SUM(CAST(ROUND({expr}, 12) AS DECIMAL(28,14))) AS DOUBLE)"
        f" / COUNT(*), 6)"
    )


@register(
    "minhash_estimate_quality",
    oracle=f"""
    WITH {_BANDS_CTE}, {_CAND_PAIRS}, {_JACCARD},
    est AS (
      SELECT c.doc_a, c.doc_b,
             CAST({_MINHASH_AGREE} AS DOUBLE) / 16 AS est
      FROM cand c
      JOIN sig a ON a.doc_id = c.doc_a
      JOIN sig b ON b.doc_id = c.doc_b
    ),
    pe AS (
      SELECT e.est,
             ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE)
                   / (za.sz + zb.sz - COALESCE(i.i, 0)), 6) AS j
      FROM est e
      LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
      JOIN sizes za ON za.doc_id = e.doc_a
      JOIN sizes zb ON zb.doc_id = e.doc_b
    )
    SELECT LEAST(CAST(FLOOR(j * 4) AS INT), 3) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {_dmean_sql('est')} AS mean_est,
           {_dmean_sql('j')} AS mean_exact,
           {_dmean_sql('abs(est - j)')} AS mean_abs_err,
           ROUND(MAX(abs(est - j)), 6) AS max_abs_err
    FROM pe GROUP BY 1
    """,
)
def q_minhash_estimate_quality(spark, sf_dir):
    """Estimator-quality certification for the MinHash family: measured
    |estimate − exact Jaccard| over the LSH candidate pairs, binned by
    exact similarity — the dedup analogue of ann_recall_at_k (turns the
    k=16 estimator's sqrt(J(1−J)/k) docstring bound into a registered,
    regression-guarded number)."""
    return D.minhash_estimate_vs_exact(table(spark, sf_dir, "documents"))


# 60-bit token hash: first 15 md5 hex chars — DuckDB parses the hex
# directly, producing the identical BIGINT as functions.hash60.
_SIMHASH_HEXVAL = "(('0x' || substr(md5(token), 1, 15))::BIGINT)"

_SIMHASH_SUMS = ",\n         ".join(
    f"SUM(w * (((h >> {j}) & 1) * 2 - 1)) AS s{j}"
    for j in range(D.SIMHASH_BITS)
)

_SIMHASH_VALUE = " + ".join(
    f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)"
    for j in range(D.SIMHASH_BITS)
)

_SIMHASH_CTE = (
    _TOKS_CTE
    + f""",
tokc AS (
  SELECT doc_id, token, COUNT(*) AS w
  FROM (SELECT doc_id, unnest(t) AS token FROM toks)
  GROUP BY doc_id, token
),
hashed AS (SELECT doc_id, w, {_SIMHASH_HEXVAL} AS h FROM tokc),
sums AS (
  SELECT doc_id,
         {_SIMHASH_SUMS}
  FROM hashed GROUP BY doc_id
),
simh AS (
  SELECT doc_id, CAST({_SIMHASH_VALUE} AS BIGINT) AS simhash FROM sums
)
"""
)


@register(
    "simhash",
    oracle=f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM simh",
)
def q_simhash(spark, sf_dir):
    return D.simhash(table(spark, sf_dir, "documents"))


# Same derived pigeonhole layout the Spark side uses (max_hamming = 3
# over 60 bits → 4 blocks of 15), rebuilt as a UNION of per-block rows.
_SIMHASH_NIB = " UNION ALL ".join(
    f"SELECT doc_id, simhash, {i} AS nib_id, "
    f"(simhash >> {off}) & {(1 << w) - 1} AS nib_val FROM simh"
    for i, (off, w) in enumerate(D.pigeonhole_blocks(D.SIMHASH_BITS, 3))
)

@register(
    "simhash_near_dup",
    oracle=f"""
    WITH {_SIMHASH_CTE},
    nib AS ({_SIMHASH_NIB})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM nib a JOIN nib b
      ON a.nib_id = b.nib_id AND a.nib_val = b.nib_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def q_simhash_near_dup(spark, sf_dir):
    return D.simhash_near_dup(table(spark, sf_dir, "documents"))


@register(
    "simhash_estimate_quality",
    oracle=f"""
    WITH {_SIMHASH_CTE},
    nib AS ({_SIMHASH_NIB}),
    spairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM nib a JOIN nib b
        ON a.nib_id = b.nib_id AND a.nib_val = b.nib_val
       AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    norms AS (SELECT doc_id, SUM(w * w) AS n2 FROM tokc GROUP BY doc_id),
    dots AS (
      SELECT p.doc_a, p.doc_b, SUM(ta.w * tb.w) AS dot
      FROM spairs p
      JOIN tokc ta ON ta.doc_id = p.doc_a
      JOIN tokc tb ON tb.doc_id = p.doc_b AND tb.token = ta.token
      GROUP BY p.doc_a, p.doc_b
    ),
    pc AS (
      SELECT p.hamming,
             ROUND(CAST(COALESCE(d.dot, 0) AS DOUBLE)
                   / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos
      FROM spairs p
      LEFT JOIN dots d ON d.doc_a = p.doc_a AND d.doc_b = p.doc_b
      JOIN norms na ON na.doc_id = p.doc_a
      JOIN norms nb ON nb.doc_id = p.doc_b
    )
    SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {_dmean_sql('cos')} AS mean_cos,
           MIN(cos) AS min_cos,
           MAX(cos) AS max_cos
    FROM pc GROUP BY hamming
    """,
)
def q_simhash_estimate_quality(spark, sf_dir):
    """SimHash calibration: exact token-count cosine binned by hamming
    distance over the pigeonhole candidates — E[hamming] = 60·θ/π made
    a measured, regression-guarded number. Completes the estimator-
    certification panel across every approximate family (ANN recall,
    MinHash Jaccard error, CMS/KMV invariants, SimHash angle)."""
    return D.simhash_estimate_vs_exact(table(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    rare AS (
      SELECT shingle FROM (SELECT shingle, COUNT(*) AS c FROM sh GROUP BY shingle)
      WHERE c <= 50
    ),
    rsh AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rsh a JOIN rsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    {_JACCARD}
    SELECT c.doc_a, c.doc_b,
           ROUND(CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i), 6) AS jaccard
    FROM cand c
    JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes za ON za.doc_id = c.doc_a
    JOIN sizes zb ON zb.doc_id = c.doc_b
    WHERE CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i) >= 0.2
    """,
)
def q_ngram_jaccard_pairs(spark, sf_dir):
    """Shares the session's hashed-shingle + rare-stream frames with the
    containment family (_containment_shingles_shared): same n=3 /
    df ≤ 50 build, computed once per (session, sf_dir)."""
    sh, rare = _containment_shingles_shared(spark, sf_dir, n=3, max_df=50)
    return D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), sh=sh, rare=rare
    )


@register(
    "dedup_groups",
    oracle=f"""
    WITH RECURSIVE {_BANDS_CTE}, {_CAND_PAIRS}, {_JACCARD},
    dups AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes za ON za.doc_id = c.doc_a
      JOIN sizes zb ON zb.doc_id = c.doc_b
      WHERE CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM dups
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM dups
    ),
    reach(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
    )
    SELECT node AS doc_id, MIN(label) AS group_id FROM reach GROUP BY node
    """,
)
def q_dedup_groups(spark, sf_dir):
    """Duplicate GROUPS: connected components over the verified MinHash
    near-dup pairs (iterative min-label propagation; oracle = recursive-
    CTE transitive closure). group_id = the canonical (minimum) doc_id —
    the keep-one-per-group policy at the end of every dedup pipeline.
    Pair table shared across the graph family (_near_dup_pairs_shared)."""
    pairs = _near_dup_pairs_shared(spark, sf_dir)
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("group_id")
    )


@register(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {_BANDS_CTE}, {_CAND_PAIRS}, {_JACCARD},
    dups AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes za ON za.doc_id = c.doc_a
      JOIN sizes zb ON zb.doc_id = c.doc_b
      WHERE CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM dups
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM dups
    ),
    reach(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
    ),
    comp AS (SELECT node AS doc_id, MIN(label) AS rep FROM reach GROUP BY node),
    assigned AS (
      SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS rep
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    bucketed AS (
      SELECT doc_id, rep,
             ('0x' || substr(md5('split:' || CAST(rep AS VARCHAR)), 1, 15))::BIGINT
               % 10 AS bucket
      FROM assigned
    )
    SELECT CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket = 8 THEN 'valid'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_groups
    FROM bucketed GROUP BY 1
    """,
)
def q_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/valid/test split: the split hash keys on the
    near-dup COMPONENT representative, so near-duplicate documents land
    in the same split by construction (doc-level hash splitting leaks a
    test doc's near-twin into train ~80% of the time). Composes the
    shared banded pair table + log-round components; adds one left join
    and a map-side md5 bucket."""
    from yamr_spark.operators.curation import leakage_safe_split_stats

    docs = table(spark, sf_dir, "documents")
    pairs = _near_dup_pairs_shared(spark, sf_dir)
    return leakage_safe_split_stats(docs, pairs)


@register(
    "dedup_incremental",
    oracle="""
    WITH index_digests AS (
      SELECT DISTINCT sha256(text) AS text_hash
      FROM documents WHERE doc_id % 2 = 0
    ),
    batch AS (
      SELECT sha256(text) AS text_hash, MIN(doc_id) AS doc_id
      FROM documents WHERE doc_id % 2 = 1
      GROUP BY sha256(text)
    )
    SELECT doc_id, text_hash
    FROM batch
    WHERE text_hash NOT IN (SELECT text_hash FROM index_digests)
    """,
)
def q_dedup_incremental(spark, sf_dir):
    """Incremental (batch-vs-index) dedup: even doc_ids play yesterday's
    indexed corpus (digests only), odd doc_ids are today's batch;
    survivors are batch-unique AND index-absent."""
    docs = table(spark, sf_dir, "documents")
    index = D.exact_dedup(docs.where(F.col("doc_id") % 2 == 0)).select("text_hash")
    return D.incremental_dedup(docs.where(F.col("doc_id") % 2 == 1), index)


@register(
    "fuzzy_part_pairs",
    oracle="""
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand
     AND a.p_size // 10 = b.p_size // 10
     AND a.p_partkey < b.p_partkey
     AND abs(length(a.p_name) - length(b.p_name)) <= 3
    WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
    """,
)
def q_fuzzy_part_pairs(spark, sf_dir):
    """Blocked fuzzy entity matching: (brand, size-decade)-blocked part
    pairs within Levenshtein distance 3 (exact dups excluded). Blocking
    bounds the quadratic comparison to Σ|block|² — brand alone leaves
    ~n/25 per block (the comparison count grows quadratically with SF);
    the size band brings blocks back toward √n. The length lower bound
    prunes candidates before the distance evaluates."""
    parts = table(spark, sf_dir, "part").withColumn(
        "size_band", (F.col("p_size") / 10).cast("int")
    )
    return D.fuzzy_match_pairs(
        parts,
        block_cols=["p_brand", "size_band"],
        name_col="p_name",
        id_col="p_partkey",
    )


@register(
    "minhash_near_dup_parquet_staged",
    oracle=f"""
    WITH {_BANDS_CTE}, {_CAND_PAIRS}, {_JACCARD}
    SELECT c.doc_a, c.doc_b,
           ROUND(CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i), 6) AS jaccard
    FROM cand c
    JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes za ON za.doc_id = c.doc_a
    JOIN sizes zb ON zb.doc_id = c.doc_b
    WHERE CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i) >= 0.5
    """,
)
def q_minhash_near_dup_parquet_staged(spark, sf_dir):
    """minhash_near_dup with its intermediates (the signature table)
    pinned to PARQUET staging — the 100 TB production materialization
    mode (durable, layout-controlled, readable by later jobs), vs the
    localCheckpoint default that's only right on the single-JVM
    harness. Same oracle as minhash_near_dup: the driver gate proves
    the production staging path end-to-end, not just the unit sweep in
    tests/test_materialize.py."""
    from yamr_spark.materialize import current_mode, set_mode

    prior = current_mode()
    set_mode("parquet")
    try:
        return D.minhash_near_dup(table(spark, sf_dir, "documents"))
    finally:
        set_mode(prior if prior != "parquet" else None)


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_BANDS_CTE}, {_CAND_PAIRS}, {_JACCARD},
    dups AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes za ON za.doc_id = c.doc_a
      JOIN sizes zb ON zb.doc_id = c.doc_b
      WHERE CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM dups
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM dups
    ),
    reach(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
    ),
    groups AS (SELECT node AS doc_id, MIN(label) AS group_id FROM reach GROUP BY node),
    scored AS (
      SELECT g.group_id, d.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY g.group_id
                                ORDER BY d.n_chars DESC, d.doc_id) AS rn
      FROM groups g JOIN documents d USING (doc_id)
    )
    SELECT group_id,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(MIN(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS kept_doc,
           CAST(MIN(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS kept_chars
    FROM scored GROUP BY group_id
    """,
)
def q_dedup_keep_best(spark, sf_dir):
    """Near-dup collapse keeping the BEST representative per group
    (longest doc, tie → lowest id) — the policy real pipelines use
    instead of keep-min-id, since near-dup groups usually contain one
    full document plus truncated/boilerplate copies. Connected
    components give the groups; a per-group window argmax picks the
    keeper. The window partitions by group_id over the GROUP table
    (size = duplicated docs only), never the corpus. Pair table shared
    across the graph family (_near_dup_pairs_shared)."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    pairs = _near_dup_pairs_shared(spark, sf_dir)
    groups = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("group_id")
    )
    scored = groups.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("group_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .groupBy("group_id")
        .agg(
            F.count("*").alias("group_size"),
            F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("kept_doc"),
            F.min(F.when(F.col("rn") == 1, F.col("n_chars"))).alias("kept_chars"),
        )
    )


def _pagerank_oracle(n_rounds: int = 3) -> str:
    head = f"""
    WITH {_BANDS_CTE}, {_CAND_PAIRS}, {_JACCARD},
    dups AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes za ON za.doc_id = c.doc_a
      JOIN sizes zb ON zb.doc_id = c.doc_b
      WHERE CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM dups
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM dups
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
      )
    ),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (
      SELECT node, ROUND(CAST(1.0 AS DOUBLE) / nn.n, 10) AS r
      FROM nodes CROSS JOIN nn
    )"""
    rounds = []
    for i in range(1, n_rounds + 1):
        rounds.append(f""",
    c{i} AS (
      SELECT ed.dst, CAST(ROUND(r.r / ed.deg, 12) AS DECIMAL(28,14)) AS c
      FROM ed JOIN r{i - 1} r ON r.node = ed.src
    ),
    s{i} AS (SELECT dst, SUM(c) AS acc FROM c{i} GROUP BY dst),
    r{i} AS (
      SELECT n.node,
             ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                   + CAST(0.85 AS DOUBLE)
                     * COALESCE(CAST(s.acc AS DOUBLE), CAST(0.0 AS DOUBLE)),
                   10) AS r
      FROM nodes n LEFT JOIN s{i} s ON s.dst = n.node CROSS JOIN nn
    )"""
        )
    sql = head + "".join(rounds) + f"\n    SELECT node, r AS rank FROM r{n_rounds}"
    # DuckDB inlines a non-materialized CTE into every reference, so the
    # chained rounds re-run the whole graph build per reference
    # (minutes at sf0.001); materialized, each CTE runs once.
    return re.sub(r"(?m)^(\s*\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


@register("pagerank_near_dup", oracle=_pagerank_oracle())
def q_pagerank_near_dup(spark, sf_dir):
    """PageRank (3 power iterations) over the MinHash near-dup graph —
    the authority score of each doc within its duplicate neighborhood,
    and the engine's second iterative fixpoint (beside connected
    components). Per-edge contributions round to 12 dp and sum through
    DECIMAL, so the float iteration is aggregation-order independent
    and the unrolled oracle replays it bit-for-bit."""
    from yamr_spark.operators.graph import pagerank

    # the shared pair table is already materialize()d — the union's two
    # reads (and every other graph-family consumer in the session) hit
    # the computed blocks, never re-running the LSH pipeline
    pairs = _near_dup_pairs_shared(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    return pagerank(edges, fixpoint_partitions=4)


@register(
    "neardup_triangles",
    oracle=f"""
    WITH {_BANDS_CTE}, {_CAND_PAIRS}, {_JACCARD},
    edges AS (
      SELECT c.doc_a AS a, c.doc_b AS b
      FROM cand c
      JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes za ON za.doc_id = c.doc_a
      JOIN sizes zb ON zb.doc_id = c.doc_b
      WHERE CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i) >= 0.5
    ),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ) n GROUP BY node
    """,
)
def q_neardup_triangles(spark, sf_dir):
    """Triangle participation over the verified MinHash near-dup graph:
    cliquish duplicate families vs borderline chains. Ordered-orientation
    enumeration (a<b<c), each triangle counted once per member node.
    Pair table shared across the graph family (_near_dup_pairs_shared)."""
    from yamr_spark.operators.graph import triangle_counts

    pairs = _near_dup_pairs_shared(spark, sf_dir)
    return triangle_counts(pairs)


@register(
    "containment_pairs",
    oracle=f"""
    WITH {_BANDS_CTE}, {_CAND_PAIRS}, {_JACCARD}
    SELECT src, dst, containment FROM (
      SELECT c.doc_a AS src, c.doc_b AS dst,
             ROUND(CAST(i.i AS DOUBLE) / za.sz, 6) AS containment
      FROM cand c
      JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes za ON za.doc_id = c.doc_a
      UNION ALL
      SELECT c.doc_b, c.doc_a,
             ROUND(CAST(i.i AS DOUBLE) / zb.sz, 6)
      FROM cand c
      JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes zb ON zb.doc_id = c.doc_b
    ) t WHERE containment >= 0.7
    """,
)
def q_containment_pairs(spark, sf_dir):
    """Directed near-containment over MinHash band candidates:
    c(src→dst) = |src∩dst|/|src| ≥ 0.7 — catches quote/boilerplate
    subsets whose Jaccard is arbitrarily low."""
    return D.containment_pairs(table(spark, sf_dir, "documents"))


@register(
    "containment_pairs_stratified",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    hsh AS (
      SELECT doc_id, (('0x' || substr(md5(shingle), 1, 15))::BIGINT) AS h
      FROM sh
    ),
    dfreq AS (SELECT h, COUNT(*) AS df FROM hsh GROUP BY h),
    rare AS (
      SELECT hsh.doc_id, hsh.h FROM hsh JOIN dfreq USING (h) WHERE df <= 50
    ),
    probes AS (
      SELECT doc_id, h FROM (
        SELECT doc_id, h,
               row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
        FROM rare
      ) WHERE rn <= 5
    ),
    cand AS (
      SELECT DISTINCT p.doc_id AS src, r.doc_id AS dst
      FROM probes p JOIN rare r ON r.h = p.h AND r.doc_id <> p.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM hsh GROUP BY doc_id),
    inter AS (
      SELECT c.src, c.dst, COUNT(*) AS i
      FROM cand c
      JOIN hsh sa ON sa.doc_id = c.src
      JOIN hsh sb ON sb.doc_id = c.dst AND sb.h = sa.h
      GROUP BY c.src, c.dst
    )
    SELECT src, dst, containment FROM (
      SELECT i.src, i.dst, ROUND(CAST(i.i AS DOUBLE) / za.sz, 6) AS containment
      FROM inter i JOIN sizes za ON za.doc_id = i.src
    ) t WHERE containment >= 0.7
    """,
)
def q_containment_pairs_stratified(spark, sf_dir):
    """One-sided containment candidates (VERDICT r06 #3): each doc's
    bottom-5 rare-shingle hashes probe the rare-shingle inverted index,
    so tiny-doc-in-huge-doc pairs (containment ≈ 1, Jaccard ≈ 0 — pairs
    the Jaccard band join provably can miss) become candidates; exact
    |src∩dst|/|src| verification over the full shingle sets."""
    sh, rare = _containment_shingles_shared(spark, sf_dir)
    return D.containment_pairs_stratified(
        table(spark, sf_dir, "documents"),
        sh=sh,
        rare=rare,
        probe_hits=_containment_probe_hits_shared(spark, sf_dir),
    )


@register(
    "containment_pairs_bidir",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    hsh AS (
      SELECT doc_id, (('0x' || substr(md5(shingle), 1, 15))::BIGINT) AS h
      FROM sh
    ),
    dfreq AS (SELECT h, COUNT(*) AS df FROM hsh GROUP BY h),
    rare AS (
      SELECT hsh.doc_id, hsh.h FROM hsh JOIN dfreq USING (h) WHERE df <= 50
    ),
    probes AS (
      SELECT doc_id, h FROM (
        SELECT doc_id, h,
               row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
        FROM rare
      ) WHERE rn <= 5
    ),
    cand AS (
      SELECT DISTINCT LEAST(p.doc_id, r.doc_id) AS a,
                      GREATEST(p.doc_id, r.doc_id) AS b
      FROM probes p JOIN rare r ON r.h = p.h AND r.doc_id <> p.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM hsh GROUP BY doc_id),
    inter AS (
      SELECT c.a, c.b, COUNT(*) AS i
      FROM cand c
      JOIN hsh sa ON sa.doc_id = c.a
      JOIN hsh sb ON sb.doc_id = c.b AND sb.h = sa.h
      GROUP BY c.a, c.b
    )
    SELECT doc_a, doc_b, containment_ab, containment_ba FROM (
      SELECT i.a AS doc_a, i.b AS doc_b,
             ROUND(CAST(i.i AS DOUBLE) / za.sz, 6) AS containment_ab,
             ROUND(CAST(i.i AS DOUBLE) / zb.sz, 6) AS containment_ba
      FROM inter i
      JOIN sizes za ON za.doc_id = i.a
      JOIN sizes zb ON zb.doc_id = i.b
    ) t WHERE containment_ab >= 0.7 OR containment_ba >= 0.7
    """,
)
def q_containment_pairs_bidir(spark, sf_dir):
    """BIDIRECTIONAL containment (VERDICT r07 #3): one row per
    unordered candidate pair with BOTH directed containments, kept when
    either clears 0.7 — the one-call form of the directed query's
    "run twice or union" docstring. Candidates from either side's
    rare-shingle probes; both directions verified from ONE exact
    intersection count (no second corpus pass)."""
    sh, rare = _containment_shingles_shared(spark, sf_dir)
    return D.containment_pairs_bidir(
        table(spark, sf_dir, "documents"),
        sh=sh,
        rare=rare,
        probe_hits=_containment_probe_hits_shared(spark, sf_dir),
    )


@register(
    "entity_resolution_parts",
    oracle="""
    WITH RECURSIVE fpairs AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand
       AND a.p_size // 10 = b.p_size // 10
       AND a.p_partkey < b.p_partkey
       AND abs(length(a.p_name) - length(b.p_name)) <= 3
      WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM fpairs
      UNION ALL
      SELECT id_b, id_a FROM fpairs
    ),
    reach(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
    ),
    groups AS (SELECT node, MIN(label) AS entity_id FROM reach GROUP BY node)
    SELECT CAST(g.entity_id AS BIGINT) AS entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           arg_min(p.p_name, g.node) AS canonical_name
    FROM groups g JOIN part p ON p.p_partkey = g.node
    GROUP BY g.entity_id
    """,
)
def q_entity_resolution_parts(spark, sf_dir):
    """END-TO-END entity resolution — the full record-linkage pipeline
    composed from the engine's own primitives: blocked fuzzy matching
    (brand × size-decade blocks, banded Levenshtein ≤ 3) → connected
    components (transitive closure of match pairs) → one GOLDEN RECORD
    per entity (canonical key = min member id; canonical name = that
    member's name via min_by; member count). Every stage is the
    bounded-block / log-round machinery already certified separately;
    this registers the composition a deduplication team actually ships.
    Scale: Σ|block|² comparisons, pointer-jump closure, per-entity
    window-free argmin aggregate."""
    from pyspark.sql import functions as F

    parts = table(spark, sf_dir, "part").withColumn(
        "size_band", (F.col("p_size") / 10).cast("int")
    )
    from yamr_spark.materialize import materialize

    # barrier (VERDICT r07 #7): connected_components references its edge
    # input TWICE (both orientations of the undirected union) before its
    # own materialize — without this the Σ|block|² banded-Levenshtein
    # blocking pipeline executes twice inside that first job
    pairs = materialize(
        D.fuzzy_match_pairs(
            parts, block_cols=["p_brand", "size_band"], name_col="p_name",
            id_col="p_partkey",
        )
    )
    groups = connected_components(pairs, src="id_a", dst="id_b")
    return (
        groups.join(
            parts.select(F.col("p_partkey").alias("node"), "p_name"), "node"
        )
        .groupBy(F.col("component").cast("long").alias("entity_id"))
        .agg(
            F.count("*").alias("n_members"),
            F.min_by("p_name", "node").alias("canonical_name"),
        )
    )
