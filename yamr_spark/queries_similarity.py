"""Similarity-search query registrations with DuckDB oracles.

Cosines are computed in double precision on both engines and rounded to
6 dp BEFORE any ranking/threshold so boundary decisions are identical.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from yamr_spark.materialize import materialize, shared
from yamr_spark.operators import similarity as S
from yamr_spark.registry import register
from yamr_spark.tables import table
from yamr_spark.tmpdirs import session_store

_COS = (
    "ROUND(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)

_VECS_CTE = """
vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
"""

# ── Shared IVF builds (VERDICT r07 #4) ───────────────────────────────
# Every IVF consumer opens with the identical build: lowest-id
# centroids → broadcast cosine scoring → per-vector argmax assignment.
# ONE materialize()d (vec_id, centroid_id) table + one tiny centroid
# table per (application, sf_dir, c) is shared by ann_ivf_topk,
# ivf_probe_partitioned, hard_negative_mining_ivf and
# ann_quantized_ivf_topk. ``ivf_assign`` stays UNCACHED on purpose — it
# IS the assignment build, so the pipeline's cost stays measured in the
# bench. Values are identical by construction: the operators take the
# frames as optional inputs and get exactly what they would build.


def _ivf_shared(spark, sf_dir: str, c: int = 8):
    """(cents, assign) — materialized lowest-id-seed centroid table and
    (vec_id, centroid_id) assignment."""

    def build():
        emb = table(spark, sf_dir, "embeddings")
        cents = materialize(S.centroids(emb, c=c))
        assign = materialize(
            S.ivf_assign(emb, c=c, cents=cents).select("vec_id", "centroid_id")
        )
        return cents, assign

    return shared(spark, "ivf", (sf_dir, c), build)


def _frozen_sample(spark, sf_dir: str):
    emb = table(spark, sf_dir, "embeddings")
    return emb, emb.filter(F.col("vec_id") < _FROZEN_TRAIN_N)


def _frozen_shared(spark, sf_dir: str):
    """(fzcents, fzassign) — coarse centroids trained on the frozen
    256-vector prefix and the full-corpus assignment under them.

    The artifacts are PERSISTED as parquet beside the frozen code stores
    (the production layout: an index ships its trained params and is
    never retrained per query), written once per process, and READ BACK
    by every consumer. The shared entry holds only the read-back frames,
    so the bench's per-pass clearing costs a parquet re-read, not a
    retrain, while the training kernels stay timed by their uncached
    representatives (``kmeans_centroids``, ``ann_ivf_pq_kmeans_topk``,
    ``ivf_assign``)."""

    def train(base):
        emb, sample = _frozen_sample(spark, sf_dir)
        cdir = os.path.join(base, "cents")
        S.kmeans_centroid_vectors(sample, c=8, iters=1).write.parquet(cdir)
        S.ivf_assign(emb, cents=spark.read.parquet(cdir)).select(
            "vec_id", "centroid_id"
        ).write.parquet(os.path.join(base, "assign"))

    def build():
        base = session_store(f"ivfpqfz_params:{sf_dir}", train)
        return tuple(
            spark.read.parquet(os.path.join(base, d)) for d in ("cents", "assign")
        )

    return shared(spark, "frozen_ivf", (sf_dir,), build)


def _frozen_books_shared(spark, sf_dir: str, m: int = 4, k: int = 16):
    """Frozen-sample-trained PQ codebooks (one Lloyd refinement),
    persisted beside the frozen code stores per (sf_dir, m, k) — see
    :func:`_frozen_shared` for the layout rationale."""

    def train(bdir):
        _, sample = _frozen_sample(spark, sf_dir)
        S.pq_codebooks_kmeans(sample, m=m, k=k).write.parquet(bdir)

    def build():
        return spark.read.parquet(
            session_store(f"ivfpqfz_books:{sf_dir}:{m}:{k}", train)
        )

    return shared(spark, "frozen_books", (sf_dir, m, k), build)


def _kmeans_cents_shared(spark, sf_dir: str, c: int = 8, iters: int = 1):
    """Materialized kmeans-refined (centroid_id, cvec) table. Consumed by
    ann_ivf_kmeans_topk; ``kmeans_centroids`` stays UNCACHED as the
    train-step representative."""
    return shared(
        spark, "kmeans_cents", (sf_dir, c, iters),
        lambda: materialize(
            S.kmeans_centroid_vectors(
                table(spark, sf_dir, "embeddings"), c=c, iters=iters
            )
        ),
    )


@register(
    "ann_brute_topk",
    oracle=f"""
    WITH {_VECS_CTE},
    q AS (SELECT vec_id AS query_id, v AS va FROM vecs WHERE vec_id < 10),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             {_COS.format(a="va", b="c.v")} AS cosine
      FROM q CROSS JOIN vecs c
      WHERE c.vec_id != query_id
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored
    ) t WHERE rnk <= 5
    """,
)
def q_ann_brute_topk(spark, sf_dir):
    return S.brute_force_topk(table(spark, sf_dir, "embeddings"))


@register(
    "ivf_assign",
    oracle=f"""
    WITH {_VECS_CTE},
    cents AS (
      SELECT vec_id AS centroid_id, v AS cvec FROM vecs ORDER BY vec_id LIMIT 8
    ),
    scored AS (
      SELECT vec_id, centroid_id, {_COS.format(a="v", b="cvec")} AS cosine
      FROM vecs CROSS JOIN cents
    )
    SELECT vec_id, centroid_id, cosine AS centroid_cosine FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cosine DESC, centroid_id) AS rn
      FROM scored
    ) t WHERE rn = 1
    """,
)
def q_ivf_assign(spark, sf_dir):
    return S.ivf_assign(table(spark, sf_dir, "embeddings"))


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_VECS_CTE},
    cents AS (
      SELECT vec_id AS centroid_id, v AS cvec FROM vecs ORDER BY vec_id LIMIT 8
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT q.query_id, q.qv, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_COS.format(a="q.qv", b="c.cvec")} DESC,
                                           c.centroid_id) AS rn
        FROM q CROSS JOIN cents c
      ) t WHERE rn <= 2
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_COS.format(a="v.v", b="c.cvec")} DESC,
                                           c.centroid_id) AS rn
        FROM vecs v CROSS JOIN cents c
      ) t WHERE rn = 1
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_COS.format(a="p.qv", b="av.v")} AS cosine
      FROM probes p
      JOIN assign a ON a.centroid_id = p.centroid_id
      JOIN vecs av ON av.vec_id = a.vec_id
      WHERE a.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored
    ) t WHERE rnk <= 5
    """,
)
def q_ann_ivf_topk(spark, sf_dir):
    """IVF-probed approximate top-k (nprobe=2 of 8 cells) — the scale
    path; the oracle replays the exact same probe/assign arithmetic.
    Centroids/assignment come from the shared IVF cache (_ivf_shared)."""
    cents, assign = _ivf_shared(spark, sf_dir, c=8)
    return S.ivf_topk(
        table(spark, sf_dir, "embeddings"), cents=cents, assign=assign
    )


@register(
    "ivf_probe_partitioned",
    oracle=f"""
    WITH {_VECS_CTE},
    cents AS (
      SELECT vec_id AS centroid_id, v AS cvec FROM vecs ORDER BY vec_id LIMIT 8
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT q.query_id, q.qv, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_COS.format(a="q.qv", b="c.cvec")} DESC,
                                           c.centroid_id) AS rn
        FROM q CROSS JOIN cents c
      ) t WHERE rn <= 2
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_COS.format(a="v.v", b="c.cvec")} DESC,
                                           c.centroid_id) AS rn
        FROM vecs v CROSS JOIN cents c
      ) t WHERE rn = 1
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_COS.format(a="p.qv", b="av.v")} AS cosine
      FROM probes p
      JOIN assign a ON a.centroid_id = p.centroid_id
      JOIN vecs av ON av.vec_id = a.vec_id
      WHERE a.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored
    ) t WHERE rnk <= 5
    """,
)
def q_ivf_probe_partitioned(spark, sf_dir):
    """The 100 TB IVF layout end-to-end: write the corpus partitioned by
    centroid_id, then answer top-k by scanning ONLY the probed cells'
    directories (literal partition filter → directory pruning; pinned by
    tests/test_plans.py). Must produce exactly ann_ivf_topk's answer —
    the oracle replays the same probe/assign arithmetic."""
    emb = table(spark, sf_dir, "embeddings")
    cents, assign = _ivf_shared(spark, sf_dir, c=8)
    # per-process store, cleaned at exit; the store is immutable once
    # written, so repeat invocations skip the build and time the probe
    store = session_store(
        f"ivf:{sf_dir}", lambda p: S.write_ivf_store(emb, p, c=8, assign=assign)
    )
    return S.ivf_store_topk(
        spark, store, emb, k=5, num_queries=10, c=8, nprobe=2, cents=cents
    )


@register(
    "kmeans_centroids",
    oracle=f"""
    WITH {_VECS_CTE},
    cents AS (
      SELECT vec_id AS centroid_id, v AS cvec FROM vecs ORDER BY vec_id LIMIT 8
    ),
    scored AS (
      SELECT v.vec_id, c.centroid_id, v.v,
             {_COS.format(a="v.v", b="c.cvec")} AS cosine
      FROM vecs v CROSS JOIN cents c
    ),
    assign AS (
      SELECT vec_id, centroid_id, v FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cosine DESC, centroid_id) AS rn
        FROM scored
      ) t WHERE rn = 1
    ),
    dimidx AS (
      SELECT centroid_id, v, unnest(range(len(v))) AS dim FROM assign
    )
    SELECT centroid_id, CAST(dim AS BIGINT) AS dim,
           ROUND(AVG(v[dim + 1]), 6) AS value
    FROM dimidx GROUP BY centroid_id, dim
    """,
)
def q_kmeans_centroids(spark, sf_dir):
    """One Lloyd iteration of k-means centroid refinement (the IVF
    'training' step) — iterative assign→mean, long-form output so the
    oracle is a plain unnest + avg."""
    return S.kmeans_refine(table(spark, sf_dir, "embeddings"), c=8, iters=1)


# One Lloyd iteration in SQL: lowest-id seeds → cosine argmin assign →
# per-(centroid, dim) mean ROUNDED to 6 dp — identical to
# kmeans_refine's long-form output, then rebuilt into array centroids.
_KMEANS_CENTS_CTE = f"""
seeds AS (
  SELECT vec_id AS centroid_id, v AS cvec FROM vecs ORDER BY vec_id LIMIT 8
),
kassign AS (
  SELECT vec_id, centroid_id, v FROM (
    SELECT vecs.vec_id, s.centroid_id, vecs.v,
           ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                              ORDER BY {_COS.format(a="vecs.v", b="s.cvec")} DESC,
                                       s.centroid_id) AS rn
    FROM vecs CROSS JOIN seeds s
  ) t WHERE rn = 1
),
kdim AS (
  SELECT centroid_id, v, unnest(range(len(v))) AS dim FROM kassign
),
kmeans AS (
  SELECT centroid_id, dim, ROUND(AVG(v[dim + 1]), 6) AS value
  FROM kdim GROUP BY centroid_id, dim
),
cents AS (
  SELECT centroid_id, list(value ORDER BY dim) AS cvec
  FROM kmeans GROUP BY centroid_id
)
"""


@register(
    "ann_ivf_kmeans_topk",
    oracle=f"""
    WITH {_VECS_CTE},
    {_KMEANS_CENTS_CTE},
    q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT q.query_id, q.qv, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_COS.format(a="q.qv", b="c.cvec")} DESC,
                                           c.centroid_id) AS rn
        FROM q CROSS JOIN cents c
      ) t WHERE rn <= 2
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_COS.format(a="v.v", b="c.cvec")} DESC,
                                           c.centroid_id) AS rn
        FROM vecs v CROSS JOIN cents c
      ) t WHERE rn = 1
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_COS.format(a="p.qv", b="av.v")} AS cosine
      FROM probes p
      JOIN assign a ON a.centroid_id = p.centroid_id
      JOIN vecs av ON av.vec_id = a.vec_id
      WHERE a.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored
    ) t WHERE rnk <= 5
    """,
)
def q_ann_ivf_kmeans_topk(spark, sf_dir):
    """IVF top-k over kmeans-refined centroids (train→search): the
    centroid table is the ROUNDED one-iteration Lloyd refinement, so the
    oracle rebuilds bit-identical centroids and replays the probe.
    The refined centroid table comes from the shared kmeans cache
    (_kmeans_cents_shared; kmeans_centroids stays the uncached
    train-step representative)."""
    return S.ivf_topk_kmeans(
        table(spark, sf_dir, "embeddings"), c=8, nprobe=2, iters=1,
        cents=_kmeans_cents_shared(spark, sf_dir, c=8, iters=1),
    )


@register(
    "embedding_near_dup",
    oracle=f"""
    WITH {_VECS_CTE},
    cents AS (
      SELECT vec_id AS centroid_id, v AS cvec FROM (
        SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) AS crn FROM vecs
      ) t WHERE crn <= (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM vecs)
    ),
    scored AS (
      SELECT vec_id, centroid_id, {_COS.format(a="v", b="cvec")} AS cosine
      FROM vecs CROSS JOIN cents
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cosine DESC, centroid_id) AS rn
        FROM scored
      ) t WHERE rn = 1
    ),
    av AS (SELECT a.vec_id, a.centroid_id, v.v FROM assign a JOIN vecs v USING (vec_id))
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_COS.format(a="a.v", b="b.v")} AS cosine
    FROM av a JOIN av b
      ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    WHERE {_COS.format(a="a.v", b="b.v")} >= 0.4
    """,
)
def q_embedding_near_dup(spark, sf_dir):
    return S.embedding_near_dup(table(spark, sf_dir, "embeddings"))


@register(
    "embedding_near_dup_p2",
    oracle=f"""
    WITH {_VECS_CTE},
    cents AS (
      SELECT vec_id AS centroid_id, v AS cvec FROM (
        SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) AS crn FROM vecs
      ) t WHERE crn <= (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM vecs)
    ),
    scored AS (
      SELECT vec_id, centroid_id, {_COS.format(a="v", b="cvec")} AS cosine
      FROM vecs CROSS JOIN cents
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cosine DESC, centroid_id) AS rn
        FROM scored
      ) t WHERE rn <= 2
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM assign a JOIN assign b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b, {_COS.format(a="va.v", b="vb.v")} AS cosine
    FROM cand c
    JOIN vecs va ON va.vec_id = c.vec_a
    JOIN vecs vb ON vb.vec_id = c.vec_b
    WHERE {_COS.format(a="va.v", b="vb.v")} >= 0.4
    """,
)
def q_embedding_near_dup_p2(spark, sf_dir):
    """Multi-probe (p=2) IVF-blocked near-dup pairs: recovers boundary
    pairs the single-assignment variant misses — its output is a strict
    superset of embedding_near_dup's (pinned in tests/test_similarity.py)."""
    return S.embedding_near_dup_multi(table(spark, sf_dir, "embeddings"), p=2)


@register(
    "embedding_norms",
    oracle=f"""
    WITH {_VECS_CTE}
    SELECT vec_id,
           CAST(len(v) AS INT) AS dims,
           ROUND(sqrt(list_dot_product(v, v)), 6) AS l2_norm,
           ROUND(list_aggregate(v, 'sum') / len(v), 6) AS mean_val
    FROM vecs
    """,
)
def q_embedding_norms(spark, sf_dir):
    """Vector arithmetic entirely in codegen'd array expressions
    (aggregate/transform lambdas — the no-UDF path for embedding math)."""
    from pyspark.sql import functions as F

    emb = table(spark, sf_dir, "embeddings")
    v = "transform(embedding, x -> cast(x as double))"
    return emb.select(
        "vec_id",
        F.expr(f"size({v})").alias("dims"),
        F.round(
            F.sqrt(F.expr(f"aggregate({v}, cast(0.0 as double), (a, x) -> a + x * x)")),
            6,
        ).alias("l2_norm"),
        F.round(
            F.expr(f"aggregate({v}, cast(0.0 as double), (a, x) -> a + x)")
            / F.expr(f"size({v})"),
            6,
        ).alias("mean_val"),
    )


def _srp_sig_sql() -> str:
    """The 32-bit SRP signature as a DuckDB expression over ``v`` —
    built from the SAME hyperplane literals as srp_signature (3-decimal
    md5-derived components; identical decimal strings parse to identical
    doubles in both engines)."""
    planes = S.srp_hyperplanes(32, 64)
    terms = []
    for i, row in enumerate(planes):
        lit = "[" + ", ".join(str(x) for x in row) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {lit}) >= 0 THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


def _srp_near_dup_oracle() -> str:
    from yamr_spark.operators.dedup import pigeonhole_blocks

    nib = " UNION ALL ".join(
        f"SELECT vec_id, v, {i} AS blk_id, (srp >> {off}) & {(1 << w) - 1} AS blk_val FROM sigs"
        for i, (off, w) in enumerate(pigeonhole_blocks(32, 3))
    )
    return f"""
    WITH {_VECS_CTE},
    sigs AS (SELECT vec_id, v, CAST({_srp_sig_sql()} AS BIGINT) AS srp FROM vecs),
    nib AS ({nib}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM nib a JOIN nib b
        ON a.blk_id = b.blk_id AND a.blk_val = b.blk_val AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b, {_COS.format(a="va.v", b="vb.v")} AS cosine
    FROM cand c
    JOIN vecs va ON va.vec_id = c.vec_a
    JOIN vecs vb ON vb.vec_id = c.vec_b
    WHERE {_COS.format(a="va.v", b="vb.v")} >= 0.4
    """


@register("srp_near_dup", oracle=_srp_near_dup_oracle())
def q_srp_near_dup(spark, sf_dir):
    """SRP-LSH-blocked near-dup pairs: the hyperplane-bucket alternative
    to IVF cell blocking (Charikar random-hyperplane LSH) — no centroid
    table, data-independent signatures, pigeonhole candidate join,
    exact-cosine verify. Oracle replays the identical hyperplane
    literals, signature bits, blocks, and verify."""
    return S.srp_near_dup(table(spark, sf_dir, "embeddings"))


def _srp_estimate_oracle() -> str:
    from yamr_spark.operators.dedup import pigeonhole_blocks
    from yamr_spark.operators.similarity import srp_predicted_cosines

    nib = " UNION ALL ".join(
        f"SELECT vec_id, {i} AS blk_id, (srp >> {off}) & {(1 << w) - 1} AS blk_val FROM sigs"
        for i, (off, w) in enumerate(pigeonhole_blocks(32, 3))
    )
    pred_case = (
        "CASE hamming "
        + " ".join(
            f"WHEN {h} THEN {p!r}"
            for h, p in enumerate(srp_predicted_cosines(32))
        )
        + " END"
    )
    return f"""
    WITH {_VECS_CTE},
    sigs AS (SELECT vec_id, v, CAST({_srp_sig_sql()} AS BIGINT) AS srp FROM vecs),
    nib AS ({nib}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM nib a JOIN nib b
        ON a.blk_id = b.blk_id AND a.blk_val = b.blk_val AND a.vec_id < b.vec_id
    ),
    pc AS (
      SELECT CAST(bit_count(xor(sa.srp, sb.srp)) AS INT) AS hamming,
             {_COS.format(a="sa.v", b="sb.v")} AS cosine
      FROM cand c
      JOIN sigs sa ON sa.vec_id = c.vec_a
      JOIN sigs sb ON sb.vec_id = c.vec_b
    ),
    -- excluded-NULL contract (ADVICE r11): a zero-norm vector yields
    -- NULL cosine, which the Spark side's _attach_and_score drops via
    -- its `cosine >= -1.0` filter; drop it here too so n_pairs and the
    -- mean denominator agree by construction if the fixture ever gains
    -- a zero vector
    pcn AS (SELECT * FROM pc WHERE cosine IS NOT NULL)
    SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {pred_case} AS pred_cos,
           ROUND(CAST(SUM(CAST(ROUND(cosine, 12) AS DECIMAL(28,14))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_cos,
           MIN(cosine) AS min_cos,
           MAX(cosine) AS max_cos
    FROM pcn GROUP BY hamming
    """


@register("srp_estimate_quality", oracle=_srp_estimate_oracle())
def q_srp_estimate_quality(spark, sf_dir):
    """SRP calibration: exact cosine binned by signature hamming, next
    to the Charikar prediction cos(π·h/bits) (baked as identical
    literals in both engines, so libm ulp drift cannot split them).
    The embedding-space entry completing the estimator-certification
    panel."""
    return S.srp_estimate_vs_exact(table(spark, sf_dir, "embeddings"))


@register(
    "semdedup",
    oracle=f"""
    WITH {_VECS_CTE},
    cents AS (
      SELECT vec_id AS centroid_id, v AS cvec FROM (
        SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) AS crn FROM vecs
      ) t WHERE crn <= (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM vecs)
    ),
    scored AS (
      SELECT vec_id, centroid_id, {_COS.format(a="v", b="cvec")} AS cosine
      FROM vecs CROSS JOIN cents
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cosine DESC, centroid_id) AS rn
        FROM scored
      ) t WHERE rn = 1
    ),
    av AS (SELECT a.vec_id, a.centroid_id, v.v
           FROM assign a JOIN vecs v USING (vec_id)),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM av a JOIN av b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE {_COS.format(a="a.v", b="b.v")} >= 0.4
    )
    SELECT av.vec_id, av.centroid_id,
           (d.vec_id IS NULL) AS kept
    FROM av LEFT JOIN dropped d ON av.vec_id = d.vec_id
    """,
)
def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) per-doc keep/drop verdicts: IVF-cell
    blocking + the paper's greedy lower-id rule, eps=0.4. Same adaptive
    cell sizing and 6-dp-rounded cosine as embedding_near_dup so the
    oracle replays the exact arithmetic."""
    return S.semdedup(table(spark, sf_dir, "embeddings"))


# int8 quantization replay: round() BEFORE the int cast (Spark CAST
# truncates, DuckDB CAST rounds; casting a round()ed integral double is
# identical in both), scale = max|x| floored at 1e-30.
_QUANT_CTE = """
vecs AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
qt AS (
  SELECT vec_id, label, v,
         greatest(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 1e-30)
           AS scale
  FROM vecs
),
quant AS (
  SELECT vec_id, label, v, scale,
         list_transform(v, x -> CAST(round(x / scale * 127, 0) AS INTEGER)) AS qvec
  FROM qt
)
"""


@register(
    "embedding_quantize_stats",
    oracle=f"""
    WITH {_QUANT_CTE},
    scored AS (
      SELECT label,
        ROUND(sqrt(list_sum(list_transform(
            list_zip(list_transform(qvec, q -> CAST(q AS DOUBLE) * scale / 127.0), v),
            p -> (p[1] - p[2]) * (p[1] - p[2]))) / len(v)), 6) AS rmse6,
        ROUND(
          list_dot_product(
            list_transform(qvec, q -> CAST(q AS DOUBLE) * scale / 127.0), v)
          / (sqrt(list_dot_product(v, v)) *
             sqrt(list_dot_product(
               list_transform(qvec, q -> CAST(q AS DOUBLE) * scale / 127.0),
               list_transform(qvec, q -> CAST(q AS DOUBLE) * scale / 127.0)))),
          6) AS cos_vr
      FROM quant
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(CAST(SUM(CAST(rmse6 AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 6)
             AS mean_rmse,
           ROUND(CAST(SUM(CAST(cos_vr AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 6)
             AS mean_cosine
    FROM scored GROUP BY label
    """,
)
def q_embedding_quantize_stats(spark, sf_dir):
    """Int8 quantization quality per label (mean reconstruction RMSE,
    mean original-vs-reconstruction cosine) — the acceptance report
    before switching an embedding store to 4x-smaller codes. Decimal-
    summed means are aggregation-order independent."""
    return S.quantize_stats(table(spark, sf_dir, "embeddings"))


@register(
    "ann_quantized_topk",
    oracle=f"""
    WITH {_QUANT_CTE},
    q AS (SELECT vec_id AS query_id, qvec AS qa FROM quant WHERE vec_id < 10),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             ROUND(
               CAST(list_dot_product(CAST(qa AS DOUBLE[]), CAST(c.qvec AS DOUBLE[]))
                    AS DOUBLE)
               / (sqrt(list_dot_product(CAST(qa AS DOUBLE[]), CAST(qa AS DOUBLE[]))) *
                  sqrt(list_dot_product(CAST(c.qvec AS DOUBLE[]),
                                        CAST(c.qvec AS DOUBLE[])))),
               6) AS cosine_q
      FROM q CROSS JOIN quant c
      WHERE c.vec_id != query_id
    )
    SELECT query_id, neighbor_id, cosine_q, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_q DESC, neighbor_id) AS rnk
      FROM scored
    ) t WHERE rnk <= 5
    """,
)
def q_ann_quantized_topk(spark, sf_dir):
    """Brute-force top-k in int8-quantized space: integer dot products
    (exact, 4x fewer bytes moved) normalized by code norms — the
    memory-bound rerank shape at 100 TB. rnk is BIGINT on both sides."""
    return S.quantized_topk(table(spark, sf_dir, "embeddings"))


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH lvecs AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, label AS query_label, v AS va
      FROM lvecs WHERE vec_id < 10
    ),
    scored AS (
      SELECT query_id, query_label,
             c.vec_id AS negative_id, c.label AS negative_label,
             {_COS.format(a="va", b="c.v")} AS cosine
      FROM q CROSS JOIN lvecs c
      WHERE c.label != query_label
    )
    SELECT query_id, query_label, negative_id, negative_label, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, negative_id) AS rnk
      FROM scored
    ) t WHERE rnk <= 3
    """,
)
def q_hard_negative_mining(spark, sf_dir):
    """Contrastive hard negatives: per query vector, the top-3 nearest
    vectors of a DIFFERENT label — the negative-selection pass of
    embedding-pair construction. Broadcast queries, streamed corpus,
    label predicate fused into the join."""
    return S.hard_negative_mining(table(spark, sf_dir, "embeddings"))


@register(
    "hard_negative_mining_ivf",
    oracle=f"""
    WITH lvecs AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cents AS (
      SELECT vec_id AS centroid_id, v AS cvec FROM lvecs ORDER BY vec_id LIMIT 8
    ),
    q AS (
      SELECT vec_id AS query_id, label AS query_label, v AS qv
      FROM lvecs WHERE vec_id < 10
    ),
    probes AS (
      SELECT query_id, query_label, qv, centroid_id FROM (
        SELECT q.query_id, q.query_label, q.qv, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_COS.format(a="q.qv", b="c.cvec")} DESC,
                                           c.centroid_id) AS rn
        FROM q CROSS JOIN cents c
      ) t WHERE rn <= 2
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_COS.format(a="v.v", b="c.cvec")} DESC,
                                           c.centroid_id) AS rn
        FROM lvecs v CROSS JOIN cents c
      ) t WHERE rn = 1
    ),
    scored AS (
      SELECT p.query_id, p.query_label,
             a.vec_id AS negative_id, cv.label AS negative_label,
             {_COS.format(a="p.qv", b="cv.v")} AS cosine
      FROM probes p
      JOIN assign a ON a.centroid_id = p.centroid_id
      JOIN lvecs cv ON cv.vec_id = a.vec_id
      WHERE cv.label != p.query_label
    )
    SELECT query_id, query_label, negative_id, negative_label, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, negative_id) AS rnk
      FROM scored
    ) t WHERE rnk <= 3
    """,
)
def q_hard_negative_mining_ivf(spark, sf_dir):
    """IVF-pruned hard-negative mining (nprobe=2 of 8 cells): negatives
    come only from each anchor's probed cells — the at-scale variant of
    hard_negative_mining whose 100 TB story was previously a docstring
    comment (VERDICT r05 #2). The oracle replays the identical
    probe/assign arithmetic. Centroids/assignment come from the shared
    IVF cache (_ivf_shared)."""
    cents, assign = _ivf_shared(spark, sf_dir, c=8)
    return S.hard_negative_mining_ivf(
        table(spark, sf_dir, "embeddings"), cents=cents, assign=assign
    )


@register(
    "embedding_covariance",
    oracle="""
    WITH vecs AS (
      SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS (SELECT COUNT(*) AS n FROM vecs),
    dims AS (
      SELECT unnest(range(least((SELECT MAX(len(v)) FROM vecs), 16))) AS i
    ),
    sums AS (
      SELECT d.i, SUM(CAST(round(v[d.i + 1], 9) AS DECIMAL(28,9))) AS s
      FROM vecs, dims d GROUP BY d.i
    ),
    pairs AS (
      SELECT di.i, dj.i AS j,
             SUM(CAST(round(v[di.i + 1] * v[dj.i + 1], 9) AS DECIMAL(28,9))) AS sp
      FROM vecs, dims di, dims dj
      WHERE dj.i >= di.i
      GROUP BY di.i, dj.i
    )
    SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
           ROUND(CAST(p.sp AS DOUBLE) / n.n
                 - (CAST(si.s AS DOUBLE) / n.n) * (CAST(sj.s AS DOUBLE) / n.n),
                 6) + 0.0 AS cov
    FROM pairs p
    JOIN sums si ON si.i = p.i
    JOIN sums sj ON sj.i = p.j
    CROSS JOIN n
    """,
)
def q_embedding_covariance(spark, sf_dir):
    """Upper-triangle covariance of the first 16 embedding dims —
    distributed X^T X with decimal-disciplined order-independent sums;
    the data pass of distributed PCA/whitening."""
    return S.embedding_covariance(table(spark, sf_dir, "embeddings"))


def _cov_gemm_cte(dim: int) -> str:
    """DuckDB CTE chain ending in ``covut(i, j, cov)`` — the upper
    triangle of the input-quantized integer-gemm covariance at ``dim``
    dims (the exact arithmetic embedding_covariance_gemm computes)."""
    return f"""
    vecs AS (
      SELECT vec_id,
             list_transform(
               CAST(embedding AS DOUBLE[])[1:{dim}],
               x -> CAST(COALESCE(TRY_CAST(ROUND(x, 6) AS DECIMAL(25,6)),
                                  CAST(0 AS DECIMAL(25,6))) * 1000000 AS BIGINT)
             ) AS q
      FROM embeddings
    ),
    ex AS (
      SELECT vec_id, unnest(range(len(q))) AS i, unnest(q) AS sx FROM vecs
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vecs WHERE len(q) > 0),
    sums AS (SELECT i, SUM(sx) AS sl FROM ex GROUP BY i),
    prs AS (
      SELECT a.i, b.i AS j, SUM(a.sx * b.sx) AS spl
      FROM ex a JOIN ex b ON b.vec_id = a.vec_id AND b.i >= a.i
      GROUP BY a.i, b.i
    ),
    covut AS (
      SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
             ROUND((CAST(p.spl AS DOUBLE) / 1e12) / n.n
                   - ((CAST(si.sl AS DOUBLE) / 1e6) / n.n)
                   * ((CAST(sj.sl AS DOUBLE) / 1e6) / n.n),
                   6) + 0.0 AS cov
      FROM prs p
      JOIN sums si ON si.i = p.i
      JOIN sums sj ON sj.i = p.j
      CROSS JOIN n
    )"""


@register(
    "hybrid_rrf_search",
    oracle=f"""
    WITH {_VECS_CTE},
    dq AS (SELECT v AS va FROM vecs WHERE vec_id = 0),
    dscored AS (
      SELECT c.vec_id AS doc, {_COS.format(a="dq.va", b="c.v")} AS cosine
      FROM dq CROSS JOIN vecs c WHERE c.vec_id != 0
    ),
    dense AS (
      SELECT doc, rnk FROM (
        SELECT doc, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc) AS rnk
        FROM dscored
      ) t WHERE rnk <= 20
    ),
    toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}_]+'),
                                x -> length(x) > 0)) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, token),
    df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    sc AS (
      SELECT tf.doc_id, tf.token,
             ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1), 6) AS w
      FROM tf JOIN df USING (token) CROSS JOIN n
    ),
    vec AS (
      SELECT doc_id, token, w FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY w DESC, token) AS r
        FROM sc
      ) t WHERE r <= 3
    ),
    norms AS (
      SELECT doc_id,
             sqrt(CAST(SUM(CAST(round(w * w, 9) AS DECIMAL(28,9))) AS DOUBLE)) AS nrm
      FROM vec GROUP BY doc_id
    ),
    sprs AS (
      SELECT b.doc_id AS doc,
             ROUND(CAST(SUM(CAST(round(a.w * b.w, 9) AS DECIMAL(28,9))) AS DOUBLE)
                   / (na.nrm * nb.nrm), 6) AS cosine
      FROM (SELECT * FROM vec WHERE doc_id = 0) a
      JOIN vec b ON b.token = a.token AND b.doc_id != 0
      JOIN norms na ON na.doc_id = 0
      JOIN norms nb ON nb.doc_id = b.doc_id
      GROUP BY b.doc_id, na.nrm, nb.nrm
    ),
    sparse AS (
      SELECT doc, rnk FROM (
        SELECT doc, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc) AS rnk
        FROM sprs
      ) t WHERE rnk <= 20
    )
    SELECT COALESCE(s.doc, d.doc) AS doc_id,
           ROUND(COALESCE(1.0 / (60 + s.rnk), 0.0)
                 + COALESCE(1.0 / (60 + d.rnk), 0.0), 6) AS rrf_score,
           s.rnk AS sparse_rank,
           d.rnk AS dense_rank
    FROM sparse s FULL OUTER JOIN dense d ON d.doc = s.doc
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def q_hybrid_rrf_search(spark, sf_dir):
    """HYBRID retrieval for query 0 (doc_id ↔ vec_id aligned): the
    sparse lexical ranking (top-3-TF-IDF posting join, top-20) and the
    dense embedding ranking (exact cosine, top-20) fused by Reciprocal
    Rank Fusion — the calibration-free sparse⊕dense combiner every
    production retrieval stack ships. Both input rankings and the
    fusion are deterministic and oracle-replayed."""
    from pyspark.sql import Window, functions as F

    from yamr_spark.operators import text as T

    sp = T.sparse_cosine_pairs(
        table(spark, sf_dir, "documents"), num_queries=1, threshold=-1.0
    )
    # single-query candidate list — the windowless rank is bounded by
    # that one query's posting-join candidates, not the corpus
    wq = Window.orderBy(F.col("cosine").desc(), F.col("doc_b"))
    sparse = (
        sp.withColumn("rnk", F.row_number().over(wq).cast("long"))
        .where(F.col("rnk") <= 20)
        .select(F.col("doc_b").alias("doc_id"), "rnk")
    )
    dense = S.brute_force_topk(
        table(spark, sf_dir, "embeddings"), k=20, num_queries=1
    ).select(F.col("neighbor_id").alias("doc_id"), "rnk")
    return S.rrf_fuse(sparse, dense, k=60, top=10)


def _pca_oracle(dim: int = 16, n_rounds: int = 3) -> str:
    """Unrolled power-iteration replay (the pagerank-oracle pattern):
    same 12dp-product/DECIMAL(28,14)-sum/10dp-renormalize discipline
    the Spark operator applies, one CTE pair per round."""
    head = f"""
    WITH {_cov_gemm_cte(dim)},
    cfull AS (
      SELECT i, j, cov FROM covut
      UNION ALL
      SELECT j AS i, i AS j, cov FROM covut WHERE i <> j
    ),
    dims AS (SELECT DISTINCT i FROM cfull),
    v0 AS (SELECT i, ROUND(1.0 / sqrt(CAST({dim} AS DOUBLE)), 10) AS v FROM dims)"""
    rounds = []
    for k in range(1, n_rounds + 1):
        rounds.append(f""",
    w{k} AS (
      SELECT c.i,
             SUM(CAST(ROUND(c.cov * v.v, 12) AS DECIMAL(28,14))) AS w
      FROM cfull c JOIN v{k - 1} v ON v.i = c.j
      GROUP BY c.i
    ),
    n{k} AS (
      SELECT sqrt(CAST(SUM(CAST(ROUND(CAST(w AS DOUBLE) * CAST(w AS DOUBLE), 12)
                               AS DECIMAL(28,14))) AS DOUBLE)) AS nrm
      FROM w{k}
    ),
    v{k} AS (
      SELECT i, CASE WHEN n{k}.nrm > 0
                     THEN ROUND(CAST(w AS DOUBLE) / n{k}.nrm, 10) END AS v
      FROM w{k} CROSS JOIN n{k}
    )""")
    tail = f""",
    lam AS (
      SELECT ROUND(CAST(SUM(CAST(ROUND(va.v * c.cov * vb.v, 12)
                                 AS DECIMAL(28,14))) AS DOUBLE), 8) AS eigenvalue
      FROM cfull c
      JOIN v{n_rounds} va ON va.i = c.i
      JOIN v{n_rounds} vb ON vb.i = c.j
    )
    SELECT v.i, v.v AS loading, lam.eigenvalue
    FROM v{n_rounds} v CROSS JOIN lam"""
    return head + "".join(rounds) + tail


def _power_ctes(mat: str, sfx: str, dim: int, n_rounds: int) -> str:
    """CTE chain replaying ``_power_iteration`` over matrix CTE ``mat``
    with suffix-disambiguated names: defines ``v{sfx}{n_rounds}`` (the
    final iterate) and ``lam{sfx}`` (the Rayleigh eigenvalue). Same
    12dp-product/DECIMAL(28,14)-sum/10dp-renormalize discipline as
    :func:`_pca_oracle`, factored so the deflation oracle can chain
    two extractions."""
    parts = [
        f""",
    dims{sfx} AS MATERIALIZED (SELECT DISTINCT i FROM {mat}),
    v{sfx}0 AS MATERIALIZED (SELECT i, ROUND(1.0 / sqrt(CAST({dim} AS DOUBLE)), 10) AS v
                FROM dims{sfx})"""
    ]
    for k in range(1, n_rounds + 1):
        parts.append(f""",
    w{sfx}{k} AS MATERIALIZED (
      SELECT c.i,
             SUM(CAST(ROUND(c.cov * v.v, 12) AS DECIMAL(28,14))) AS w
      FROM {mat} c JOIN v{sfx}{k - 1} v ON v.i = c.j
      GROUP BY c.i
    ),
    n{sfx}{k} AS MATERIALIZED (
      SELECT sqrt(CAST(SUM(CAST(ROUND(CAST(w AS DOUBLE) * CAST(w AS DOUBLE), 12)
                               AS DECIMAL(28,14))) AS DOUBLE)) AS nrm
      FROM w{sfx}{k}
    ),
    v{sfx}{k} AS MATERIALIZED (
      SELECT i, CASE WHEN n{sfx}{k}.nrm > 0
                     THEN ROUND(CAST(w AS DOUBLE) / n{sfx}{k}.nrm, 10) END AS v
      FROM w{sfx}{k} CROSS JOIN n{sfx}{k}
    )""")
    parts.append(f""",
    lam{sfx} AS MATERIALIZED (
      SELECT ROUND(CAST(SUM(CAST(ROUND(va.v * c.cov * vb.v, 12)
                                 AS DECIMAL(28,14))) AS DOUBLE), 8) AS eigenvalue
      FROM {mat} c
      JOIN v{sfx}{n_rounds} va ON va.i = c.i
      JOIN v{sfx}{n_rounds} vb ON vb.i = c.j
    )""")
    return "".join(parts)


def _pca_components_oracle(dim: int = 16, n_rounds: int = 3) -> str:
    """Two-component deflation replay: extract (v, λ) over cfull, deflate
    entry-wise via round(cov − coalesce(round(λ·vᵢ·vⱼ, 12), 0), 8),
    extract again — the exact chain ``pca_top_components`` runs."""
    n = n_rounds
    return f"""
    WITH {_cov_gemm_cte(dim)},
    cfull AS MATERIALIZED (
      SELECT i, j, cov FROM covut
      UNION ALL
      SELECT j AS i, i AS j, cov FROM covut WHERE i <> j
    ){_power_ctes("cfull", "a", dim, n_rounds)},
    c2 AS MATERIALIZED (
      SELECT c.i, c.j,
             ROUND(c.cov - COALESCE(ROUND(lama.eigenvalue * va.v * vb.v, 12),
                                    0.0), 8) AS cov
      FROM cfull c
      JOIN va{n} va ON va.i = c.i
      JOIN va{n} vb ON vb.i = c.j
      CROSS JOIN lama
    ){_power_ctes("c2", "b", dim, n_rounds)}
    SELECT CAST(1 AS BIGINT) AS component, v.i, v.v + 0.0 AS loading,
           lama.eigenvalue + 0.0 AS eigenvalue
    FROM va{n} v CROSS JOIN lama
    UNION ALL
    SELECT CAST(2 AS BIGINT), v.i, v.v + 0.0, lamb.eigenvalue + 0.0
    FROM vb{n} v CROSS JOIN lamb"""


@register("pca_top_components", oracle=_pca_components_oracle())
def q_pca_top_components(spark, sf_dir):
    """Top TWO principal components via power iteration with Hotelling
    deflation over the distributed integer-gemm covariance — the
    multi-component PCA a whitening/semdedup pipeline actually wants.
    One corpus scan total; deflation and both extractions are d²-row
    table work, corpus-size independent, decimal-disciplined so the
    unrolled oracle replays every round and the deflation bit-for-bit."""
    return S.pca_top_components(table(spark, sf_dir, "embeddings"))


@register("pca_top_component", oracle=_pca_oracle())
def q_pca_top_component(spark, sf_dir):
    """Dominant principal component of the first 16 embedding dims:
    3 decimal-disciplined power-iteration rounds over the distributed
    integer-gemm covariance, plus the Rayleigh-quotient eigenvalue —
    distributed numerical linear algebra under the exact content hash
    (the iteration itself is d²-table work, corpus-size independent)."""
    return S.pca_top_component(table(spark, sf_dir, "embeddings"))


@register(
    "embedding_covariance_gemm",
    oracle=f"WITH {_cov_gemm_cte(64)} SELECT i, j, cov FROM covut",
)
def q_embedding_covariance_gemm(spark, sf_dir):
    """Full-dimension (d=64) covariance via the Arrow-batched integer
    GEMM path (VERDICT r06 #6): per-batch numpy Mᵀ·M over JVM-quantized
    scaled int64s — exact, batch-boundary-independent arithmetic the
    oracle replays integer-for-integer. The explode form stays
    registered at d=16 as the SQL-shaped baseline; this is the plan
    that survives d in the hundreds (d² rows per BATCH, not per row)."""
    return S.embedding_covariance_gemm(table(spark, sf_dir, "embeddings"))


@register(
    "ann_quantized_ivf_topk",
    oracle=f"""
    WITH {_QUANT_CTE},
    cents AS (
      SELECT vec_id AS centroid_id, v AS cvec FROM vecs ORDER BY vec_id LIMIT 8
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, qvec AS qa
          FROM quant WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qa, centroid_id FROM (
        SELECT q.query_id, q.qa, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_COS.format(a="q.qv", b="c.cvec")} DESC,
                                           c.centroid_id) AS rn
        FROM q CROSS JOIN cents c
      ) t WHERE rn <= 2
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_COS.format(a="v.v", b="c.cvec")} DESC,
                                           c.centroid_id) AS rn
        FROM vecs v CROSS JOIN cents c
      ) t WHERE rn = 1
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(
               CAST(list_dot_product(CAST(p.qa AS DOUBLE[]),
                                     CAST(cq.qvec AS DOUBLE[])) AS DOUBLE)
               / (sqrt(list_dot_product(CAST(p.qa AS DOUBLE[]),
                                        CAST(p.qa AS DOUBLE[]))) *
                  sqrt(list_dot_product(CAST(cq.qvec AS DOUBLE[]),
                                        CAST(cq.qvec AS DOUBLE[])))),
               6) AS cosine_q
      FROM probes p
      JOIN assign a ON a.centroid_id = p.centroid_id
      JOIN quant cq ON cq.vec_id = a.vec_id
      WHERE a.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, cosine_q, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_q DESC, neighbor_id) AS rnk
      FROM scored
    ) t WHERE rnk <= 5
    """,
)
def q_ann_quantized_ivf_topk(spark, sf_dir):
    """IVF-pruned int8 top-k (nprobe=2 of 8 cells, integer-dot scoring)
    — composing cell pruning with 4× code compression, the production
    ANN shape; oracle replays probe/assign/integer-dot exactly.
    Centroids/assignment come from the shared IVF cache (_ivf_shared)."""
    cents, assign = _ivf_shared(spark, sf_dir, c=8)
    return S.quantized_ivf_topk(
        table(spark, sf_dir, "embeddings"), cents=cents, assign=assign
    )


def _mmr_oracle(k: int = 5, top_n: int = 20, query_id: int = 0) -> str:
    """Unroll the greedy MMR selection as k chained CTEs (step i's
    argmax depends on picks 1..i-1 — inherently sequential, so the SQL
    replay is the unrolled form). DOUBLE casts force the lambda
    arithmetic through the same IEEE ops Spark uses (DuckDB would
    otherwise evaluate 1 - 0.7 in DECIMAL, a different last-ulp)."""
    lam = "CAST(0.7 AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    parts = [
        f"q AS (SELECT v AS va FROM vecs WHERE vec_id = {query_id})",
        f"""cands AS (
          SELECT vec_id, v, rel FROM (
            SELECT c.vec_id, c.v, {_COS.format(a="va", b="c.v")} AS rel
            FROM vecs c CROSS JOIN q WHERE c.vec_id != {query_id}
          ) t WHERE rel IS NOT NULL
          ORDER BY rel DESC, vec_id LIMIT {top_n})""",
        f"""s1 AS (
          SELECT vec_id, v, rel,
                 ROUND({lam}*rel - ({one}-{lam})*CAST(0.0 AS DOUBLE), 6) AS mmr
          FROM cands ORDER BY mmr DESC, vec_id LIMIT 1)""",
        "sel1 AS (SELECT vec_id, v FROM s1)",
    ]
    for i in range(2, k + 1):
        parts.append(f"""r{i} AS (
          SELECT c.vec_id, c.v, c.rel,
                 ROUND({lam}*c.rel
                       - ({one}-{lam})*MAX({_COS.format(a="c.v", b="s.v")}), 6)
                   AS mmr
          FROM cands c CROSS JOIN sel{i - 1} s
          WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
          GROUP BY c.vec_id, c.v, c.rel)""")
        parts.append(
            f"s{i} AS (SELECT * FROM r{i} ORDER BY mmr DESC, vec_id LIMIT 1)"
        )
        if i < k:
            parts.append(
                f"sel{i} AS (SELECT vec_id, v FROM sel{i - 1}"
                f" UNION ALL SELECT vec_id, v FROM s{i})"
            )
    union = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, vec_id,"
        f" rel AS relevance, mmr AS mmr_score FROM s{i}"
        for i in range(1, k + 1)
    )
    return f"WITH {_VECS_CTE},\n" + ",\n".join(parts) + "\n" + union


@register("mmr_diverse_topk", oracle=_mmr_oracle())
def q_mmr_diverse_topk(spark, sf_dir):
    """Maximal-Marginal-Relevance diverse top-5 for the query vector
    vec_id=0 over a 20-candidate relevance pool — diversity-aware
    selection (relevant but not redundant), the re-rank move both
    retrieval serving and training-example sampling need after ANN.
    Greedy and sequential by definition; the oracle replays the
    unrolled recursion exactly (all arithmetic rounded at 6 dp)."""
    return S.mmr_topk(table(spark, sf_dir, "embeddings"))


@register(
    "ann_pq_adc_topk",
    oracle="""
    WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    seeds AS (
      SELECT vec_id, v,
             CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code_id
      FROM vecs ORDER BY vec_id LIMIT 16
    ),
    books AS (
      SELECT CAST(t.s AS INT) AS sub, code_id,
             v[t.s*16+1 : t.s*16+16] AS cvec
      FROM seeds CROSS JOIN (SELECT unnest(range(4)) AS s) t
    ),
    vsubs AS (
      SELECT vec_id, CAST(t.s AS INT) AS sub,
             v[t.s*16+1 : t.s*16+16] AS vsub
      FROM vecs CROSS JOIN (SELECT unnest(range(4)) AS s) t
    ),
    dists AS MATERIALIZED (
      SELECT vec_id, sub, code_id,
             list_sum(list_transform(range(16), i ->
               (vsub[i+1] - cvec[i+1]) * (vsub[i+1] - cvec[i+1]))) AS l2
      FROM vsubs JOIN books USING (sub)
    ),
    codes AS (
      SELECT vec_id AS neighbor_id, sub, code_id FROM (
        SELECT vec_id, sub, code_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY l2, code_id) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT vec_id AS query_id, sub, code_id,
             CAST(ROUND(l2, 9) AS DECIMAL(28,9)) AS l2r
      FROM dists WHERE vec_id < 10
    ),
    adc AS (
      SELECT query_id, neighbor_id, SUM(l2r) AS adist_dec
      FROM codes JOIN lut USING (sub, code_id)
      WHERE neighbor_id != query_id
      GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(adist_dec AS DOUBLE) AS adist,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT query_id, neighbor_id, adist_dec,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adist_dec, neighbor_id) AS rnk
      FROM adc
    ) t WHERE rnk <= 5
    """,
)
def q_ann_pq_adc_topk(spark, sf_dir):
    """Product-quantization ANN (Jégou et al. ADC shape): per-subspace
    deterministic codebooks (lowest-id seeds — the centroids()
    discipline), vectors encoded as m=4 small-int codes, queries build
    an m×k exact-subspace-distance lookup table, and every approximate
    distance is m lookups + an exact DECIMAL sum — the memory-bound
    production path where the corpus shuffles codes, never vectors.
    Oracle replays seeding, encoding (tie → lower code), the LUT, and
    the decimal-exact ADC ranking bit-for-bit."""
    return S.pq_adc_topk(table(spark, sf_dir, "embeddings"))


# ── IVF×PQ + certified recall (VERDICT r10 #2/#3) ────────────────────

# Shared CTE blocks for the PQ family oracles: deterministic lowest-id
# codebooks (m=4 subspaces × k=16 codes over d=64), every vector's
# subvector scored against every codebook entry, argmin codes
# (tie → lower code id), and the 9dp-rounded DECIMAL(28,9) LUT —
# exactly the arithmetic similarity.pq_* replays.
_PQ_CTES = """
    seeds AS (
      SELECT vec_id, v,
             CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code_id
      FROM vecs ORDER BY vec_id LIMIT 16
    ),
    books AS (
      SELECT CAST(t.s AS INT) AS sub, code_id,
             v[t.s*16+1 : t.s*16+16] AS cvec
      FROM seeds CROSS JOIN (SELECT unnest(range(4)) AS s) t
    ),
    vsubs AS (
      SELECT vec_id, CAST(t.s AS INT) AS sub,
             v[t.s*16+1 : t.s*16+16] AS vsub
      FROM vecs CROSS JOIN (SELECT unnest(range(4)) AS s) t
    ),
    dists AS MATERIALIZED (
      SELECT vec_id, sub, code_id,
             list_sum(list_transform(range(16), i ->
               (vsub[i+1] - cvec[i+1]) * (vsub[i+1] - cvec[i+1]))) AS l2
      FROM vsubs JOIN books USING (sub)
    ),
    codes AS (
      SELECT vec_id AS neighbor_id, sub, code_id FROM (
        SELECT vec_id, sub, code_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY l2, code_id) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT vec_id AS query_id, sub, code_id,
             CAST(ROUND(l2, 9) AS DECIMAL(28,9)) AS l2r
      FROM dists WHERE vec_id < 10
    )"""

# Size of the fixed training prefix for the frozen-param IVF×PQ build
# (ivf_pq_store_frozen and the recall panel's ivf_pq_frozen method).
_FROZEN_TRAIN_N = 256

# IVF probe/assign blocks (c=8 lowest-id centroids, nprobe=2) — the
# exact replay the ann_ivf_topk oracle uses, shared here.
_IVF_CTES = f"""
    cents AS (
      SELECT vec_id AS centroid_id, v AS cvec FROM vecs ORDER BY vec_id LIMIT 8
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT q.query_id, q.qv, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_COS.format(a="q.qv", b="c.cvec")} DESC,
                                           c.centroid_id) AS rn
        FROM q CROSS JOIN cents c
      ) t WHERE rn <= 2
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_COS.format(a="v.v", b="c.cvec")} DESC,
                                           c.centroid_id) AS rn
        FROM vecs v CROSS JOIN cents c
      ) t WHERE rn = 1
    )"""

# The IVF×PQ ADC body: codes restricted to each query's probed cells,
# LUT lookups summed in exact DECIMAL.
_IVF_PQ_ADC_CTES = """
    qlut AS (
      SELECT p.query_id, p.centroid_id, l.sub, l.code_id, l.l2r
      FROM probes p JOIN lut l USING (query_id)
    ),
    celled AS (
      SELECT c.neighbor_id, a.centroid_id, c.sub, c.code_id
      FROM codes c JOIN assign a ON a.vec_id = c.neighbor_id
    ),
    ivfadc AS (
      SELECT query_id, neighbor_id, SUM(l2r) AS adist_dec
      FROM celled JOIN qlut USING (centroid_id, sub, code_id)
      WHERE neighbor_id != query_id
      GROUP BY query_id, neighbor_id
    )"""


def _pq_frozen_chain_ctes(
    p: str,
    m: int,
    k: int,
    probes: str,
    assign: str,
    tvecs: str,
    d: int = 64,
) -> str:
    """The frozen-param PQ chain as prefixed CTEs, GENERATED for an
    arbitrary (m, k) geometry instead of hand-written per geometry —
    byte-for-byte the arithmetic of the hand-written m=4/k=16 fz chain
    with the constants substituted. Replays pq_codebooks_kmeans on the
    train prefix (seed books from the k lowest-id train vectors, one
    Lloyd step with 6dp means), full-corpus encode, the 9dp DECIMAL
    LUT, and the probed-cell ADC sum. ``probes``/``assign``/``tvecs``
    name the caller's coarse-quantizer CTEs; everything this emits is
    ``{p}``-prefixed, so several geometries compose in one oracle."""
    dsub = d // m
    return f"""
    {p}tseeds AS (
      SELECT vec_id, v,
             CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code_id
      FROM {tvecs} ORDER BY vec_id LIMIT {k}
    ),
    {p}books0 AS (
      SELECT CAST(t.s AS INT) AS sub, code_id,
             v[t.s*{dsub}+1 : t.s*{dsub}+{dsub}] AS cvec
      FROM {p}tseeds CROSS JOIN (SELECT unnest(range({m})) AS s) t
    ),
    {p}vsubs AS MATERIALIZED (
      SELECT vec_id, CAST(t.s AS INT) AS sub,
             v[t.s*{dsub}+1 : t.s*{dsub}+{dsub}] AS vsub
      FROM vecs CROSS JOIN (SELECT unnest(range({m})) AS s) t
    ),
    {p}tsubs AS MATERIALIZED (
      SELECT * FROM {p}vsubs WHERE vec_id < {_FROZEN_TRAIN_N}
    ),
    {p}dists0 AS MATERIALIZED (
      SELECT vec_id, sub, code_id,
             list_sum(list_transform(range({dsub}), i ->
               (vsub[i+1] - cvec[i+1]) * (vsub[i+1] - cvec[i+1]))) AS l2
      FROM {p}tsubs JOIN {p}books0 USING (sub)
    ),
    {p}codes0 AS (
      SELECT vec_id, sub, code_id FROM (
        SELECT vec_id, sub, code_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY l2, code_id) AS rn
        FROM {p}dists0
      ) WHERE rn = 1
    ),
    {p}kdim AS (
      SELECT c.sub, c.code_id, vs.vsub, CAST(t.dim AS INT) AS dim
      FROM {p}codes0 c
      JOIN {p}tsubs vs ON vs.vec_id = c.vec_id AND vs.sub = c.sub
      CROSS JOIN (SELECT unnest(range({dsub})) AS dim) t
    ),
    {p}kmeans AS (
      SELECT sub, code_id, dim, ROUND(AVG(vsub[dim + 1]), 6) AS value
      FROM {p}kdim GROUP BY sub, code_id, dim
    ),
    {p}books AS MATERIALIZED (
      SELECT sub, code_id, list(value ORDER BY dim) AS cvec
      FROM {p}kmeans GROUP BY sub, code_id
    ),
    {p}dists AS MATERIALIZED (
      SELECT vec_id, sub, code_id,
             list_sum(list_transform(range({dsub}), i ->
               (vsub[i+1] - cvec[i+1]) * (vsub[i+1] - cvec[i+1]))) AS l2
      FROM {p}vsubs JOIN {p}books USING (sub)
    ),
    {p}codes AS (
      SELECT vec_id AS neighbor_id, sub, code_id FROM (
        SELECT vec_id, sub, code_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY l2, code_id) AS rn
        FROM {p}dists
      ) WHERE rn = 1
    ),
    {p}lut AS (
      SELECT vec_id AS query_id, sub, code_id,
             CAST(ROUND(l2, 9) AS DECIMAL(28,9)) AS l2r
      FROM {p}dists WHERE vec_id < 10
    ),
    {p}qlut AS (
      SELECT p.query_id, p.centroid_id, l.sub, l.code_id, l.l2r
      FROM {probes} p JOIN {p}lut l USING (query_id)
    ),
    {p}celled AS (
      SELECT c.neighbor_id, a.centroid_id, c.sub, c.code_id
      FROM {p}codes c JOIN {assign} a ON a.vec_id = c.neighbor_id
    ),
    {p}ivfadc AS (
      SELECT query_id, neighbor_id, SUM(l2r) AS adist_dec
      FROM {p}celled JOIN {p}qlut USING (centroid_id, sub, code_id)
      WHERE neighbor_id != query_id
      GROUP BY query_id, neighbor_id
    ),
    {p}top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist_dec, neighbor_id) AS rnk
        FROM {p}ivfadc
      ) t WHERE rnk <= 5
    )"""


# The PRODUCTION-geometry frozen build (VERDICT r13 #3): m=16
# subspaces x k=64 codes over d=64 — the point SCALE.md's r13 geometry
# curve measured at recall@5 0.44 vs the m=4/k=16 worst-case build's
# 0.12, at 4x the code budget (16 B/vector, still 32x smaller than the
# raw 512 B vector). Same frozen coarse quantizer (fzcents/fzassign).
_G16_CTES = _pq_frozen_chain_ctes(
    "g16", 16, 64, probes="fzprobes", assign="fzassign", tvecs="fztvecs"
)


# Shared by ann_ivf_pq_topk and its partitioned-code-store twin (the
# store roundtrip is results-identical by construction, so the replay
# is the same SQL).
_IVF_PQ_TOPK_ORACLE = f"""
    WITH {_VECS_CTE},
    {_IVF_CTES},
    {_PQ_CTES},
    {_IVF_PQ_ADC_CTES}
    SELECT query_id, neighbor_id, CAST(adist_dec AS DOUBLE) AS adist,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT query_id, neighbor_id, adist_dec,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adist_dec, neighbor_id) AS rnk
      FROM ivfadc
    ) t WHERE rnk <= 5
    """


@register("ann_ivf_pq_topk", oracle=_IVF_PQ_TOPK_ORACLE)
def q_ann_ivf_pq_topk(spark, sf_dir):
    """IVF×PQ (IVFADC, Jégou et al. TPAMI 2011 §V): coarse IVF prunes
    each query to nprobe=2 of 8 cells; ONLY those cells' PQ codes are
    ADC-scanned — the production ANN memory/latency point, vs flat ADC
    which touches every code. Centroids/assignment come from the
    shared IVF cache; the oracle replays probe, assign, codebook
    seeding, encoding, and the decimal-exact ADC ranking bit-for-bit."""
    cents, assign = _ivf_shared(spark, sf_dir, c=8)
    return S.ivf_pq_topk(
        table(spark, sf_dir, "embeddings"), cents=cents, assign=assign
    )


# Residual-form IVFADC CTE chain (resid ... radc), shared verbatim by
# ann_ivfadc_residual_topk and the ann_recall_at_k certification panel.
_RESID_CTES = """
        resid AS MATERIALIZED (
      SELECT a.vec_id, a.centroid_id,
             list_transform(range(64), i -> v.v[i+1] - c.cvec[i+1]) AS rv
      FROM assign a
      JOIN vecs v ON v.vec_id = a.vec_id
      JOIN cents c ON c.centroid_id = a.centroid_id
    ),
    rseeds AS (
      SELECT vec_id, rv,
             CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code_id
      FROM resid ORDER BY vec_id LIMIT 16
    ),
    rbooks AS (
      SELECT CAST(t.s AS INT) AS sub, code_id,
             rv[t.s*16+1 : t.s*16+16] AS cvec
      FROM rseeds CROSS JOIN (SELECT unnest(range(4)) AS s) t
    ),
    rvsubs AS MATERIALIZED (
      SELECT vec_id, CAST(t.s AS INT) AS sub,
             rv[t.s*16+1 : t.s*16+16] AS vsub
      FROM resid CROSS JOIN (SELECT unnest(range(4)) AS s) t
    ),
    rdists AS MATERIALIZED (
      SELECT vec_id, sub, code_id,
             list_sum(list_transform(range(16), i ->
               (vsub[i+1] - cvec[i+1]) * (vsub[i+1] - cvec[i+1]))) AS l2
      FROM rvsubs JOIN rbooks USING (sub)
    ),
    rcodes AS (
      SELECT vec_id AS neighbor_id, sub, code_id FROM (
        SELECT vec_id, sub, code_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY l2, code_id) AS rn
        FROM rdists
      ) WHERE rn = 1
    ),
    qres AS (
      SELECT p.query_id, p.centroid_id,
             list_transform(range(64), i -> p.qv[i+1] - c.cvec[i+1]) AS qr
      FROM probes p JOIN cents c USING (centroid_id)
    ),
    qsubs AS (
      SELECT query_id, centroid_id, CAST(t.s AS INT) AS sub,
             qr[t.s*16+1 : t.s*16+16] AS vsub
      FROM qres CROSS JOIN (SELECT unnest(range(4)) AS s) t
    ),
    rqlut AS (
      SELECT q.query_id, q.centroid_id, q.sub, b.code_id,
             CAST(ROUND(list_sum(list_transform(range(16), i ->
               (q.vsub[i+1] - b.cvec[i+1]) * (q.vsub[i+1] - b.cvec[i+1]))),
               9) AS DECIMAL(28,9)) AS l2r
      FROM qsubs q JOIN rbooks b USING (sub)
    ),
    rcelled AS (
      SELECT rc.neighbor_id, a.centroid_id, rc.sub, rc.code_id
      FROM rcodes rc JOIN assign a ON a.vec_id = rc.neighbor_id
    ),
    radc AS (
      SELECT query_id, neighbor_id, SUM(l2r) AS adist_dec
      FROM rcelled JOIN rqlut USING (centroid_id, sub, code_id)
      WHERE neighbor_id != query_id
      GROUP BY query_id, neighbor_id
    )
"""


@register(
    "ann_recall_at_k",
    oracle=f"""
    WITH {_VECS_CTE},
    {_IVF_CTES},
    {_PQ_CTES},
    {_IVF_PQ_ADC_CTES},
    {_RESID_CTES},
    residtop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist_dec, neighbor_id) AS rnk
        FROM radc
      ) t WHERE rnk <= 5
    ),
    truth AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {_COS.format(a="qv", b="c.v")} DESC,
                                           c.vec_id) AS rnk
        FROM q CROSS JOIN vecs c
        WHERE c.vec_id != query_id
      ) t WHERE rnk <= 5
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                                  ORDER BY {_COS.format(a="p.qv", b="av.v")} DESC,
                                           a.vec_id) AS rnk
        FROM probes p
        JOIN assign a ON a.centroid_id = p.centroid_id
        JOIN vecs av ON av.vec_id = a.vec_id
        WHERE a.vec_id != p.query_id
      ) t WHERE rnk <= 5
    ),
    quant AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(round(
               x / greatest(list_aggregate(list_transform(v, y -> abs(y)),
                                           'max'), 1e-30) * 127,
               0) AS INTEGER)) AS qvec
      FROM vecs
    ),
    qtop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY qq.vec_id ORDER BY
                 ROUND(
                   CAST(list_dot_product(CAST(qq.qvec AS DOUBLE[]),
                                         CAST(c.qvec AS DOUBLE[])) AS DOUBLE)
                   / (sqrt(list_dot_product(CAST(qq.qvec AS DOUBLE[]),
                                            CAST(qq.qvec AS DOUBLE[]))) *
                      sqrt(list_dot_product(CAST(c.qvec AS DOUBLE[]),
                                            CAST(c.qvec AS DOUBLE[])))),
                   6) DESC, c.vec_id) AS rnk
        FROM quant qq CROSS JOIN quant c
        WHERE qq.vec_id < 10 AND c.vec_id != qq.vec_id
      ) t WHERE rnk <= 5
    ),
    flatadc AS (
      SELECT query_id, neighbor_id, SUM(l2r) AS adist_dec
      FROM codes JOIN lut USING (sub, code_id)
      WHERE neighbor_id != query_id
      GROUP BY query_id, neighbor_id
    ),
    pqtop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist_dec, neighbor_id) AS rnk
        FROM flatadc
      ) t WHERE rnk <= 5
    ),
    ivfpqtop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist_dec, neighbor_id) AS rnk
        FROM ivfadc
      ) t WHERE rnk <= 5
    ),
    kdim AS (
      SELECT c.sub, c.code_id, vs.vsub, CAST(t.dim AS INT) AS dim
      FROM codes c
      JOIN vsubs vs ON vs.vec_id = c.neighbor_id AND vs.sub = c.sub
      CROSS JOIN (SELECT unnest(range(16)) AS dim) t
    ),
    kmeans AS (
      SELECT sub, code_id, dim, ROUND(AVG(vsub[dim + 1]), 6) AS value
      FROM kdim GROUP BY sub, code_id, dim
    ),
    kbooks AS MATERIALIZED (
      SELECT sub, code_id, list(value ORDER BY dim) AS cvec
      FROM kmeans GROUP BY sub, code_id
    ),
    kdists AS MATERIALIZED (
      SELECT vec_id, sub, code_id,
             list_sum(list_transform(range(16), i ->
               (vsub[i+1] - cvec[i+1]) * (vsub[i+1] - cvec[i+1]))) AS l2
      FROM vsubs JOIN kbooks USING (sub)
    ),
    kcodes AS (
      SELECT vec_id AS neighbor_id, sub, code_id FROM (
        SELECT vec_id, sub, code_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY l2, code_id) AS rn
        FROM kdists
      ) WHERE rn = 1
    ),
    klut AS (
      SELECT vec_id AS query_id, sub, code_id,
             CAST(ROUND(l2, 9) AS DECIMAL(28,9)) AS l2r
      FROM kdists WHERE vec_id < 10
    ),
    kqlut AS (
      SELECT p.query_id, p.centroid_id, l.sub, l.code_id, l.l2r
      FROM probes p JOIN klut l USING (query_id)
    ),
    kcelled AS (
      SELECT c.neighbor_id, a.centroid_id, c.sub, c.code_id
      FROM kcodes c JOIN assign a ON a.vec_id = c.neighbor_id
    ),
    kivfadc AS (
      SELECT query_id, neighbor_id, SUM(l2r) AS adist_dec
      FROM kcelled JOIN kqlut USING (centroid_id, sub, code_id)
      WHERE neighbor_id != query_id
      GROUP BY query_id, neighbor_id
    ),
    kivfpqtop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist_dec, neighbor_id) AS rnk
        FROM kivfadc
      ) t WHERE rnk <= 5
    ),
    fztvecs AS MATERIALIZED (
      SELECT * FROM vecs WHERE vec_id < {_FROZEN_TRAIN_N}
    ),
    fzseeds AS (
      SELECT vec_id AS centroid_id, v AS cvec FROM fztvecs ORDER BY vec_id LIMIT 8
    ),
    fzka AS (
      SELECT vec_id, centroid_id, v FROM (
        SELECT t.vec_id, s.centroid_id, t.v,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                  ORDER BY {_COS.format(a="t.v", b="s.cvec")} DESC,
                                           s.centroid_id) AS rn
        FROM fztvecs t CROSS JOIN fzseeds s
      ) x WHERE rn = 1
    ),
    fzcdim AS (
      SELECT centroid_id, v, unnest(range(len(v))) AS dim FROM fzka
    ),
    fzcm AS (
      SELECT centroid_id, dim, ROUND(AVG(v[dim + 1]), 6) AS value
      FROM fzcdim GROUP BY centroid_id, dim
    ),
    fzcents AS MATERIALIZED (
      SELECT centroid_id, list(value ORDER BY dim) AS cvec
      FROM fzcm GROUP BY centroid_id
    ),
    fzprobes AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT q.query_id, q.qv, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_COS.format(a="q.qv", b="c.cvec")} DESC,
                                           c.centroid_id) AS rn
        FROM q CROSS JOIN fzcents c
      ) t WHERE rn <= 2
    ),
    fzassign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_COS.format(a="v.v", b="c.cvec")} DESC,
                                           c.centroid_id) AS rn
        FROM vecs v CROSS JOIN fzcents c
      ) t WHERE rn = 1
    ),
    fztseeds AS (
      SELECT vec_id, v,
             CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code_id
      FROM fztvecs ORDER BY vec_id LIMIT 16
    ),
    fzbooks0 AS (
      SELECT CAST(t.s AS INT) AS sub, code_id,
             v[t.s*16+1 : t.s*16+16] AS cvec
      FROM fztseeds CROSS JOIN (SELECT unnest(range(4)) AS s) t
    ),
    fztsubs AS MATERIALIZED (
      SELECT * FROM vsubs WHERE vec_id < {_FROZEN_TRAIN_N}
    ),
    fzdists0 AS MATERIALIZED (
      SELECT vec_id, sub, code_id,
             list_sum(list_transform(range(16), i ->
               (vsub[i+1] - cvec[i+1]) * (vsub[i+1] - cvec[i+1]))) AS l2
      FROM fztsubs JOIN fzbooks0 USING (sub)
    ),
    fzcodes0 AS (
      SELECT vec_id, sub, code_id FROM (
        SELECT vec_id, sub, code_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY l2, code_id) AS rn
        FROM fzdists0
      ) WHERE rn = 1
    ),
    fzkdim AS (
      SELECT c.sub, c.code_id, vs.vsub, CAST(t.dim AS INT) AS dim
      FROM fzcodes0 c
      JOIN fztsubs vs ON vs.vec_id = c.vec_id AND vs.sub = c.sub
      CROSS JOIN (SELECT unnest(range(16)) AS dim) t
    ),
    fzkmeans AS (
      SELECT sub, code_id, dim, ROUND(AVG(vsub[dim + 1]), 6) AS value
      FROM fzkdim GROUP BY sub, code_id, dim
    ),
    fzbooks AS MATERIALIZED (
      SELECT sub, code_id, list(value ORDER BY dim) AS cvec
      FROM fzkmeans GROUP BY sub, code_id
    ),
    fzdists AS MATERIALIZED (
      SELECT vec_id, sub, code_id,
             list_sum(list_transform(range(16), i ->
               (vsub[i+1] - cvec[i+1]) * (vsub[i+1] - cvec[i+1]))) AS l2
      FROM vsubs JOIN fzbooks USING (sub)
    ),
    fzcodes AS (
      SELECT vec_id AS neighbor_id, sub, code_id FROM (
        SELECT vec_id, sub, code_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY l2, code_id) AS rn
        FROM fzdists
      ) WHERE rn = 1
    ),
    fzlut AS (
      SELECT vec_id AS query_id, sub, code_id,
             CAST(ROUND(l2, 9) AS DECIMAL(28,9)) AS l2r
      FROM fzdists WHERE vec_id < 10
    ),
    fzqlut AS (
      SELECT p.query_id, p.centroid_id, l.sub, l.code_id, l.l2r
      FROM fzprobes p JOIN fzlut l USING (query_id)
    ),
    fzcelled AS (
      SELECT c.neighbor_id, a.centroid_id, c.sub, c.code_id
      FROM fzcodes c JOIN fzassign a ON a.vec_id = c.neighbor_id
    ),
    fzivfadc AS (
      SELECT query_id, neighbor_id, SUM(l2r) AS adist_dec
      FROM fzcelled JOIN fzqlut USING (centroid_id, sub, code_id)
      WHERE neighbor_id != query_id
      GROUP BY query_id, neighbor_id
    ),
    fztop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist_dec, neighbor_id) AS rnk
        FROM fzivfadc
      ) t WHERE rnk <= 5
    ),
    {_G16_CTES},
    appr AS (
      SELECT 'ivf' AS method, query_id, neighbor_id FROM ivf
      UNION ALL SELECT 'ivf_pq', query_id, neighbor_id FROM ivfpqtop
      UNION ALL SELECT 'ivf_pq_kmeans', query_id, neighbor_id FROM kivfpqtop
      UNION ALL SELECT 'ivf_pq_frozen', query_id, neighbor_id FROM fztop
      UNION ALL SELECT 'ivf_pq_frozen_m16', query_id, neighbor_id FROM g16top
      UNION ALL SELECT 'pq_adc', query_id, neighbor_id FROM pqtop
      UNION ALL SELECT 'quantized', query_id, neighbor_id FROM qtop
      UNION ALL SELECT 'ivfadc_residual', query_id, neighbor_id FROM residtop
    ),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS truth_total FROM truth)
    SELECT a.method,
           CAST(COUNT(*) AS BIGINT) AS retrieved,
           CAST(SUM(CASE WHEN t.query_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS hits,
           tt.truth_total,
           CAST(SUM(CASE WHEN t.query_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / tt.truth_total AS recall_at_k
    FROM appr a
    LEFT JOIN truth t
      ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
    CROSS JOIN tt
    GROUP BY a.method, tt.truth_total
    """,
)
def q_ann_recall_at_k(spark, sf_dir):
    """Certified recall@5 of every approximate ANN path — including
    the kmeans-TRAINED-codebook IVF×PQ (so the training lift is a
    driver-certified number), the residual-form IVFADC (so the
    residual trick's lift is too), and the FROZEN-param builds at both
    geometries — the m=4/k=16 worst-case point and the m=16/k=64
    production point (so a frozen index with degraded recall cannot
    pass the exactness gates unmeasured, and the geometry the docs
    recommend carries a certified number; VERDICT r12 #2 / r13 #3) —
    against the brute-force ground truth
    over the 10 fixture queries — turns the
    family's docstring recall bounds into a measured, driver-certified,
    regression-guarded number (VERDICT r10 #3). Deterministic by
    construction: fixed query set (vec_id < 10), every method's ranking
    rounds/decimals exactly as its own certified query does, id
    tie-breaks, and recall is ONE exact-int division (hits/truth_total
    — single IEEE rounding, bit-identical cross-engine).

    Scale: truth is a 10-query brute scan (materialized — it anchors 4
    joins + the total); each method reuses its production plan; the
    union carries (method, query, neighbor) triples — n_q·k rows per
    method — and the hit join broadcasts the 50-row truth table."""
    from functools import reduce

    from pyspark.sql import functions as F

    from yamr_spark.materialize import materialize

    emb = table(spark, sf_dir, "embeddings")
    cents, assign = _ivf_shared(spark, sf_dir, c=8)
    truth = materialize(S.brute_force_topk(emb).select("query_id", "neighbor_id"))
    # the production FROZEN build's params (VERDICT r12 #2): centroids +
    # codebooks trained on the fixed 256-vector prefix, full corpus
    # assigned under them — exactly ivf_pq_store_frozen's ranking, so
    # the frozen index's RECALL is a certified panel row, not just its
    # exactness
    fzcents, fzassign = _frozen_shared(spark, sf_dir)
    fzbooks = _frozen_books_shared(spark, sf_dir)
    # the PRODUCTION geometry (m=16/k=64, VERDICT r13 #3): same frozen
    # training prefix and coarse quantizer, 4x the code budget — the
    # certified row for the build the docs call production
    fzbooks16 = _frozen_books_shared(spark, sf_dir, m=16, k=64)
    methods = [
        ("ivf", S.ivf_topk(emb, cents=cents, assign=assign)),
        ("ivf_pq", S.ivf_pq_topk(emb, cents=cents, assign=assign)),
        (
            "ivf_pq_kmeans",
            S.ivf_pq_topk(
                emb, cents=cents, assign=assign,
                books=S.pq_codebooks_kmeans(emb),
            ),
        ),
        (
            "ivf_pq_frozen",
            S.ivf_pq_topk(
                emb, cents=fzcents, assign=fzassign, books=fzbooks
            ),
        ),
        (
            "ivf_pq_frozen_m16",
            S.ivf_pq_topk(
                emb, cents=fzcents, assign=fzassign, books=fzbooks16,
                m=16, k=64,
            ),
        ),
        ("pq_adc", S.pq_adc_topk(emb)),
        ("quantized", S.quantized_topk(emb)),
        (
            "ivfadc_residual",
            S.ivf_pq_residual_topk(emb, cents=cents, assign=assign),
        ),
    ]
    appr = reduce(
        lambda a, b: a.unionByName(b),
        [
            df.select(
                F.lit(name).alias("method"), "query_id", "neighbor_id"
            )
            for name, df in methods
        ],
    )
    tt = truth.agg(F.count(F.lit(1)).cast("long").alias("truth_total"))
    hits = F.broadcast(truth.withColumn("hit", F.lit(1)))
    return (
        appr.join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("method")
        .agg(
            F.count(F.lit(1)).cast("long").alias("retrieved"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("hits"),
        )
        .crossJoin(F.broadcast(tt))
        .withColumn(
            "recall_at_k",
            F.col("hits").cast("double") / F.col("truth_total"),
        )
        .select("method", "retrieved", "hits", "truth_total", "recall_at_k")
    )


# PQ chain with ONE Lloyd refinement of the codebooks (train step):
# seed books → assign (argmin, tie → lower code) → per-(sub, code, dim)
# mean rounded to 6 dp (the kmeans_refine discipline) → re-encode with
# the refined books. Defines the same final names (books/dists/codes/
# lut) as _PQ_CTES so _IVF_PQ_ADC_CTES composes unchanged.
_PQ_KMEANS_CTES = """
    seeds AS (
      SELECT vec_id, v,
             CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code_id
      FROM vecs ORDER BY vec_id LIMIT 16
    ),
    books0 AS (
      SELECT CAST(t.s AS INT) AS sub, code_id,
             v[t.s*16+1 : t.s*16+16] AS cvec
      FROM seeds CROSS JOIN (SELECT unnest(range(4)) AS s) t
    ),
    vsubs AS MATERIALIZED (
      SELECT vec_id, CAST(t.s AS INT) AS sub,
             v[t.s*16+1 : t.s*16+16] AS vsub
      FROM vecs CROSS JOIN (SELECT unnest(range(4)) AS s) t
    ),
    dists0 AS MATERIALIZED (
      SELECT vec_id, sub, code_id,
             list_sum(list_transform(range(16), i ->
               (vsub[i+1] - cvec[i+1]) * (vsub[i+1] - cvec[i+1]))) AS l2
      FROM vsubs JOIN books0 USING (sub)
    ),
    codes0 AS (
      SELECT vec_id, sub, code_id FROM (
        SELECT vec_id, sub, code_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY l2, code_id) AS rn
        FROM dists0
      ) WHERE rn = 1
    ),
    kdim AS (
      SELECT c.sub, c.code_id, vs.vsub, CAST(t.dim AS INT) AS dim
      FROM codes0 c
      JOIN vsubs vs ON vs.vec_id = c.vec_id AND vs.sub = c.sub
      CROSS JOIN (SELECT unnest(range(16)) AS dim) t
    ),
    kmeans AS (
      SELECT sub, code_id, dim, ROUND(AVG(vsub[dim + 1]), 6) AS value
      FROM kdim GROUP BY sub, code_id, dim
    ),
    books AS MATERIALIZED (
      SELECT sub, code_id, list(value ORDER BY dim) AS cvec
      FROM kmeans GROUP BY sub, code_id
    ),
    dists AS MATERIALIZED (
      SELECT vec_id, sub, code_id,
             list_sum(list_transform(range(16), i ->
               (vsub[i+1] - cvec[i+1]) * (vsub[i+1] - cvec[i+1]))) AS l2
      FROM vsubs JOIN books USING (sub)
    ),
    codes AS (
      SELECT vec_id AS neighbor_id, sub, code_id FROM (
        SELECT vec_id, sub, code_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY l2, code_id) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT vec_id AS query_id, sub, code_id,
             CAST(ROUND(l2, 9) AS DECIMAL(28,9)) AS l2r
      FROM dists WHERE vec_id < 10
    )"""


@register(
    "ann_ivf_pq_kmeans_topk",
    oracle=f"""
    WITH {_VECS_CTE},
    {_IVF_CTES},
    {_PQ_KMEANS_CTES},
    {_IVF_PQ_ADC_CTES}
    SELECT query_id, neighbor_id, CAST(adist_dec AS DOUBLE) AS adist,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT query_id, neighbor_id, adist_dec,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adist_dec, neighbor_id) AS rnk
      FROM ivfadc
    ) t WHERE rnk <= 5
    """,
)
def q_ann_ivf_pq_kmeans_topk(spark, sf_dir):
    """IVF×PQ with TRAINED codebooks (train→search, Jégou et al. §II):
    one per-subspace Lloyd refinement of the seed codebooks before
    encoding — the step that turns PQ from a plumbing demo into a
    usable recall point (untrained seeds: recall@5 0.10-0.34 on the
    fixtures; refined: see SCALE.md r11 recall table). Coarse IVF
    cells/assignment come from the shared cache; the oracle rebuilds
    the 6dp-rounded refined codebooks and replays encode + decimal ADC
    bit-for-bit."""
    cents, assign = _ivf_shared(spark, sf_dir, c=8)
    emb = table(spark, sf_dir, "embeddings")
    books = S.pq_codebooks_kmeans(emb)
    return S.ivf_pq_topk(emb, cents=cents, assign=assign, books=books)


@register("ivf_pq_store_probe", oracle=_IVF_PQ_TOPK_ORACLE)
def q_ivf_pq_store_probe(spark, sf_dir):
    """The full IVFADC SERVING layout end-to-end: PQ codes written
    partitioned by centroid_id (m=4 small ints per vector — 64× smaller
    than the raw-vector IVF store), then top-k answered by directory-
    pruned ADC over ONLY the probed cells' code files; the original
    vectors are never read on the serving path (query-side LUT comes
    from the 10 query vectors alone). Must produce exactly
    ann_ivf_pq_topk's answer — same oracle."""
    emb = table(spark, sf_dir, "embeddings")
    cents, assign = _ivf_shared(spark, sf_dir, c=8)
    store = session_store(
        f"ivfpq:{sf_dir}",
        lambda p: S.write_ivf_pq_store(emb, p, c=8, assign=assign),
    )
    return S.ivf_pq_store_topk(
        spark, store, emb, topk=5, n_queries=10, c=8, nprobe=2, cents=cents
    )


@register(
    "ann_ivfadc_residual_topk",
    oracle=f"""
    WITH {_VECS_CTE},
    {_IVF_CTES},
    {_RESID_CTES}
    SELECT query_id, neighbor_id, CAST(adist_dec AS DOUBLE) AS adist,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT query_id, neighbor_id, adist_dec,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adist_dec, neighbor_id) AS rnk
      FROM radc
    ) t WHERE rnk <= 5
    """,
)
def q_ann_ivfadc_residual_topk(spark, sf_dir):
    """Textbook residual-form IVFADC (Jégou et al. §V): PQ encodes
    v − c(v) so the code budget describes within-cell displacement; the
    query LUT is built per probed cell from q − cvec(cell). Completes
    the PQ family's paper parity next to the raw-vector composition
    (ann_ivf_pq_topk isolates cell pruning; this adds the residual
    trick). Oracle replays residuals, seeding, encode and the decimal
    ADC ranking bit-for-bit; cents/assignment from the shared cache."""
    cents, assign = _ivf_shared(spark, sf_dir, c=8)
    return S.ivf_pq_residual_topk(
        table(spark, sf_dir, "embeddings"), cents=cents, assign=assign
    )


@register("ivf_pq_store_incremental", oracle=_IVF_PQ_TOPK_ORACLE)
def q_ivf_pq_store_incremental(spark, sf_dir):
    """Living-index certification: build the IVF×PQ code store from the
    FIRST HALF of the corpus (the index's trained params — lowest-id
    centroids and codebook seeds — all live in that half, so they equal
    the full-corpus params by the deterministic-seed discipline),
    APPEND the second half with the frozen params, then probe. Must
    equal ann_ivf_pq_topk on the full corpus exactly — same oracle:
    per-vector assignment/encoding depend only on (vector, params), so
    incremental vs batch construction is value-invisible."""
    from pyspark.sql import functions as F

    emb = table(spark, sf_dir, "embeddings")
    cents, assign = _ivf_shared(spark, sf_dir, c=8)
    books = S.pq_codebooks(emb)

    def build(store):
        # two jobs (build + append): only session_store's marker,
        # written after both, says the whole store committed
        cut = 260  # both halves non-trivial at every fixture sf
        S.write_ivf_pq_store(
            emb.where(F.col("vec_id") < cut), store, c=8,
            assign=assign, books=books,
        )
        second = emb.where(F.col("vec_id") >= cut)
        if second.limit(1).count():
            S.ivf_pq_store_append(
                second, store, books=books, cents=cents, assign=assign
            )

    store = session_store(f"ivfpq_inc:{sf_dir}", build)
    return S.ivf_pq_store_topk(
        spark, store, emb, topk=5, n_queries=10, c=8, nprobe=2,
        cents=cents, books=books,
    )


# Frozen-parameter IVF×PQ store (VERDICT r11 #6): every trained
# parameter — coarse centroids AND PQ codebooks — comes from a FIXED
# 256-vector prefix sample (vec_id < 256), then the full corpus is
# assigned/encoded under those frozen params. This is how a 100 TB
# deployment actually runs: training cost is O(sample), the corpus-side
# build is one broadcast assignment + encode pass — LINEAR in n, with
# no n^1.5 term (the adaptive c=sqrt(n) harness variant trains on the
# whole corpus per run; see SCALE.md "frozen-c" curve).
# (_FROZEN_TRAIN_N itself is defined above _IVF_CTES — the recall
# panel's oracle f-string interpolates it too.)
# The frozen COARSE quantizer block (geometry-independent): c=8
# centroids Lloyd-refined on the train prefix, query probes (nprobe=2)
# and full-corpus assignment under them. Shared by the m=4/k=16 store
# oracle below and the production m=16/k=64 variant.
_FROZEN_COARSE_CTES = f"""
    tvecs AS MATERIALIZED (SELECT * FROM vecs WHERE vec_id < {_FROZEN_TRAIN_N}),
    fseeds AS (
      SELECT vec_id AS centroid_id, v AS cvec FROM tvecs ORDER BY vec_id LIMIT 8
    ),
    fka AS (
      SELECT vec_id, centroid_id, v FROM (
        SELECT t.vec_id, s.centroid_id, t.v,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                  ORDER BY {_COS.format(a="t.v", b="s.cvec")} DESC,
                                           s.centroid_id) AS rn
        FROM tvecs t CROSS JOIN fseeds s
      ) x WHERE rn = 1
    ),
    fkdim AS (
      SELECT centroid_id, v, unnest(range(len(v))) AS dim FROM fka
    ),
    fkm AS (
      SELECT centroid_id, dim, ROUND(AVG(v[dim + 1]), 6) AS value
      FROM fkdim GROUP BY centroid_id, dim
    ),
    cents AS MATERIALIZED (
      SELECT centroid_id, list(value ORDER BY dim) AS cvec
      FROM fkm GROUP BY centroid_id
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT q.query_id, q.qv, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_COS.format(a="q.qv", b="c.cvec")} DESC,
                                           c.centroid_id) AS rn
        FROM q CROSS JOIN cents c
      ) t WHERE rn <= 2
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_COS.format(a="v.v", b="c.cvec")} DESC,
                                           c.centroid_id) AS rn
        FROM vecs v CROSS JOIN cents c
      ) t WHERE rn = 1
    )"""


_IVF_PQ_FROZEN_ORACLE = f"""
    WITH {_VECS_CTE},
    {_FROZEN_COARSE_CTES},
    tseeds AS (
      SELECT vec_id, v,
             CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code_id
      FROM tvecs ORDER BY vec_id LIMIT 16
    ),
    books0 AS (
      SELECT CAST(t.s AS INT) AS sub, code_id,
             v[t.s*16+1 : t.s*16+16] AS cvec
      FROM tseeds CROSS JOIN (SELECT unnest(range(4)) AS s) t
    ),
    vsubs AS MATERIALIZED (
      SELECT vec_id, CAST(t.s AS INT) AS sub,
             v[t.s*16+1 : t.s*16+16] AS vsub
      FROM vecs CROSS JOIN (SELECT unnest(range(4)) AS s) t
    ),
    tsubs AS MATERIALIZED (
      SELECT * FROM vsubs WHERE vec_id < {_FROZEN_TRAIN_N}
    ),
    dists0 AS MATERIALIZED (
      SELECT vec_id, sub, code_id,
             list_sum(list_transform(range(16), i ->
               (vsub[i+1] - cvec[i+1]) * (vsub[i+1] - cvec[i+1]))) AS l2
      FROM tsubs JOIN books0 USING (sub)
    ),
    codes0 AS (
      SELECT vec_id, sub, code_id FROM (
        SELECT vec_id, sub, code_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY l2, code_id) AS rn
        FROM dists0
      ) WHERE rn = 1
    ),
    kdim AS (
      SELECT c.sub, c.code_id, vs.vsub, CAST(t.dim AS INT) AS dim
      FROM codes0 c
      JOIN tsubs vs ON vs.vec_id = c.vec_id AND vs.sub = c.sub
      CROSS JOIN (SELECT unnest(range(16)) AS dim) t
    ),
    kmeans AS (
      SELECT sub, code_id, dim, ROUND(AVG(vsub[dim + 1]), 6) AS value
      FROM kdim GROUP BY sub, code_id, dim
    ),
    books AS MATERIALIZED (
      SELECT sub, code_id, list(value ORDER BY dim) AS cvec
      FROM kmeans GROUP BY sub, code_id
    ),
    dists AS MATERIALIZED (
      SELECT vec_id, sub, code_id,
             list_sum(list_transform(range(16), i ->
               (vsub[i+1] - cvec[i+1]) * (vsub[i+1] - cvec[i+1]))) AS l2
      FROM vsubs JOIN books USING (sub)
    ),
    codes AS (
      SELECT vec_id AS neighbor_id, sub, code_id FROM (
        SELECT vec_id, sub, code_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY l2, code_id) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT vec_id AS query_id, sub, code_id,
             CAST(ROUND(l2, 9) AS DECIMAL(28,9)) AS l2r
      FROM dists WHERE vec_id < 10
    ),
    {_IVF_PQ_ADC_CTES.lstrip().lstrip(",").strip()}
    SELECT query_id, neighbor_id, CAST(adist_dec AS DOUBLE) AS adist,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT query_id, neighbor_id, adist_dec,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adist_dec, neighbor_id) AS rnk
      FROM ivfadc
    ) t WHERE rnk <= 5
    """


@register("ivf_pq_store_frozen", oracle=_IVF_PQ_FROZEN_ORACLE)
def q_ivf_pq_store_frozen(spark, sf_dir):
    """Production IVF×PQ: FREEZE the trained params on a fixed sample.
    Coarse centroids (one Lloyd iteration) and PQ codebooks (per-
    subspace Lloyd) train on the deterministic 256-vector prefix; the
    FULL corpus is then assigned + encoded under those frozen params
    and served from the partitioned code store. Corpus-side build cost
    is one broadcast-assignment + encode pass — linear in n with a
    constant c, which is how a 100 TB deployment runs (vs the scale
    harness's per-run c=sqrt(n) training, an n^1.5 term; VERDICT r11
    #6). Oracle replays sample-restricted training, full-corpus
    assign/encode, and the decimal ADC ranking bit-for-bit."""
    emb = table(spark, sf_dir, "embeddings")
    # frozen training artifacts shared per session (_frozen_shared):
    # deterministic byproducts of the persisted store — the timed
    # invocation measures the steady-state probe, per the docstring
    cents, assign = _frozen_shared(spark, sf_dir)
    books = _frozen_books_shared(spark, sf_dir)
    store = session_store(
        f"ivfpqfz:{sf_dir}",
        lambda p: S.write_ivf_pq_store(emb, p, assign=assign, books=books),
    )
    return S.ivf_pq_store_topk(
        spark, store, emb, topk=5, n_queries=10, c=8, nprobe=2,
        cents=cents, books=books,
    )


_IVF_PQ_FROZEN_M16_ORACLE = f"""
    WITH {_VECS_CTE},
    {_FROZEN_COARSE_CTES},
    {_pq_frozen_chain_ctes(
        "g16", 16, 64, probes="probes", assign="assign", tvecs="tvecs"
    ).lstrip()}
    SELECT query_id, neighbor_id, CAST(adist_dec AS DOUBLE) AS adist,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT query_id, neighbor_id, adist_dec,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adist_dec, neighbor_id) AS rnk
      FROM g16ivfadc
    ) t WHERE rnk <= 5
    """


@register("ivf_pq_store_frozen_m16", oracle=_IVF_PQ_FROZEN_M16_ORACLE)
def q_ivf_pq_store_frozen_m16(spark, sf_dir):
    """The PRODUCTION-GEOMETRY frozen IVF×PQ store (VERDICT r13 #3):
    identical frozen training discipline to :func:`q_ivf_pq_store_frozen`
    — coarse centroids and codebooks trained once on the deterministic
    256-vector prefix, full corpus assigned + encoded under them — but
    at m=16 subspaces × k=64 codes, the geometry SCALE.md's r13 curve
    measured at recall@5 0.44 vs the m=4/k=16 build's 0.12. Code
    budget: 16 bytes/vector (vs 4) — still 32× smaller than the raw
    512-byte vector, and the training cost is UNCHANGED (same 256-row
    sample; m·k sub-codebook cells train from the same subvector scan).
    The recall panel (``ann_recall_at_k``) certifies this build's
    recall as its ``ivf_pq_frozen_m16`` row; this query certifies the
    store roundtrip's exactness. Serving layout/plan are the m=4
    store's: codes partitioned by centroid_id, probed cells pushed as
    a literal partition filter, broadcast LUT, decimal ADC ranking."""
    emb = table(spark, sf_dir, "embeddings")
    # frozen training artifacts shared per session (_frozen_shared)
    cents, assign = _frozen_shared(spark, sf_dir)
    books = _frozen_books_shared(spark, sf_dir, m=16, k=64)
    store = session_store(
        f"ivfpqfz16:{sf_dir}",
        lambda p: S.write_ivf_pq_store(
            emb, p, m=16, k=64, assign=assign, books=books
        ),
    )
    return S.ivf_pq_store_topk(
        spark, store, emb, topk=5, n_queries=10, c=8, nprobe=2, m=16, k=64,
        cents=cents, books=books,
    )
