"""Text analysis operators for training-data pipelines: token stats,
quality scoring, language ID, document fingerprinting.

All pure Column expressions (whole-stage codegen, no Python) and all
deterministic, so every operator has an exact DuckDB oracle. At 100 TB
these run as a single scan with map-side-only work — no shuffle at all
except the final write.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yamr_spark.functions import WORD_BREAK_SQL

# Minimal per-language stopword profiles for the n-gram/stopword-overlap
# language-ID heuristic. Deliberately tiny: the operator demonstrates the
# argmax-over-profiles shape; production swaps in real profiles.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
    "de": ["der", "die", "das", "und", "ein", "eine", "ist", "zu", "von", "mit"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "que", "por"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "也"],
}

_TOKENS = (
    f"filter(split(lower(text), '{WORD_BREAK_SQL}'), x -> length(x) > 0)"
)


def _tokens_col() -> Column:
    return F.expr(_TOKENS)


def _docs(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """(doc_id, text[, extra]) projection for a tokenize/explode root.

    Round-14 measurement note: these roots were briefly scan-spread
    (tables.spread_scan) to the session parallelism, but the quiet
    interleaved A/B showed tokenize→aggregate DAGs LOSE from the root
    exchange at bench scale (bm25_search 1.22→2.80 s, tfidf 1.49→2.54,
    word_count 0.40→1.22 spread-on vs off): the explode feeds partial
    aggregation, which one task does efficiently on a single-row-group
    scan, while spreading multiplies shuffle blocks (M×R) and task
    overhead. Spread stays only where per-byte map work dominates
    (char-granularity hashing — see operators/curation.py — and
    pairwise vector distance)."""
    return docs.select("doc_id", "text", *extra_cols)


def _spread_docs(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """(doc_id, text[, extra]) spread to the session's parallelism
    (tables.spread_scan) before a root whose MAP work dominates (the
    regex-census quality score — measured win in the round-14 A/B); at
    production scale this is a metadata-only no-op. Project-first so
    the exchange carries only the needed columns. cost_factor 8192:
    the regex census runs dozens of pattern scans per input byte."""
    from yamr_spark.tables import spread_scan

    return spread_scan(docs.select("doc_id", "text", *extra_cols), cost_factor=8192)


def tfidf_top_terms(
    docs: DataFrame, top_n: int = 3, max_df_frac: float | None = None
) -> DataFrame:
    """Top-``top_n`` TF-IDF terms per document.

    tf = term count in doc; idf = ln((N+1)/(df+1)) + 1 (smoothed). N is a
    scalar aggregate broadcast-cross-joined into the plan — no driver
    collect, so the whole thing stays one lazy DAG. Ties rank by token
    asc for determinism. Two shuffles: (doc,token) tf agg and token df
    agg; the per-doc top-n is a window over the tf join.

    ``max_df_frac`` (sklearn-style stop-term cap): terms appearing in
    more than that fraction of documents are dropped BEFORE the top-n
    ranking — idf stays full-corpus, but the vectors carry only
    discriminative terms. This is the knob that bounds downstream
    posting-join cost (Σ|posting|² for all-pairs linkage) because it
    removes exactly the hottest posting lists; scale-invariant since
    it's a fraction, not an absolute df."""
    from pyspark.sql import Window

    from yamr_spark.materialize import materialize

    tokens = _docs(docs).select("doc_id", F.explode(_tokens_col()).alias("token"))
    # tf feeds BOTH the df aggregate and the scored join — materialize
    # so the tokenize+tf shuffle runs once, not once per consumer
    tf = materialize(
        tokens.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
                6,
            ),
        )
    )
    if max_df_frac is not None:
        scored = scored.where(
            F.col("df") <= F.col("n_docs") * F.lit(max_df_frac)
        )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top_n)
        .select("doc_id", "token", "tf", "df", "tfidf", "rnk")
    )


# GPT-2-style pre-tokenizer shape: contraction suffixes, space-prefixed
# letter runs / digit runs / punctuation runs. Counting its matches is
# the standard cheap "BPE-ish" token estimate that tracks real subword
# counts far better than chars/4. RE2-compatible (no lookaround), so the
# DuckDB oracle runs the IDENTICAL pattern.
BPE_REGEX = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+"


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: regex word tokens, whitespace tokens, a chars/4
    quick estimate, and a GPT-2-pre-tokenizer-shaped match count
    (``BPE_REGEX``) — the whitespace + BPE-ish pair of estimators."""
    toks = _tokens_col()
    ws = F.expr("filter(split(text, '\\\\s+'), x -> length(x) > 0)")
    bpe_pat = BPE_REGEX.replace("\\", "\\\\").replace("'", "\\'")
    return _docs(docs).select(
        "doc_id",
        # long casts throughout: Spark size()/length() are int32, the
        # DuckDB oracle's len()/length() are int64 — align the schemas
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(ws).cast("long").alias("n_ws_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.ceil(F.length("text") / 4).cast("long").alias("n_bpe_est"),
        F.expr(f"size(regexp_extract_all(text, '{bpe_pat}', 0))")
        .cast("long")
        .alias("n_bpe_regex"),
        F.round(
            F.expr(f"aggregate({_TOKENS}, 0L, (a, x) -> a + length(x))")
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("avg_token_len"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality scoring: length band, punctuation density,
    stopword ratio, digit ratio → [0, 1] score. The exact recipe of the
    C4/Gopher-style rule filters, reduced to deterministic column math."""
    toks = _tokens_col()
    n_tok = F.greatest(F.size(toks), F.lit(1))
    n_stop = F.size(F.expr(
        f"filter({_TOKENS}, x -> array_contains(array({','.join(repr(w) for w in LANG_PROFILES['en'])}), x))"
    ))
    punct = F.length("text") - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))
    digits = F.length("text") - F.length(F.regexp_replace("text", r"[0-9]", ""))
    len_ok = (F.length("text") >= 50) & (F.length("text") <= 10000)
    stop_ratio = n_stop / n_tok
    punct_ratio = punct / F.greatest(F.length("text"), F.lit(1))
    digit_ratio = digits / F.greatest(F.length("text"), F.lit(1))
    score = (
        F.when(len_ok, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.least(stop_ratio * 2, F.lit(0.3))
        + F.when(punct_ratio <= 0.1, F.lit(0.15)).otherwise(F.lit(0.0))
        + F.when(digit_ratio <= 0.2, F.lit(0.15)).otherwise(F.lit(0.0))
    )
    return _spread_docs(docs).select(
        "doc_id",
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(score, 6).alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-profile language ID: score each language by profile-token
    hits, predict the argmax (ties → lexicographically first code).

    Expressed as a greatest()/chained-CASE so the whole classifier is one
    codegen'd projection — the same shape scales to hundreds of languages
    via a broadcast profile table + explode/argmax if profiles get big."""
    scores = {
        lang: F.size(
            F.expr(
                f"filter({_TOKENS}, x -> array_contains(array("
                + ",".join(repr(w) for w in words)
                + "), x))"
            )
        )
        for lang, words in LANG_PROFILES.items()
    }
    langs = sorted(scores)  # lexicographic order doubles as the tiebreak
    best = F.greatest(*[scores[lg] for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):  # earlier langs win ties → apply last
        pred = F.when((scores[lg] == best) & (best > 0), F.lit(lg)).otherwise(pred)
    sel = [F.col("doc_id")]
    sel += [scores[lg].cast("long").alias(f"score_{lg}") for lg in langs]
    sel.append(pred.alias("pred_lang"))
    return _docs(docs).select(*sel)


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals: duplicate-bigram
    fraction and most-frequent-token mass — the standard filters for
    degenerate/looping generations and boilerplate.

    Plan shape: the bigram side is PURE column math (transform over the
    token array — zero shuffle, scalar output per doc). The top-token side
    is one explode + partial-aggregated (doc, token) count, collapsed per
    doc with max(struct(cnt, token)) (ties break to the lexicographically
    LARGEST token — deterministic, matched by the oracle's ORDER BY cnt
    DESC, token DESC). The two sides join on doc_id carrying only scalars
    — the bigram ARRAY never enters a shuffle, only its ratio does.
    """
    bigrams = (
        "CASE WHEN size(__toks) >= 2 THEN "
        "transform(sequence(1, size(__toks) - 1), "
        "i -> concat(element_at(__toks, i), ' ', element_at(__toks, i + 1))) "
        "ELSE cast(array() as array<string>) END"
    )
    # null text → empty token array (NOT size()=-1): both sides of the
    # oracle pair define n_tokens=0 / dup_bigram_ratio=0 for null docs
    null_safe_toks = F.coalesce(_tokens_col(), F.expr("cast(array() as array<string>)"))
    scalar_side = _docs(docs).select("doc_id", null_safe_toks.alias("__toks")).select(
        "doc_id",
        F.size("__toks").cast("long").alias("n_tokens"),
        F.expr(bigrams).alias("__bg"),
    ).select(
        "doc_id",
        "n_tokens",
        F.round(
            F.when(
                F.size("__bg") > 0,
                1 - F.size(F.array_distinct("__bg")) / F.size("__bg"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_bigram_ratio"),
    )
    tf = (
        _docs(docs).select("doc_id", F.explode(_tokens_col()).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
    )
    top_side = (
        tf.groupBy("doc_id")
        .agg(
            F.max(F.struct("c", "token")).alias("top"),
            F.sum("c").alias("n_total"),
        )
        .select(
            "doc_id",
            F.col("top.token").alias("top_token"),
            F.round(F.col("top.c") / F.col("n_total"), 6).alias("top_token_ratio"),
        )
    )
    return scalar_side.join(top_side, "doc_id", "left")


def doc_fingerprint(docs: DataFrame, n: int = 8) -> DataFrame:
    """Rolling-hash document fingerprint: min/max md5 over all character
    n-gram windows (winnowing reduced to the two extreme hashes — enough
    for containment checks, constant output per doc)."""
    grams = F.expr(
        f"transform(sequence(1, greatest(length(text) - {n - 1}, 1)), "
        f"i -> md5(cast(substring(text, i, {n}) as binary)))"
    )
    return _docs(docs).select(
        "doc_id",
        F.array_min(grams).alias("fp_min"),
        F.array_max(grams).alias("fp_max"),
        F.length("text").cast("long").alias("n_chars"),
    )


# Winnowing (MOSS) parameters: character k-grams, window of w gram
# hashes. Guarantee: any shared substring of length >= k + w - 1
# (= 19 chars) contributes at least one shared fingerprint;
# fingerprint density is ~2/(w+1) of gram positions —
# corpus-size-independent. k must be large enough that a single gram
# is MEANINGFUL: at k=8 on English text stock grams ("and the ")
# fingerprint most of the corpus and the candidate join degenerates
# toward all-pairs (measured: 70% of all pairs shared >= 2
# fingerprints on the synthetic fixture at k=8/w=4).
WINNOW_K = 12
WINNOW_W = 8
# pos is embedded in the selection key as (10^12 - pos), zero-padded to
# 12 digits, so string min() = (hash asc, pos desc) — the rightmost-
# minimum rule. Bounds document length at 10^12 chars (1 TB/doc).
_WINNOW_POS_MAX = 999_999_999_999


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full MOSS winnowing fingerprints: (doc_id, fp, sel_pos, n_grams),
    one row per distinct selected (hash, position) pair.

    Algorithm (Schleimer/Wilkerson/Aiken winnowing): hash every
    character k-gram, slide a window of w consecutive gram hashes, and
    in each window select the minimum hash, breaking ties by RIGHTMOST
    position; the distinct selected (hash, pos) pairs are the document's
    fingerprint set. ``doc_fingerprint`` (above) is the reduced
    two-extreme-hash variant; this is the real thing, usable for
    plagiarism-style overlap detection (winnow_near_dup).

    Determinism/engines: the per-window argmin is computed as a plain
    string ``min`` over the composite key ``md5hex || '#' ||
    lpad(POS_MAX - pos)`` — fixed-width ASCII, so bytewise string
    comparison equals (hash asc, pos desc) in both Spark and DuckDB and
    the oracle replays the selection bit-for-bit.

    Scale: one shuffle — the window partitions by doc_id and orders by
    position (never a global window), and the per-doc distinct rides
    the same hash partitioning (groupBy doc_id reuses the window's
    exchange). Gram rows ≈ characters, the same stream width as the
    shingle/dedup family.
    """
    g = F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
        f"i -> struct(i AS pos, md5(cast(substring({text_col}, i, {k}) as binary)) AS h))"
    )
    # NOT scan-spread: the round-14 A/B measured the winnow family
    # slower with a root exchange (the gram build feeds straight into a
    # per-doc window + distinct, which one task pipelines efficiently
    # at single-row-group scale; multi-split scans parallelize anyway)
    docs = docs.select(id_col, text_col)
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.greatest(F.length(text_col) - (k - 1), F.lit(1))
        .cast("long")
        .alias("n_grams"),
        F.explode(g).alias("g"),
    ).select(
        "doc_id",
        "n_grams",
        F.col("g.pos").cast("long").alias("pos"),
        F.concat(
            F.col("g.h"),
            F.lit("#"),
            F.lpad((F.lit(_WINNOW_POS_MAX) - F.col("g.pos")).cast("string"), 12, "0"),
        ).alias("key"),
    )
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    sel = (
        grams.withColumn("sk", F.min("key").over(win))
        # valid window starts only; short docs (n_grams < w) keep the
        # single clipped window at pos 1
        .filter(F.col("pos") <= F.greatest(F.col("n_grams") - (w - 1), F.lit(1)))
        .select(
            "doc_id",
            "n_grams",
            F.substring("sk", 1, 32).alias("fp"),
            (F.lit(_WINNOW_POS_MAX) - F.substring("sk", 34, 12).cast("long")).alias(
                "sel_pos"
            ),
        )
    )
    # distinct per doc rides the window's doc_id hash partitioning
    return sel.groupBy("doc_id", "fp", "sel_pos").agg(
        F.first("n_grams").alias("n_grams")
    )


def winnow_near_dup(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_df: int = 50,
    min_shared: int = 4,
    min_ovl: float = 0.25,
    text_col: str = "text",
    id_col: str = "doc_id",
    fps: DataFrame | None = None,
) -> DataFrame:
    """Winnowing-fingerprint near-dup pairs: documents sharing >=
    ``min_shared`` distinct fingerprints AND a containment-style
    overlap ratio shared/min(|A|,|B|) >= ``min_ovl``, computed over the
    rare-fingerprint universe.

    ``fps`` optionally supplies the distinct (doc_id, fp) fingerprint
    frame (e.g. the per-session frame queries_text shares across the
    stats/near-dup/pipeline consumers) — it must be exactly what this
    function would build itself, so results are identical by
    construction.

    ``max_df`` caps fingerprint document-frequency before the self-join
    (the same stop-shingle explosion guard as ngram_jaccard_pairs —
    boilerplate that fingerprints half the corpus must not become an
    all-pairs block). Sizes are computed over the SAME rare universe so
    the ratio is well-defined within it.

    Scale: candidate generation is one equality self-join on the rare
    fingerprint posting lists — O(shared-fingerprint pairs), never
    O(n²); Σ df² per fingerprint is bounded by max_df².
    """
    from yamr_spark.materialize import materialize

    if fps is None:
        fps = (
            winnowing_fingerprints(
                docs, k=k, w=w, text_col=text_col, id_col=id_col
            )
            .select("doc_id", "fp")
            .distinct()
            .transform(materialize)
        )
    dfreq = fps.groupBy("fp").agg(F.count("*").alias("df"))
    # rare has THREE consumers (sizes and both self-join sides) — without
    # a barrier each replays the distinct + df-filter join (the r14 plan
    # showed that subtree 4×, ~10 replayed Exchanges; guide §2.4). The
    # df aggregate stays a partial-aggregated groupBy + broadcast-small
    # semi-join (never a per-fp window: a hot stop-fingerprint would
    # buffer its whole posting in one window task at corpus scale).
    rare = materialize(
        fps.join(dfreq.filter(F.col("df") <= max_df).select("fp"), "fp")
    )
    sizes = rare.groupBy("doc_id").agg(F.count("*").alias("nf"))
    a, b = rare.alias("a"), rare.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared_fp"))
        .filter(F.col("shared_fp") >= min_shared)
    )
    ovl_raw = F.col("shared_fp") / F.least(F.col("za.nf"), F.col("zb.nf"))
    return (
        pairs.join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .filter(ovl_raw >= F.lit(float(min_ovl)))
        .select(
            "doc_a",
            "doc_b",
            "shared_fp",
            F.round(ovl_raw, 6).alias("ovl"),
        )
    )


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 ranked retrieval for a term-set query: the classic
    full-text relevance function as one declarative plan.

    idf = ln((N - df + 0.5)/(df + 0.5) + 1)  (the standard
    non-negative variant); score = Σ_t idf·tf·(k1+1)/(tf + k1·(1-b +
    b·dl/avgdl)); ties break on doc_id; scores round to 6 dp BEFORE
    ranking so the cut is engine-identical.

    Scale plan: the query-term filter lands map-side INSIDE the token
    explode stage, so the (doc, term) tf aggregate — the only
    fact-sized shuffle — carries query-matching tokens only
    (|terms| ≤ dozens, corpus-sized input never shuffles whole).
    Doc lengths ride a second narrow aggregate over the same scan; the
    corpus-level scalars (N, avgdl) and per-term df are 1-row /
    |terms|-row aggregates cross-broadcast back. Top-k is
    TakeOrderedAndProject (per-partition heaps), no global sort."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = _docs(docs).select("doc_id", F.explode(_tokens_col()).alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    corpus = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qtoks = toks.where(F.col("token").isin(*query_terms))
    tf = qtoks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "token")
        .join(dl, "doc_id")
        .join(F.broadcast(corpus))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * F.col("tf")
            * (F.lit(k1) + 1)
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum("term_score"), 6).alias("score"),
            F.count("*").alias("n_matched_terms"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )


def unigram_lm_score(
    docs: DataFrame, alpha: float = 1.0, max_model_rows: int | None = None
) -> DataFrame:
    """CCNet-style language-model quality score: per-document mean
    token log-probability under the corpus's own add-``alpha`` smoothed
    unigram model. Well-formed prose scores near the corpus mode;
    gibberish and boilerplate land in the tails — the standard cheap
    proxy before a real LM pass.

    p(t) = (count(t) + alpha) / (total + alpha * vocab);
    score(doc) = mean over its tokens of ln p(t), rounded 6 dp.
    Tokens absent from the model table (only possible under
    ``max_model_rows``) smooth to count 0 — the standard OOV bucket,
    p = alpha / (total + alpha·vocab), with total/vocab always the
    FULL-corpus scalars so capping never inflates probabilities.

    Scale plan: the unigram table is ONE partial-aggregated shuffle of
    (token, count) — the same shape as word_count — and the corpus
    scalars (total, vocab) are a 1-row aggregate cross-broadcast back.
    The scoring join is a PLAIN shuffle join co-partitioned on token —
    never a forced broadcast: on a noisy web corpus the vocabulary is
    10⁸–10⁹ rows and a broadcast hint OOMs executors regardless of AQE
    (the same table vocab_coverage's TakeOrdered fix was for); when the
    model IS small, AQE converts the join to a broadcast at runtime
    from observed sizes. ``max_model_rows`` is the production cap —
    keep the top-N tokens by frequency (TakeOrdered, no global sort)
    and smooth the tail into the OOV bucket — bounding the model table
    no matter how noisy the corpus."""
    from yamr_spark.materialize import materialize

    toks = _docs(docs).select("doc_id", F.explode(_tokens_col()).alias("token")).transform(
        materialize
    )
    uni = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    # full-corpus scalars BEFORE any cap: the smoothing denominator is
    # a property of the corpus, not of the truncated model
    corpus = uni.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("vocab")
    )
    if max_model_rows is not None:
        uni = uni.orderBy(F.col("cnt").desc(), "token").limit(max_model_rows)
    return (
        toks.join(uni, "token", "left")
        .join(F.broadcast(corpus))
        .withColumn(
            "logp",
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(alpha))
                / (F.col("total") + F.lit(alpha) * F.col("vocab"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            # decimal-disciplined mean (the pagerank/PCA float rule):
            # round the addends 12 dp, sum through DECIMAL (aggregation-
            # order independent), divide by the count, round 6 dp —
            # a float AVG re-rounded to 6 dp can flip its last digit
            # with partition layout when the mean sits near a 5e-7
            # boundary (the r07 quality_stratified_sample hash flake)
            F.round(
                F.sum(F.round(F.col("logp"), 12).cast("decimal(28,14)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("lm_score"),
            F.count("*").alias("n_tokens"),
        )
    )


def winnow_incremental(
    new_fps: DataFrame,
    index_fps: DataFrame,
    max_df: int = 50,
    min_shared: int = 4,
    min_ovl: float = 0.25,
) -> DataFrame:
    """Incremental winnow near-dup: probe a NEW batch's fingerprint set
    against a STANDING index — the daily-ingest shape for the winnow
    family (the exact-hash analogue is incremental_dedup; the MinHash
    analogue is the streaming LSH index). Inputs are distinct
    (doc_id, fp) frames; returns each flagged new document with its
    best index match: (doc_id, match_id, shared_fp, ovl), best =
    most shared fingerprints, ties to the smallest index id.

    The document-frequency cap is computed on the INDEX side (the
    standing, corpus-sized side — that is where stop-fingerprints
    accumulate); the new batch's per-doc sizes count only fingerprints
    inside that rare universe, so ovl is containment within the
    comparable vocabulary.

    Scale: one equality join of the batch's rare fingerprints against
    the rare index posting lists — O(candidate pairs), never
    batch×index; the best-match window partitions by NEW doc_id
    (bounded by that doc's candidates — never a global window)."""
    from pyspark.sql import Window

    dfreq = index_fps.groupBy("fp").agg(F.count("*").alias("df"))
    rare_fp = dfreq.filter(F.col("df") <= max_df).select("fp")
    rare_idx = index_fps.join(rare_fp, "fp")
    rare_new = new_fps.join(rare_fp, "fp")
    sizes_idx = rare_idx.groupBy("doc_id").agg(F.count("*").alias("nf"))
    sizes_new = rare_new.groupBy("doc_id").agg(F.count("*").alias("nf"))
    pairs = (
        rare_new.alias("n")
        .join(rare_idx.alias("i"), F.col("n.fp") == F.col("i.fp"))
        .groupBy(
            F.col("n.doc_id").alias("doc_id"),
            F.col("i.doc_id").alias("match_id"),
        )
        .agg(F.count("*").alias("shared_fp"))
        .filter(F.col("shared_fp") >= min_shared)
    )
    ovl_raw = F.col("p.shared_fp") / F.least(F.col("zn.nf"), F.col("zi.nf"))
    scored = (
        pairs.alias("p")
        .join(sizes_new.alias("zn"), F.col("p.doc_id") == F.col("zn.doc_id"))
        .join(sizes_idx.alias("zi"), F.col("p.match_id") == F.col("zi.doc_id"))
        .filter(ovl_raw >= F.lit(float(min_ovl)))
        .select(
            F.col("p.doc_id").alias("doc_id"),
            F.col("p.match_id").alias("match_id"),
            F.col("p.shared_fp").alias("shared_fp"),
            F.round(ovl_raw, 6).alias("ovl"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("shared_fp").desc(), F.col("match_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def normalization_dedup_stats(docs: DataFrame) -> DataFrame:
    """Pre-tokenization normalization report + normalization-aware
    exact dedup: per document, the control-char count, non-ASCII char
    count, whitespace-collapse shrinkage, and how many documents share
    its NORMALIZED form (trim → collapse ``\\s+`` → lowercase →
    sha256) — the duplicates byte-exact dedup misses because they
    differ only in case or whitespace.

    Engine notes: Spark ``regexp_replace`` is global by default; the
    DuckDB replay passes the ``'g'`` flag. The lowercase step applies
    only to the HASH input (ws_delta is measured before lowering —
    Unicode case mapping may change string length, e.g. 'İ').
    Whitespace is the EXPLICIT class ``[ \\t\\n\\x0B\\f\\r]+`` rather
    than engine-defined ``\\s``: Java's ``\\s`` matches vertical tab
    \\x0B but DuckDB's RE2 ``\\s`` does not, so a document containing
    \\x0B would diverge across engines (ADVICE r11). The explicit class
    equals Java's ``\\s`` exactly, so Spark semantics are unchanged.

    Scale: one map-side projection + one hash-keyed count join —
    identical shape to exact_dedup (64-byte shuffle keys, bodies never
    move)."""
    collapsed = F.regexp_replace(F.trim(F.col("text")), "[ \\t\\n\\x0B\\f\\r]+", " ")
    per = _docs(docs).select(
        "doc_id",
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[\\x00-\\x1F\\x7F]", ""))
        )
        .cast("long")
        .alias("n_control"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[^\\x00-\\x7F]", ""))
        )
        .cast("long")
        .alias("n_non_ascii"),
        (F.length("text") - F.length(collapsed)).cast("long").alias("ws_delta"),
        F.sha2(F.lower(collapsed), 256).alias("norm_hash"),
    )
    counts = per.groupBy("norm_hash").agg(F.count("*").alias("norm_dups"))
    return per.join(counts, "norm_hash").select(
        "doc_id", "n_control", "n_non_ascii", "ws_delta", "norm_hash", "norm_dups"
    )


def lm_quality_bucket_per_doc(docs: DataFrame) -> DataFrame:
    """Per-document CCNet tertile label: (doc_id, lang, lm_score,
    n_tokens, bucket) with bucket ∈ {tail, middle, head} — EXACT
    per-language rank thirds by unigram-LM score (higher score = lower
    perplexity = head).

    The rank is the DISTRIBUTED exact rank (ranking.py): a per-lang
    window would funnel each language — billions of rows at 100 TB —
    through ONE task. Per-language rank = global rank over
    (lang, lm_score, doc_id) minus the language's start offset; the
    offset/count table is a |languages|-row bounded collect (domain
    cardinality — the same class as ranking.py's P-row partition
    offsets). Bucket edges are pure integer arithmetic
    (((r-1)·3) div n), so they are cross-engine-exact
    (the quality_stratified_sample discipline)."""
    from yamr_spark.operators.ranking import exact_global_rank

    from yamr_spark.materialize import materialize

    lm = unigram_lm_score(docs)
    # MATERIALIZED: ``scored`` has two full consumers — the per-lang
    # count collect below and exact_global_rank's range pass — and
    # without the barrier the whole LM-scoring subtree (model groupBy +
    # scoring join) executes once per consumer. Narrow rows (id, score,
    # n_tokens, lang): the scale-safe unit.
    scored = materialize(lm.join(docs.select("doc_id", "lang"), "doc_id"))
    ranked = exact_global_rank(
        scored, ["lang", "lm_score", "doc_id"], rank_col="grnk"
    )
    counts = {
        r["lang"]: r["cnt"]
        for r in scored.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    offs, acc = [], 0
    for lang in sorted(counts):
        offs.append((lang, acc, counts[lang]))
        acc += counts[lang]
    off_df = ranked.sparkSession.createDataFrame(
        offs, "lang string, off bigint, nl bigint"
    )
    labels = F.array(F.lit("tail"), F.lit("middle"), F.lit("head"))
    return (
        ranked.join(F.broadcast(off_df), "lang")
        .withColumn("r", F.col("grnk") - F.col("off"))
        .select(
            "doc_id",
            "lang",
            "lm_score",
            "n_tokens",
            F.element_at(
                labels, F.expr("CAST(((r - 1) * 3) DIV nl AS INT) + 1")
            ).alias("bucket"),
        )
    )


def lm_quality_buckets(docs: DataFrame) -> DataFrame:
    """Per-(lang, bucket) rollup of :func:`lm_quality_bucket_per_doc`
    — the registered certification form."""
    return lm_quality_bucket_per_doc(docs).groupBy("lang", "bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("lm_score").alias("min_score"),
        F.max("lm_score").alias("max_score"),
    )


def kmv_distinct(
    df: DataFrame, col: str, k: int = 256
) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002):
    hash every value to hash60's uniform 60-bit space, keep the k
    smallest DISTINCT hashes, and estimate |distinct| as
    (k-1) / (kth_min / 2^60). Standard error ~ 1/sqrt(k) (~6% at
    k=256). Unlike HLL sketches, the estimator is a DETERMINISTIC
    function of the data — both engines replay the identical md5-derived
    arithmetic, so approximate aggregation sits under the exact content
    hash.

    Scale plan: the per-value hash is map-side; the distinct collapses
    partial-aggregated on the 8-byte hash; orderBy(h).limit(k) plans as
    TakeOrderedAndProject — per-partition bottom-k heaps merged at the
    driver, never a global sort. Exactly the mergeable-sketch shape: a
    union of two sketches is the bottom-k of their concatenation.

    Returns one row: (n_hashes, kth_min, estimate) — n_hashes < k means
    the sketch saw every distinct value and the estimate IS exact
    (n_hashes)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from yamr_spark.functions import hash60

    hashes = df.select(hash60(F.col(col).cast("string")).alias("h")).distinct()
    bottom = hashes.orderBy("h").limit(k)
    return bottom.agg(
        F.count("*").alias("n_hashes"),
        F.max("h").alias("kth_min"),
    ).select(
        "n_hashes",
        "kth_min",
        F.round(
            F.when(
                F.col("n_hashes") < k, F.col("n_hashes").cast("double")
            ).otherwise(
                F.lit(float(k - 1)) / (F.col("kth_min").cast("double") / F.lit(float(1 << 60)))
            ),
            4,
        ).alias("estimate"),
    )


def bpe_learn_merges(docs: DataFrame, n_merges: int = 3) -> DataFrame:
    """Distributed BPE merge learning (Sennrich et al. 2016 / the GPT-2
    vocab recipe), the first ``n_merges`` rounds: words become
    space-joined symbol strings, each round counts adjacent symbol
    pairs (weighted by word frequency), picks the most frequent pair
    (ties: lexicographically smallest), and applies the merge
    corpus-wide. Returns (rank, sym_a, sym_b, freq) — the learned merge
    table, the artifact a tokenizer trainer persists.

    Merge application is string replace of ' a b ' with ' ab ' over
    sentinel-padded symbol strings — left-to-right non-overlapping,
    exactly the semantics both engines' replace() implement, so the
    oracle replays training bit-for-bit.

    Scale: the word table (word, count) is materialized once (vocab ≪
    corpus — this is why real BPE trainers count words first); each
    round is one explode+partial-aggregated pair count, a 1-row argmax
    broadcast back as a LITERAL-free column (no driver collect), and a
    map-side replace.

    OPERATING ENVELOPE: rounds are sequential by nature (each merge
    changes the next round's counts), so this strict variant costs
    n_merges driver-sequenced jobs over the word table — honest for
    small n_merges (≲ a few hundred); a production 32k-merge vocab
    wants ``bpe_learn_merges_batched`` (up to cand_k independent
    merges per round, ~vocab/batch rounds), which degenerates to this
    exact algorithm at cand_k=1 (test-pinned equivalence)."""
    from yamr_spark.materialize import materialize

    words = (
        _docs(docs).select(F.explode(_tokens_col()).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        # sentinel-padded symbol string: ' h e l l o '
        .select(
            F.concat(
                F.lit(" "),
                F.array_join(F.split(F.col("w"), ""), " "),
                F.lit(" "),
            ).alias("s"),
            "cnt",
        )
        .transform(materialize)
    )
    merges = None
    cur = words
    for rank in range(1, n_merges + 1):
        # sequence(1, 0) DESCENDS in Spark — guard 1-symbol words
        toks = "filter(split(s, ' '), x -> length(x) > 0)"
        pairs_expr = (
            f"CASE WHEN size({toks}) < 2 THEN "
            "array() "
            f"ELSE transform(sequence(1, size({toks}) - 1), "
            f"i -> struct(element_at({toks}, i) AS a, "
            f"element_at({toks}, i + 1) AS b)) END"
        )
        pairs = cur.select(F.explode(F.expr(pairs_expr)).alias("p"), "cnt")
        # deterministic tiebreak: min_by over (-freq, a, b) lexicographic
        best = (
            pairs.groupBy("p")
            .agg(F.sum("cnt").alias("freq"))
            .agg(
                F.min_by(
                    F.struct(
                        F.col("p.a").alias("a"),
                        F.col("p.b").alias("b"),
                        F.col("freq"),
                    ),
                    F.struct(
                        (-F.col("freq")).alias("nf"),
                        F.col("p.a").alias("a"),
                        F.col("p.b").alias("b"),
                    ),
                ).alias("x")
            )
            .select(
                F.lit(rank).cast("long").alias("rank"),
                F.col("x.a").alias("sym_a"),
                F.col("x.b").alias("sym_b"),
                F.col("x.freq").alias("freq"),
            )
            .transform(materialize)
        )
        merges = best if merges is None else merges.unionAll(best)
        cur = (
            cur.crossJoin(F.broadcast(best.select("sym_a", "sym_b")))
            .select(
                F.replace(
                    F.col("s"),
                    F.concat(
                        F.lit(" "), F.col("sym_a"), F.lit(" "), F.col("sym_b"), F.lit(" ")
                    ),
                    F.concat(F.lit(" "), F.col("sym_a"), F.col("sym_b"), F.lit(" ")),
                ).alias("s"),
                "cnt",
            )
            .transform(materialize)
        )
    return merges


def bpe_learn_merges_batched(
    docs: DataFrame, n_rounds: int = 3, cand_k: int = 8, return_words: bool = False
):
    """Batched BPE merge learning — the production-scale variant of
    ``bpe_learn_merges``: each round learns UP TO ``cand_k`` mutually
    independent merges from one pair count, so learning a 32k vocab
    takes ~vocab/batch driver rounds (≈125 at batch 256) instead of
    32k sequential full-corpus jobs. This is the batching every real
    distributed tokenizer trainer does; strict BPE (recount after
    every merge) is recovered exactly at ``cand_k=1`` (test-pinned).

    Per round: (1) one partial-aggregated adjacent-pair count; (2) the
    top-``cand_k`` candidates by (freq desc, a, b) — a TakeOrdered,
    no full sort; (3) a candidate is SELECTED iff its extended symbol
    set {a, b, a||b} is disjoint from every higher-ranked candidate's
    — an anti self-join over ≤ cand_k rows. Extended disjointness
    makes the selected replaces independent (no pattern of one merge
    contains, or can be created by, another), so applying them
    sequentially in rank order inside ONE array-fold pass equals
    applying them simultaneously — and the DuckDB oracle replays the
    identical selection + fold, so batched training is content-hash
    checked round-for-round.

    Returns (round, rank, sym_a, sym_b, freq): rank orders merges
    within their round; (round, rank) is the global merge order. With
    ``return_words=True`` also returns the ENCODED word table
    (sentinel-padded symbol string, count) after all merges — i.e. the
    corpus tokenized under the learned vocab, which ``bpe_encode_stats``
    reports on (training and application share one pass).
    """
    from pyspark.sql import Window

    from yamr_spark.materialize import materialize

    words = (
        _docs(docs).select(F.explode(_tokens_col()).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.concat(
                F.lit(" "),
                F.array_join(F.split(F.col("w"), ""), " "),
                F.lit(" "),
            ).alias("s"),
            "cnt",
        )
        .transform(materialize)
    )
    toks = "filter(split(s, ' '), x -> length(x) > 0)"
    pairs_expr = (
        f"CASE WHEN size({toks}) < 2 THEN array() "
        f"ELSE transform(sequence(1, size({toks}) - 1), "
        f"i -> struct(element_at({toks}, i) AS a, "
        f"element_at({toks}, i + 1) AS b)) END"
    )
    merges = None
    cur = words
    order = [F.col("freq").desc(), F.col("a"), F.col("b")]
    for rnd in range(1, n_rounds + 1):
        cand = (
            cur.select(F.explode(F.expr(pairs_expr)).alias("p"), "cnt")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("freq"))
            .orderBy(*order)
            .limit(cand_k)
            .withColumn("rk", F.row_number().over(Window.orderBy(*order)))
        )
        c, q = cand.alias("c"), cand.alias("q")

        def ext(side):
            return [
                F.col(f"{side}.a"),
                F.col(f"{side}.b"),
                F.concat(F.col(f"{side}.a"), F.col(f"{side}.b")),
            ]

        overlap = None
        for lhs in ext("q"):
            for rhs in ext("c"):
                term = lhs == rhs
                overlap = term if overlap is None else overlap | term
        conflict = (F.col("q.rk") < F.col("c.rk")) & overlap
        sel = (
            c.join(q, conflict, "left_anti")
            .withColumn("rank", F.row_number().over(Window.orderBy("rk")).cast("long"))
            .select(
                F.lit(rnd).cast("long").alias("round"),
                "rank",
                F.col("a").alias("sym_a"),
                F.col("b").alias("sym_b"),
                F.col("freq"),
                "rk",
            )
            .transform(materialize)
        )
        out = sel.drop("rk")
        merges = out if merges is None else merges.unionAll(out)
        batch = sel.agg(
            F.sort_array(
                F.collect_list(F.struct("rk", "sym_a", "sym_b"))
            ).alias("ms")
        )
        cur = (
            cur.crossJoin(F.broadcast(batch))
            .select(
                F.expr(
                    "aggregate(ms, s, (acc, m) -> replace(acc, "
                    "' ' || m.sym_a || ' ' || m.sym_b || ' ', "
                    "' ' || m.sym_a || m.sym_b || ' '))"
                ).alias("s"),
                "cnt",
            )
            .transform(materialize)
        )
    if return_words:
        return merges, cur
    return merges


def vocab_coverage(docs: DataFrame, caps: list[int] = (10, 100, 1000)) -> DataFrame:
    """Zipf vocabulary coverage: for each rank cap, the fraction of all
    token OCCURRENCES covered by the top-``cap`` vocabulary entries
    (rank order: count desc, token asc) — the curve a tokenizer/vocab
    budget decision reads off.

    Scale: one word_count-shaped partial-aggregated shuffle builds the
    vocab table; the candidate set is then cut to the top-``max(caps)``
    tokens via orderBy+limit — a TakeOrdered (per-partition heaps, no
    global sort; plan-test-pinned) — BEFORE any window, so the rank
    window runs over ≤max(caps) rows even when a noisy web corpus has
    10⁹ distinct tokens (the single-partition full-vocab sort VERDICT
    r05 #3 flagged). Returns (rank_cap, covered, coverage)."""
    from pyspark.sql import Window

    tc = (
        _docs(docs).select(F.explode(_tokens_col()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    top = tc.orderBy(F.col("cnt").desc(), "token").limit(int(max(caps)))
    ranked = top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("cnt").desc(), "token"))
    )
    total = tc.agg(F.sum("cnt").alias("total"))
    caps_df = docs.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(int(c)) for c in caps])).alias("rank_cap")
    )
    return (
        ranked.crossJoin(F.broadcast(caps_df))
        .where(F.col("rk") <= F.col("rank_cap"))
        .groupBy("rank_cap")
        .agg(F.sum("cnt").alias("covered"))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rank_cap").cast("long").alias("rank_cap"),
            F.col("covered"),
            F.round(F.col("covered") / F.col("total"), 6).alias("coverage"),
        )
    )


GOPHER_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it")


def gopher_pass_col(
    min_words: int = 30,
    max_words: int = 50_000,
    min_mean_wlen: float = 3.0,
    max_mean_wlen: float = 10.0,
    min_stop_ratio: float = 0.02,
    min_unique_ratio: float = 0.3,
) -> Column:
    """Per-document boolean: passes ALL the Gopher rules gopher_filters
    aggregates — exposed as a reusable pure Column so fused pipelines
    (llm_prep_pipeline_v3) apply the gate map-side without a join.
    Denominators floor at 1 (a zero-token doc FAILS deterministically
    rather than yielding NULL)."""
    toks = _tokens_col()
    stoplist = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    n = F.size(toks)
    nd = F.greatest(n, F.lit(1))
    mean_wlen = F.expr(
        "aggregate(filter(split(lower(text), '[^\\\\p{L}\\\\p{N}_]+'),"
        " x -> length(x) > 0), 0L, (acc, x) -> acc + length(x))"
    ) / nd
    stop_ratio = F.expr(
        "size(filter(filter(split(lower(text), '[^\\\\p{L}\\\\p{N}_]+'),"
        f" x -> length(x) > 0), x -> x IN ({stoplist})))"
    ) / nd
    uniq_ratio = F.size(F.array_distinct(toks)) / nd
    return (
        n.between(min_words, max_words)
        & mean_wlen.between(min_mean_wlen, max_mean_wlen)
        & (stop_ratio >= min_stop_ratio)
        & (uniq_ratio >= min_unique_ratio)
    )


def gopher_filters(
    docs: DataFrame,
    min_words: int = 30,
    max_words: int = 50_000,
    min_mean_wlen: float = 3.0,
    max_mean_wlen: float = 10.0,
    min_stop_ratio: float = 0.02,
    min_unique_ratio: float = 0.3,
) -> DataFrame:
    """Gopher-style named document-quality rules (Rae et al. 2021's
    repetition/format heuristics, the subset expressible over this
    corpus): word-count bounds, mean-word-length band, stopword-ratio
    floor, distinct-word-ratio floor. Returns per-lang rule-failure
    counts plus the pass-all count — the report a curation run reads
    to pick thresholds before filtering.

    Pure Column expressions over one explode-free pass (array ops on
    the tokenized text), one partial-aggregated shuffle on lang."""
    toks = _tokens_col()
    stoplist = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    n = F.size(toks)
    # ratio denominator floors at 1 (mirroring the oracle's greatest(len,1)):
    # a zero-token document must yield DEFINED ratios — with a bare /n it
    # would produce NULL flags and silently drop out of both the failure
    # counts and n_pass_all (ADVICE r05)
    nd = F.greatest(n, F.lit(1))
    mean_wlen = F.expr(
        "aggregate(filter(split(lower(text), '[^\\\\p{L}\\\\p{N}_]+'),"
        " x -> length(x) > 0), 0L, (acc, x) -> acc + length(x))"
    ) / nd
    stop_ratio = F.expr(
        "size(filter(filter(split(lower(text), '[^\\\\p{L}\\\\p{N}_]+'),"
        f" x -> length(x) > 0), x -> x IN ({stoplist})))"
    ) / nd
    uniq_ratio = F.size(F.array_distinct(toks)) / nd
    flagged = _docs(docs, "lang").select(
        "lang",
        (~n.between(min_words, max_words)).cast("long").alias("f_nwords"),
        (~mean_wlen.between(min_mean_wlen, max_mean_wlen))
        .cast("long")
        .alias("f_mean_wlen"),
        (stop_ratio < min_stop_ratio).cast("long").alias("f_stop_ratio"),
        (uniq_ratio < min_unique_ratio).cast("long").alias("f_unique_ratio"),
    )
    fail_any = (
        (F.col("f_nwords") + F.col("f_mean_wlen") + F.col("f_stop_ratio") + F.col("f_unique_ratio"))
        > 0
    ).cast("long")
    return (
        flagged.withColumn("f_any", fail_any)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("f_nwords").alias("fail_nwords"),
            F.sum("f_mean_wlen").alias("fail_mean_wlen"),
            F.sum("f_stop_ratio").alias("fail_stop_ratio"),
            F.sum("f_unique_ratio").alias("fail_unique_ratio"),
            (F.count("*") - F.sum("f_any")).alias("n_pass_all"),
        )
    )


def bpe_encode_stats(
    docs: DataFrame, n_rounds: int = 2, cand_k: int = 6
) -> DataFrame:
    """Tokenizer APPLICATION: encode the corpus under the vocab learned
    by batched BPE and report compression — distinct words, total word
    occurrences, total tokens after merging, tokens-per-word, and the
    merge count. The encoded table falls out of training's final round
    (no separate apply pass); counting symbols is pure column math over
    the word table (vocab-sized, not corpus-sized)."""
    merges, words = bpe_learn_merges_batched(
        docs, n_rounds=n_rounds, cand_k=cand_k, return_words=True
    )
    n_merges = merges.select(F.count("*").alias("n_merges"))
    syms = "size(filter(split(s, ' '), x -> length(x) > 0))"
    return (
        words.select(
            F.expr(syms).cast("long").alias("n_sym"), "cnt"
        )
        .agg(
            F.count("*").alias("n_words"),
            F.sum("cnt").alias("n_occurrences"),
            F.sum(F.expr("n_sym * cnt")).alias("n_tokens"),
            F.round(
                F.sum(F.expr("n_sym * cnt")) / F.sum("cnt").cast("double"), 6
            ).alias("tokens_per_word"),
        )
        .crossJoin(F.broadcast(n_merges))
    )


def ngram_repetition_profile(
    docs: DataFrame,
    dup_n: int = 5,
    max_top_bigram_frac: float = 0.20,
    max_dup_ngram_frac: float = 0.15,
) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021,
    repetition heuristics): per doc, (a) the fraction of bigram char
    mass covered by the single most-frequent word 2-gram (ties → the
    lexicographically smallest gram) and (b) the fraction of
    ``dup_n``-gram char mass in DUPLICATED grams (count > 1; char mass
    = occurrences × gram length). Repetition is the strongest cheap
    boilerplate/spam signal in web corpora; docs exceeding either
    threshold fail the pass flag.

    Scale: grams are generated map-side from each doc's token array (no
    corpus-level state), counted with one partial-aggregated shuffle on
    (doc_id, gram); the rank window partitions per doc_id so it ranks
    only that doc's distinct bigrams, and every later keyed stage is
    co-partitioned on doc_id. Documents shorter than the gram width
    contribute defined zeros, not NULL dropouts."""
    from pyspark.sql import Window

    from yamr_spark.materialize import materialize

    # MATERIALIZED: gram_counts(2) and gram_counts(dup_n) both read
    # ``toks`` — one tokenize pass instead of one per gram width.
    toks = materialize(
        _docs(docs).select("doc_id", _tokens_col().alias("t"))
    )

    def gram_counts(n: int) -> DataFrame:
        return (
            toks.where(F.size("t") >= n)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        f"transform(sequence(1, size(t) - {n} + 1), "
                        f"i -> array_join(slice(t, i, {n}), ' '))"
                    )
                ).alias("g"),
            )
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("cnt"))
        )

    big = gram_counts(2)
    w = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), "g")
    top = (
        big.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("g").alias("top_bigram"), F.col("cnt").alias("top_cnt"))
    )
    mass2 = big.groupBy("doc_id").agg(
        F.sum(F.col("cnt") * F.length("g")).alias("m2")
    )
    dup = gram_counts(dup_n).groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("cnt") > 1, F.col("cnt") * F.length("g")).otherwise(F.lit(0))
        ).alias("dupm"),
        F.sum(F.col("cnt") * F.length("g")).alias("mn"),
    )
    top_frac = F.round(
        F.coalesce(
            F.col("top_cnt") * F.length("top_bigram") / F.col("m2"), F.lit(0.0)
        ),
        6,
    )
    dup_frac = F.round(
        F.coalesce(F.col("dupm") / F.col("mn"), F.lit(0.0)), 6
    )
    return (
        docs.select("doc_id")
        .join(top.join(mass2, "doc_id"), "doc_id", "left")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("top_bigram", F.lit("")).alias("top_bigram"),
            top_frac.alias("top_bigram_frac"),
            dup_frac.alias("dup_ngram_frac"),
            (
                (top_frac <= max_top_bigram_frac) & (dup_frac <= max_dup_ngram_frac)
            ).alias("pass_repetition"),
        )
    )


def bigram_lm_score(
    docs: DataFrame, alpha: float = 1.0, max_model_rows: int | None = None
) -> DataFrame:
    """Bigram language-model quality score: per-document mean bigram
    log-probability under the corpus's own add-``alpha`` smoothed
    bigram model — one order up from ``unigram_lm_score``, sensitive to
    word-ORDER pathologies (shuffled text, keyword stuffing) that the
    unigram model by construction cannot see.

    p(cur|prev) = (c(prev,cur) + alpha) / (c(prev) + alpha·V), V = the
    unigram vocabulary size; score(doc) = mean ln p over the doc's
    bigrams (docs with < 2 tokens have no bigrams and are excluded).
    Under ``max_model_rows`` (top-N bigrams and top-N contexts by
    count, TakeOrdered), grams/contexts outside the model smooth to
    count 0 — the OOV bucket, worst case p = 1/V.

    Scale plan: bigrams are generated MAP-SIDE from each doc's token
    array; the bigram table is one word_count-shaped partial-aggregated
    shuffle, context counts collapse that table again by its first
    token (bigram-table-sized, not corpus-sized), V is a 1-row
    aggregate. The two model tables are pre-joined with each other
    (model-table-sized shuffle on the context key), then the gram
    stream joins the fused model ONCE — a plain shuffle join
    co-partitioned on the gram key, never a forced broadcast: on a
    noisy web corpus the bigram table is an order larger than an
    already-10⁸-row vocabulary, and a broadcast hint OOMs executors
    regardless of AQE. When the model IS small, AQE converts the join
    to a runtime broadcast from observed sizes; ``max_model_rows`` is
    the production bound for everything else."""
    from yamr_spark.materialize import materialize

    # MATERIALIZED: the bigram stream and the vocab count both read
    # ``toks`` — one tokenize pass instead of two.
    toks = materialize(
        _docs(docs).select("doc_id", _tokens_col().alias("t"))
    )
    bg = (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> concat(t[i], ' ', t[i + 1]))"
                )
            ).alias("g"),
        )
        .transform(materialize)
    )
    bgc = bg.groupBy("g").agg(F.count("*").alias("cbg"))
    # context counts from the FULL bigram table (true denominators),
    # independent of any cap on the stored model rows
    ctx = bgc.groupBy(
        F.substring_index("g", " ", 1).alias("prev")
    ).agg(F.sum("cbg").alias("cctx"))
    if max_model_rows is not None:
        bgc = bgc.orderBy(F.col("cbg").desc(), "g").limit(max_model_rows)
        ctx = ctx.orderBy(F.col("cctx").desc(), "prev").limit(max_model_rows)
    # fuse the two model tables first (model-sized join on the context
    # key), so the corpus gram stream is shuffled exactly once — on g
    model = bgc.withColumn("prev", F.substring_index("g", " ", 1)).join(
        ctx, "prev", "left"
    )
    vocab = (
        toks.select(F.explode("t").alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    return (
        bg.join(model, "g", "left")
        .join(F.broadcast(vocab))
        .withColumn(
            "logp",
            # cctx floors at cbg: uncapped it already is (a context's
            # count sums its bigrams' counts), and under max_model_rows
            # a kept bigram whose context was dropped must not score
            # p > 1 against the zero-smoothed denominator
            F.log(
                (F.coalesce(F.col("cbg"), F.lit(0)) + F.lit(alpha))
                / (
                    F.greatest(
                        F.coalesce(F.col("cctx"), F.lit(0)),
                        F.coalesce(F.col("cbg"), F.lit(0)),
                    )
                    + F.lit(alpha) * F.col("v")
                )
            ),
        )
        .groupBy("doc_id")
        .agg(
            # decimal-disciplined mean — see unigram_lm_score
            F.round(
                F.sum(F.round(F.col("logp"), 12).cast("decimal(28,14)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("bigram_lm_score"),
            F.count("*").alias("n_bigrams"),
        )
    )


def phrase_search(docs: DataFrame, phrase: list[str]) -> DataFrame:
    """Exact phrase search via POSITIONAL posting lists — the inverted-
    index primitive (token, doc_id, position) and its adjacency join,
    not a substring scan: at 100 TB the posting table is the stored
    artifact (built once, partitioned by token) and a phrase query
    touches only its words' postings. Returns (doc_id, n_occurrences)
    for documents containing the words of ``phrase`` consecutively.

    Plan: postings are generated map-side (posexplode) and FILTERED to
    the phrase's words before anything wide — the stream entering the
    joins is |postings of phrase words|, not |corpus tokens|; the k−1
    adjacency joins all key on (doc_id, position offset), co-partitioned
    after the first exchange. A substring LIKE scan cannot use an index
    and false-positives across word boundaries; this neither."""
    if len(phrase) < 2:
        raise ValueError("phrase_search needs at least 2 words")
    post = (
        docs.select(
            "doc_id", F.posexplode(_tokens_col()).alias("pos", "tok")
        )
        .where(F.col("tok").isin(list(phrase)))
    )
    cur = (
        post.where(F.col("tok") == phrase[0])
        .select("doc_id", F.col("pos").alias("p0"))
    )
    for k, w in enumerate(phrase[1:], start=1):
        nxt = post.where(F.col("tok") == w).select(
            "doc_id", F.col("pos").alias(f"p{k}")
        )
        cur = cur.join(
            nxt,
            (cur["doc_id"] == nxt["doc_id"])
            & (nxt[f"p{k}"] == cur[f"p{k-1}"] + 1),
        ).select(cur["doc_id"], F.col(f"p{k}"))
    return cur.groupBy("doc_id").agg(F.count("*").alias("n_occurrences"))


def recency_weighted_user_score(
    events: DataFrame, value_col: str = "value"
) -> DataFrame:
    """Recency-weighted per-user engagement: Σ value/(1+Δdays) where
    Δdays = whole days from the event to the corpus's newest event —
    the harmonic-decay scoring feeds ranking/retention models without
    a cron re-run (weights shift as t_max advances, the formula
    doesn't).

    Determinism: harmonic decay is chosen over exp(−λΔ) deliberately —
    division is IEEE-exact and identical across engines, while libm
    exp() can differ in the last ulp. Each term is rounded to 9dp and
    summed through DECIMAL(28,9) (order-independent), so the float
    reduction is exactly hash-checkable. Plan: one scalar max-ts
    aggregate broadcast back, then one partial-aggregated user_id
    shuffle."""
    tmax = events.agg(F.max("ts").alias("tmax"))
    term = F.round(
        F.col(value_col)
        / (F.lit(1) + F.datediff(F.col("tmax"), F.col("ts"))),
        9,
    ).cast("decimal(28,9)")
    return (
        events.crossJoin(F.broadcast(tmax))
        .groupBy("user_id")
        .agg(
            F.round(F.sum(term).cast("double"), 6).alias("recency_score"),
            F.count("*").alias("n_events"),
        )
    )


def hashed_doc_embeddings(
    docs: DataFrame, d: int = 32
) -> DataFrame:
    """Feature-hashed (hashing-trick) bag-of-words document embeddings
    — the deterministic text→vector bridge when no trained model is in
    the loop (Weinberger et al. 2009): every token hashes to one of
    ``d`` buckets with a ±1 sign hash, per-doc bucket sums are
    L2-normalized, and the output is the SPARSE form (doc_id, dim,
    weight) ready for the engine's posting-join retrieval and dense
    ANN machinery. Both hashes are the md5-derived hash60, so the
    DuckDB oracle replays every bucket, sign, and weight.

    Exactness: bucket values are integer sums of ±tf (exact), the norm
    is the square root of an exact integer, and the only float op is
    the final round(val/norm, 6) — no decimal discipline needed.
    Documents whose buckets fully cancel (norm 0) drop, mirrored by
    the oracle.

    Scale: one tokenize scan, one partial-aggregated (doc, bucket)
    shuffle (≤ d live buckets per doc), one per-doc norm aggregate
    joined back on doc_id — word_count-shaped throughout; d is a
    constant, never a per-row blowup."""
    from yamr_spark.functions import hash60

    tokens = _docs(docs).select("doc_id", F.explode(_tokens_col()).alias("token"))
    tf = tokens.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    hashed = tf.select(
        "doc_id",
        F.pmod(hash60(F.col("token")), F.lit(d)).alias("dim"),
        (
            (F.pmod(hash60(F.concat(F.lit("±"), F.col("token"))), F.lit(2)) * 2 - 1)
            * F.col("tf")
        ).alias("signed_tf"),
    )
    vals = (
        hashed.groupBy("doc_id", "dim")
        .agg(F.sum("signed_tf").alias("val"))
        .where(F.col("val") != 0)
    )
    norms = vals.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val")).cast("double")).alias("nrm")
    )
    return (
        vals.join(norms, "doc_id")
        .where(F.col("nrm") > 0)
        .select(
            "doc_id",
            F.col("dim").cast("long").alias("dim"),
            F.round(F.col("val") / F.col("nrm"), 6).alias("weight"),
        )
    )


def kmv_distinct_per_group(
    df: DataFrame, group_col: str, col: str, k: int = 64
) -> DataFrame:
    """Per-GROUP KMV distinct-count sketch — the GROUP BY form of
    :func:`kmv_distinct` that completes the sketch family (global
    estimate, set algebra, per-key): approximate COUNT(DISTINCT col)
    per ``group_col`` from each group's k smallest distinct 60-bit
    hashes. Like its siblings, every number is a DETERMINISTIC
    function of the data (md5-derived hash60), so the approximate
    answer sits under the exact content hash.

    Returns (group, n_hashes, estimate): n_hashes < k means the sketch
    saw every distinct value and the estimate IS exact.

    Scale plan: the (group, hash) distinct collapses partial-aggregated
    before one shuffle on the group key; the per-group bottom-k is a
    window over DISTINCT hashes only (row_number, rank-k cutoff) —
    per-group state is the surviving distinct-hash stream, and the
    output is groups × 1 rows. The sketches are mergeable (bottom-k of
    a union = bottom-k of concatenated bottom-ks), which is what makes
    the same shape work as a partial aggregate over shards at 100 TB."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from pyspark.sql import Window

    from yamr_spark.functions import hash60

    # NULLs are excluded up front: COUNT(DISTINCT col) ignores NULL,
    # and an unfiltered NULL hash would occupy a bottom-k slot on the
    # Spark side (NULLS FIRST) while DuckDB's default ordering puts it
    # last — a cross-engine sketch divergence (review r07 finding)
    hashes = (
        df.where(F.col(col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            hash60(F.col(col).cast("string")).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("h")
    bottom = hashes.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    agg = bottom.groupBy("grp").agg(
        F.count("*").alias("n_hashes"), F.max("h").alias("kth")
    )
    est = F.when(F.col("n_hashes") < k, F.col("n_hashes").cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.col("kth").cast("double") / F.lit(float(1 << 60)))
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_hashes",
        F.round(est, 4).alias("estimate"),
    )


def kmv_set_ops(
    df_a: DataFrame, df_b: DataFrame, col: str, k: int = 256
) -> DataFrame:
    """KMV sketch SET ALGEBRA — the property that makes bottom-k the
    sketch of choice for distributed set cardinality: two sketches
    union by taking the bottom-k of their concatenation (associative,
    mergeable per partition/shard), |A∩B| falls out by
    inclusion-exclusion, and Jaccard = inter/union. Like
    ``kmv_distinct``, every number is a DETERMINISTIC function of the
    data (md5-derived hash60), so the approximate answers sit under the
    exact content hash.

    Returns one row: (est_a, est_b, est_union, est_intersection,
    jaccard_est), estimates rounded to 4dp, intersection clamped at 0
    (inclusion-exclusion of two noisy estimates can dip negative for
    near-disjoint sets)."""
    from yamr_spark.functions import hash60

    def sketch(df, label):
        hashes = df.select(hash60(F.col(col).cast("string")).alias("h")).distinct()
        return (
            hashes.orderBy("h")
            .limit(k)
            .agg(
                F.count("*").alias(f"n_{label}"),
                F.max("h").alias(f"kth_{label}"),
            )
        )

    ha = df_a.select(hash60(F.col(col).cast("string")).alias("h")).distinct()
    hb = df_b.select(hash60(F.col(col).cast("string")).alias("h")).distinct()
    sk_a = sketch(df_a, "a")
    sk_b = sketch(df_b, "b")
    sk_u = (
        ha.union(hb)
        .distinct()
        .orderBy("h")
        .limit(k)
        .agg(F.count("*").alias("n_u"), F.max("h").alias("kth_u"))
    )

    def est(n, kth):
        return F.when(F.col(n) < k, F.col(n).cast("double")).otherwise(
            F.lit(float(k - 1))
            / (F.col(kth).cast("double") / F.lit(float(1 << 60)))
        )

    joined = sk_a.crossJoin(sk_b).crossJoin(sk_u)
    ea, eb, eu = est("n_a", "kth_a"), est("n_b", "kth_b"), est("n_u", "kth_u")
    inter = F.greatest(ea + eb - eu, F.lit(0.0))
    # both inputs empty → est_union = 0; Jaccard of two empty sets is
    # DEFINED as 0 here rather than NULL/NaN from the 0/0 (ADVICE r06)
    jac = F.when(eu > 0, inter / eu).otherwise(F.lit(0.0))
    return joined.select(
        F.round(ea, 4).alias("est_a"),
        F.round(eb, 4).alias("est_b"),
        F.round(eu, 4).alias("est_union"),
        F.round(inter, 4).alias("est_intersection"),
        F.round(jac, 4).alias("jaccard_est"),
    )


def sparse_cosine_pairs(
    docs: DataFrame,
    top_n: int = 3,
    threshold: float = 0.6,
    num_queries: int | None = 50,
    max_df_frac: float | None = None,
) -> DataFrame:
    """SPARSE-vector document similarity over the inverted index — the
    lexical complement to dense-embedding ANN: each doc is its
    top-``top_n`` TF-IDF terms, candidates come from a posting-list
    join on shared terms (never all-pairs over raw docs), and cosine
    is the decimal-disciplined dot of the truncated vectors. Pairs
    scoring ≥ ``threshold`` on the rounded similarity survive.

    ``num_queries`` restricts the LEFT side to doc_id < num_queries —
    the sparse-RETRIEVAL shape (queries probe the corpus through the
    index; cost |query postings| × posting length). ``None`` is the
    all-pairs LINKAGE shape, whose cost is Σ_t |posting(t)|² — measured
    12 s at sf0.1 on this fixture because a 31-word vocabulary makes
    every posting list hot; ``max_df_frac`` is the stop-term cap that
    bounds it (terms in more than that fraction of docs never enter
    the vectors — see tfidf_top_terms; the hottest postings are
    exactly what Σ|posting|² is quadratic in), the same Σ|cell|²
    discipline as every blocked operator here. Weights are the
    6dp-rounded tfidf values (identical in both engines); dots and
    norms accumulate 9dp-rounded terms through DECIMAL so no float
    reduction depends on order."""
    from yamr_spark.materialize import materialize

    # the truncated vector table has THREE consumers (norms, query side,
    # posting side) and norms two — without barriers each replays the
    # whole TF-IDF pass (tokenize, tf, df, window top-n). vec is
    # top_n rows/doc (~tens of B/doc), the scale-safe unit.
    vec = materialize(
        tfidf_top_terms(docs, top_n=top_n, max_df_frac=max_df_frac).select(
            "doc_id", "token", F.col("tfidf").alias("w")
        )
    )
    dec = lambda c: F.sum(
        F.expr(f"cast(round({c}, 9) as decimal(28,9))")
    )
    norms = materialize(
        vec.groupBy("doc_id").agg(
            F.sqrt(dec("w * w").cast("double")).alias("nrm")
        )
    )
    qvec = vec if num_queries is None else vec.where(
        F.col("doc_id") < num_queries
    )
    a = qvec.alias("a").join(norms.withColumnRenamed("doc_id", "a_id"),
                             F.col("a.doc_id") == F.col("a_id"))
    b = vec.alias("b").join(
        norms.withColumnRenamed("doc_id", "b_id").withColumnRenamed("nrm", "nrm_b"),
        F.col("b.doc_id") == F.col("b_id"),
    )
    pair_pred = (
        (F.col("a.doc_id") < F.col("b.doc_id"))
        if num_queries is None
        else (F.col("a.doc_id") != F.col("b.doc_id"))
    )
    pairs = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & pair_pred)
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("nrm").alias("na"),
            F.col("nrm_b").alias("nb"),
        )
        .agg(dec("a.w * b.w").alias("dot"))
    )
    sim = F.round(F.col("dot").cast("double") / (F.col("na") * F.col("nb")), 6)
    return (
        pairs.select("doc_a", "doc_b", sim.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def cms_point_estimates(
    df: DataFrame, col: str, n_probes: int = 10, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count–Min sketch point-frequency estimates (Cormode & Muthu-
    krishnan, J. Algorithms 2005) — the frequency-counting member of
    the engine's mergeable-sketch family (KMV does distincts, CMS does
    counts): ``depth`` independent hash rows of ``width`` counters
    each; a key's estimate is the MIN of its ``depth`` bucket counts,
    which can only OVER-estimate (collisions add, never subtract).

    The probe set is the ``n_probes`` smallest distinct values
    (deterministic, data-derived). Each probe row reports the exact
    count alongside the sketch estimate plus the structural
    ``never_underestimates`` invariant — like the approx_aggregates
    error bands, the approximation's guarantee is checked IN the query,
    so the driver's exact content hash certifies it. Every bucket
    placement is md5-derived (hash60 of a row-salted key), so the
    DuckDB oracle replays the identical sketch.

    Scale plan: building the sketch is one map-side explode (x depth)
    into a partial-aggregated groupBy whose key space is AT MOST
    depth x width cells — the shuffle carries <= d*w rows per map
    partition regardless of corpus size, and two shards' sketches merge
    by cell-wise addition (how the same shape runs as a partial
    aggregate over 100 TB). Point lookups broadcast the sketch: the
    build side is d*w rows BY CONSTRUCTION, independent of the data —
    the broadcast is justified by a structural bound, unlike a
    corpus-derived vocabulary table (see the unigram/bigram LM scorers,
    which deliberately do NOT force-broadcast)."""
    vals = df.where(F.col(col).isNotNull()).select(
        F.col(col).alias("probe_val"), F.col(col).cast("string").alias("k")
    )
    sketch = cms_sketch(df, col, depth=depth, width=width)
    probes = (
        vals.select("probe_val").distinct().orderBy("probe_val").limit(n_probes)
    )
    exact = (
        vals.join(F.broadcast(probes), "probe_val")
        .groupBy("probe_val")
        .agg(F.count("*").alias("exact_cnt"))
    )
    est = cms_estimates(sketch, probes, "probe_val", depth=depth, width=width)
    return (
        exact.join(est, "probe_val")
        .select(
            F.col("probe_val"),
            F.col("exact_cnt"),
            F.col("cms_est"),
            (F.col("cms_est") >= F.col("exact_cnt")).alias("never_underestimates"),
        )
    )


def _cms_bucket(key_str_col, i_col, width: int):
    from yamr_spark.functions import hash60

    return F.pmod(
        hash60(F.concat(i_col.cast("string"), F.lit(":"), key_str_col)),
        F.lit(width),
    )


def cms_sketch(
    df: DataFrame, col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """The raw CMS cell table ``(i, bucket, cnt)`` for one input slice —
    at most depth x width rows by construction. Cells are ADDITIVE:
    the sketch of a union is the cell-wise sum of the slices' sketches
    (the mergeability the streaming maintainer and shard-parallel
    builds rely on)."""
    if depth < 1 or not 2 <= width <= (1 << 20):
        raise ValueError(f"bad sketch shape: depth={depth}, width={width}")
    rows = F.array(*[F.lit(i) for i in range(depth)])
    cells = (
        df.where(F.col(col).isNotNull())
        .select(F.explode(rows).alias("i"), F.col(col).cast("string").alias("k"))
        .select("i", _cms_bucket(F.col("k"), F.col("i"), width).alias("bucket"))
    )
    return cells.groupBy("i", "bucket").agg(F.count("*").alias("cnt"))


def cms_estimates(
    sketch: DataFrame,
    probes: DataFrame,
    probe_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-frequency lookups against a built sketch: min over the
    ``depth`` bucket counts. The sketch broadcast is justified by its
    STRUCTURAL depth x width size bound (never corpus-derived)."""
    rows = F.array(*[F.lit(i) for i in range(depth)])
    probe_cells = probes.select(probe_col, F.explode(rows).alias("i")).withColumn(
        "bucket",
        _cms_bucket(F.col(probe_col).cast("string"), F.col("i"), width),
    )
    # LEFT join: an (i, bucket) cell absent from the sketch means that
    # counter is 0, so a never-seen probe value estimates 0 instead of
    # silently min-ing over only its collided rows.
    return (
        probe_cells.join(F.broadcast(sketch), ["i", "bucket"], "left")
        .groupBy(probe_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)).cast("long")).alias("cms_est"))
    )


def heavy_hitters_exact(docs: DataFrame, k: int = 200) -> DataFrame:
    """EXACT heavy hitters — every term with frequency strictly above
    N/k — via the classic two-pass candidate/recheck plan (the
    deterministic-exact cousin of Misra-Gries/SpaceSaving summaries):

    Pass 1 (candidates): each Arrow batch counts its own terms locally
    and emits only those exceeding the batch-local threshold
    cnt·k > n_batch. Pigeonhole guarantees NO FALSE NEGATIVES: if a
    term's count were ≤ n_s/k in every slice s, its total would be
    ≤ N/k — so a global heavy hitter beats the threshold in at least
    one slice. Each slice emits < k rows, so the candidate table is
    bounded by slices × k regardless of vocabulary size.

    Pass 2 (recheck): the candidate set collapses to its ≤ m hash-BUCKET
    set (the bloom_prefiltered_semi_join discipline — bounded by the
    CONSTANT m, never by data, so the broadcast is structurally
    justified), which prefilters the token stream map-side; the
    survivors partial-aggregate and face the exact global filter
    cnt·k > N. That filter ALONE is exact: a bucket-collision term that
    passed the prefilter either fails the threshold (dropped) or is a
    true global heavy hitter — and pigeonhole says every true hitter
    was already a candidate, so nothing new can appear and nothing real
    can be missed.

    Why not force-broadcast the candidate TERMS instead: candidates are
    corpus-derived (slices × k — adversarial slices can each nominate
    ~k distinct terms), so at 100 TB that broadcast is the LM-scorer
    OOM, and falling back to an unhinted join re-shuffles the ENTIRE
    token stream the moment AQE stops broadcasting (measured: 26.5× at
    16× data before this form; ~linear after). Why not just word_count
    + filter: that shuffles the whole distinct vocabulary (the tail is
    most of a 100 TB corpus's shuffle volume) to answer a < k-term
    question — here the tail dies map-side at the bucket prefilter.
    The candidate pass is Arrow-batched pandas value_counts
    (vectorized, no per-row Python)."""
    from yamr_spark.functions import hash60
    from yamr_spark.materialize import materialize

    m = 65536
    toks = _docs(docs).select(F.explode(_tokens_col()).alias("term"))

    # one Arrow pass emits BOTH the batch-local candidates and the
    # batch's token total (the NULL-term row), so the corpus is scanned
    # exactly twice — this pass and the recheck; a separate count(*)
    # aggregate was a third full tokenize+explode (review r09 finding).
    # The summary is materialized because two consumers (bucket set,
    # total) read it; it is bounded by slices x k rows.
    def _scan(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vc = pdf["term"].value_counts()
            cand = vc[vc * k > len(pdf)]
            yield pd.DataFrame(
                {
                    "term": list(cand.index) + [None],
                    "n": [0] * len(cand) + [len(pdf)],
                }
            )

    summary = materialize(toks.mapInPandas(_scan, "term string, n long"))
    cand_buckets = (
        summary.where(F.col("term").isNotNull())
        .select(F.pmod(hash60(F.col("term")), F.lit(m)).alias("__b"))
        .distinct()
    )
    tot = summary.agg(F.sum("n").alias("n"))
    return (
        toks.join(
            F.broadcast(cand_buckets),
            F.pmod(hash60(F.col("term")), F.lit(m)) == F.col("__b"),
            "left_semi",
        )
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .where(F.col("cnt") * k > F.col("n"))
        .select(
            "term",
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("freq"),
        )
    )
