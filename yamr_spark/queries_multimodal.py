"""Multimodal-column queries over the documents table (north-star §7.5).

The metadata path is fully SQL-expressible (DuckDB oracles: encode/
octet_length/sha256); the decode/resize/frame paths run through the
Arrow-batched python seam and get the rows-only check — the unit tests
(tests/test_multimodal.py) pin their exact values on goldens instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from yamr_spark.materialize import materialize, shared
from yamr_spark.operators.multimodal import (
    decode_image_stats,
    frame_signatures,
    resize_thumbnail,
    sample_frames,
    with_binary_payload,
)
from yamr_spark.registry import register
from yamr_spark.tables import table


def _payload(spark, sf_dir):
    return with_binary_payload(table(spark, sf_dir, "documents"))


def _sigs_shared(spark, sf_dir, frame=32, n_frames=8, qstep=4096):
    """Frame-signature table shared by the acoustic/video dedup family
    (audio fingerprint, audio shift, video shift): ONE ASCII-gated
    corpus scan + symbol build per parameter set."""
    return shared(
        spark, "frame_sigs", (sf_dir, frame, n_frames, qstep),
        lambda: materialize(
            frame_signatures(
                table(spark, sf_dir, "documents"), frame, n_frames, qstep
            )
        ),
    )


@register(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           sha256(text) AS sha256,
           'application/octet-stream' AS mime
    FROM documents
    """,
)
def q_multimodal_meta(spark, sf_dir):
    """Metadata-only projection over binary payloads — parquet column
    pruning means the payload bytes are derived but the pattern under
    test is: filters/selects on meta never deserialize payload in python."""
    return _payload(spark, sf_dir).select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.sha256").alias("sha256"),
        F.col("meta.mime").alias("mime"),
    )


@register(
    "multimodal_large_assets",
    oracle="""
    SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes
    FROM documents
    WHERE octet_length(encode(text)) > 512
    """,
)
def q_multimodal_large_assets(spark, sf_dir):
    """Metadata predicate (size filter) — the asset-triage query shape."""
    return (
        _payload(spark, sf_dir)
        .where(F.col("meta.n_bytes") > 512)
        .select("doc_id", F.col("meta.n_bytes").alias("n_bytes"))
    )


# The decode fake views the UTF-8 payload as a 64-wide uint8 image
# (truncated ragged tail; <64-byte payloads become a 1×L image). The
# fixture text is pure ASCII, so ascii(substr(text, i+1, 1)) IS byte i —
# which makes the whole decode/resize/frame family closed-form SQL.
_DIM_CTE = """
dim AS (
  SELECT doc_id, text, octet_length(encode(text)) AS L,
         CASE WHEN octet_length(encode(text)) >= 64
              THEN 64 ELSE octet_length(encode(text)) END AS width,
         CASE WHEN octet_length(encode(text)) >= 64
              THEN octet_length(encode(text)) // 64 ELSE 1 END AS height
  FROM documents
)
"""


@register(
    "multimodal_decode_stats",
    oracle=f"""
    WITH {_DIM_CTE},
    px AS (
      SELECT doc_id, width, height,
             ascii(substr(text, CAST(unnest(range(width * height)) AS INT) + 1, 1)) AS v
      FROM dim
    )
    SELECT doc_id, CAST(MIN(width) AS INT) AS width,
           CAST(MIN(height) AS INT) AS height,
           -- SUM(v) is HUGEINT: moments stay EXACT integers (no BIGINT
           -- overflow at ~3.4M pixels — ADVICE r10), each side of the
           -- division casts to DOUBLE once, mirroring the python side's
           -- float(num)/float(den)
           CAST(SUM(v) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mean_px,
           sqrt(CAST(COUNT(*) * SUM(v * v) - SUM(v) * SUM(v) AS DOUBLE)
                / CAST(CAST(COUNT(*) AS HUGEINT) * COUNT(*) AS DOUBLE))
             AS std_px
    FROM px GROUP BY doc_id
    """,
)
def q_multimodal_decode(spark, sf_dir):
    """Decode seam: per-image shape + pixel stats via mapInPandas. The
    oracle replays the fake decode byte-for-byte in SQL; both sides
    compute mean/std from exact integer pixel sums (Σv, Σv²) so the
    closed form is one IEEE division + sqrt — bit-identical across
    engines (numpy.std vs stddev_pop diverged in the last ulp)."""
    return decode_image_stats(_payload(spark, sf_dir))


@register(
    "multimodal_thumbnails",
    oracle=f"""
    WITH {_DIM_CTE},
    grid AS (
      SELECT doc_id, text, width, height,
             CAST(unnest(range(64)) AS INT) AS g
      FROM dim
    ),
    samp AS (
      SELECT doc_id, g,
             ascii(substr(
               text,
               ((g // 8) * (height - 1) // 7) * width
                 + ((g % 8) * (width - 1) // 7) + 1,
               1)) AS v
      FROM grid
    )
    SELECT doc_id,
           string_agg(lpad(to_hex(v), 2, '0'), '' ORDER BY g) AS thumb_hex,
           CAST(COUNT(*) AS INT) AS thumb_len,
           CAST(8 AS INT) AS thumb_w, CAST(8 AS INT) AS thumb_h
    FROM samp GROUP BY doc_id
    """,
)
def q_multimodal_thumbnails(spark, sf_dir):
    """Resize seam: 8×8 nearest-neighbor thumbnails. Sample position
    j·(dim−1)//7 is exact integer arithmetic, so the oracle rebuilds the
    identical 64 bytes with string_agg(to_hex). The REGISTERED query
    projects hex(thumb)+length (the driver's canonicalizer cannot hash
    raw binary columns — pandas factorize dies on bytearray); the
    operator itself stays binary-in/binary-out."""
    return resize_thumbnail(_payload(spark, sf_dir)).select(
        "doc_id",
        F.hex("thumb").alias("thumb_hex"),
        F.octet_length("thumb").cast("int").alias("thumb_len"),
        "thumb_w",
        "thumb_h",
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           hex(encode(substr(text, CAST(i AS INT) * 256 + 1, 256))) AS frame_hex,
           CAST(octet_length(encode(substr(text, CAST(i AS INT) * 256 + 1, 256)))
                AS INT) AS frame_len
    FROM documents,
         (SELECT unnest(range(0, 64, 4)) AS i)
    WHERE i < octet_length(encode(text)) // 256
    """,
)
def q_multimodal_frames(spark, sf_dir):
    """Frame-sampling seam: payload → every-4th fixed-size frame (1→N).
    Frames are contiguous byte slices of ASCII text, so the oracle is
    hex(encode(substr(...))) over the stride-4 frame index range. The
    REGISTERED query projects hex(frame)+length so the driver can hash
    it (its canonicalizer cannot sort raw binary); the operator itself
    stays binary-in/binary-out."""
    return sample_frames(_payload(spark, sf_dir)).select(
        "doc_id",
        "frame_idx",
        F.hex("frame").alias("frame_hex"),
        F.octet_length("frame").cast("int").alias("frame_len"),
    )


@register(
    "multimodal_frame_counts",
    oracle="""
    SELECT doc_id,
           CAST((octet_length(encode(text)) // 256 + 3) // 4 AS BIGINT) AS n_frames
    FROM documents
    WHERE octet_length(encode(text)) // 256 > 0
    """,
)
def q_multimodal_frame_counts(spark, sf_dir):
    """Frame-sampling cardinality, oracle-checked: every-4th 256-byte
    frame → ceil(n_frames/4) rows per doc. Pins the mapInPandas UDTF's
    1→N fan-out against closed-form arithmetic (the frame BYTES stay
    rows-only; the COUNT is exact)."""
    frames = sample_frames(_payload(spark, sf_dir), frame_bytes=256, every_k=4)
    return frames.groupBy("doc_id").agg(F.count("*").alias("n_frames"))


@register(
    "modality_interleave",
    oracle="""
    WITH tagged AS (
      SELECT doc_id,
             ('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS k
      FROM documents
    ),
    modal AS (
      SELECT doc_id, k,
             CASE WHEN k % 4 = 0 THEN 'image' ELSE 'text' END AS modality
      FROM tagged
    ),
    assigned AS (
      SELECT modality,
             (ROW_NUMBER() OVER (PARTITION BY modality ORDER BY k) - 1)
               // (CASE WHEN modality = 'image' THEN 2 ELSE 6 END) AS batch_id
      FROM modal
    )
    SELECT batch_id,
           CAST(SUM(CASE WHEN modality = 'text' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_text,
           CAST(SUM(CASE WHEN modality = 'image' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_image,
           (SUM(CASE WHEN modality = 'text' THEN 1 ELSE 0 END) = 6 AND
            SUM(CASE WHEN modality = 'image' THEN 1 ELSE 0 END) = 2) AS complete
    FROM assigned
    GROUP BY batch_id
    """,
)
def q_modality_interleave(spark, sf_dir):
    """Fixed-ratio (6 text : 2 image) training-batch assembly from a
    hash-tagged modality split, dealt in reproducible hash60 order —
    batch composition is a pure function of the corpus, so the batch
    plan itself is content-hash-checked."""
    from yamr_spark.operators.multimodal import modality_interleave

    return modality_interleave(table(spark, sf_dir, "documents"))


@register(
    "audio_frame_energy",
    oracle="""
    WITH dim AS (
      SELECT doc_id, text, octet_length(encode(text)) AS L FROM documents
    ),
    fr AS (
      SELECT doc_id, text, unnest(range(L // 64)) AS i
      FROM dim WHERE L >= 64
    ),
    samp AS (
      SELECT doc_id, i,
             ascii(substr(text, CAST(i * 64 AS INT) + CAST(s AS INT) + 1, 1)) AS v
      FROM fr, (SELECT unnest(range(64)) AS s)
    )
    SELECT doc_id, CAST(i AS INT) AS frame_idx, CAST(64 AS INT) AS n_samples,
           ROUND(sqrt(SUM(CAST(v AS DOUBLE) * v) / 64), 6) AS rms
    FROM samp GROUP BY doc_id, i
    """,
)
def q_audio_frame_energy(spark, sf_dir):
    """Audio seam: payload as uint8 PCM → 64-sample frames → per-frame
    RMS energy via mapInPandas; the oracle replays the byte arithmetic
    (ASCII text ⇒ ascii(char) = sample) — sums of ≤64 integer squares
    are exact in double, so numpy and SQL agree before the round."""
    from yamr_spark.operators.multimodal import audio_frame_energy

    return audio_frame_energy(_payload(spark, sf_dir))


@register(
    "multimodal_ahash_near_dup",
    oracle=f"""
    WITH {_DIM_CTE},
    grid AS (
      SELECT doc_id, text, width, height,
             CAST(unnest(range(64)) AS INT) AS g
      FROM dim WHERE NOT regexp_matches(text, '[^\\x00-\\x7F]')
    ),
    samp AS (
      SELECT doc_id, g,
             ascii(substr(
               text,
               ((g // 8) * (height - 1) // 7) * width
                 + ((g % 8) * (width - 1) // 7) + 1,
               1)) AS v
      FROM grid
    ),
    px AS (
      SELECT doc_id, array_agg(v ORDER BY g) AS pxs FROM samp GROUP BY doc_id
    ),
    hashes AS MATERIALIZED (
      SELECT doc_id,
             list_transform(range(4), b ->
               list_sum(list_transform(range(16), j ->
                 CASE WHEN pxs[b * 16 + j + 1] > list_sum(pxs) / 64.0
                      THEN (1 << j) ELSE 0 END))) AS bands
      FROM px
    ),
    stream AS (
      SELECT doc_id, CAST(t.b AS INT) AS b, bands[t.b + 1] AS band_val
      FROM hashes CROSS JOIN (SELECT unnest(range(4)) AS b) t
    ),
    cold AS (
      SELECT b, band_val FROM stream GROUP BY b, band_val
      HAVING COUNT(*) <= 100
    ),
    cand AS (
      SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
      FROM stream s1
      JOIN cold c ON c.b = s1.b AND c.band_val = s1.band_val
      JOIN stream s2 ON s2.b = s1.b AND s2.band_val = s1.band_val
                     AND s1.doc_id < s2.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT c.doc_a, c.doc_b,
             CAST(list_sum(list_transform(range(4), i ->
               bit_count(xor(ha.bands[i + 1], hb.bands[i + 1])))) AS BIGINT)
               AS hamming
      FROM cand c
      JOIN hashes ha ON ha.doc_id = c.doc_a
      JOIN hashes hb ON hb.doc_id = c.doc_b
    ) t WHERE hamming <= 3
    """,
)
def q_multimodal_ahash_near_dup(spark, sf_dir):
    """Perceptual image near-dup (multimodal dedup): 64-bit average-hash
    over the SAME 8×8 nearest-neighbor grid the thumbnail seam samples
    (exact integer arithmetic), 4×16-bit LSH bands with the pigeonhole
    guarantee (Hamming ≤ 3 ⇒ some band identical — total recall among
    un-capped buckets), bucket cap 100 as the skew lever, exact Hamming
    verify from band ints (bit_count of xor; pixels never shuffle)."""
    from yamr_spark.operators.multimodal import image_ahash_near_dup

    return image_ahash_near_dup(table(spark, sf_dir, "documents"))


@register(
    "multimodal_audio_fingerprint_dedup",
    oracle="""
    WITH clips AS (
      SELECT doc_id, text FROM documents
      WHERE octet_length(encode(text)) >= 256
        AND NOT regexp_matches(text, '[^\\x00-\\x7F]')
    ),
    sigs AS MATERIALIZED (
      SELECT doc_id,
             list_transform(range(8), f ->
               list_sum(list_transform(range(32), k ->
                 ascii(substr(text, f * 32 + k + 1, 1))
                 * ascii(substr(text, f * 32 + k + 1, 1)))) // 4096) AS syms
      FROM clips
    ),
    banded AS (
      SELECT doc_id,
             list_transform(range(4), b ->
               syms[2 * b + 1] * 127 + syms[2 * b + 2]) AS bands,
             syms
      FROM sigs
    ),
    stream AS (
      SELECT doc_id, CAST(t.b AS INT) AS b, bands[t.b + 1] AS band_val
      FROM banded CROSS JOIN (SELECT unnest(range(4)) AS b) t
    ),
    cold AS (
      SELECT b, band_val FROM stream GROUP BY b, band_val
      HAVING COUNT(*) <= 100
    ),
    cand AS (
      SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
      FROM stream s1
      JOIN cold c ON c.b = s1.b AND c.band_val = s1.band_val
      JOIN stream s2 ON s2.b = s1.b AND s2.band_val = s1.band_val
                     AND s1.doc_id < s2.doc_id
    )
    SELECT doc_a, doc_b, frames_diff FROM (
      SELECT c.doc_a, c.doc_b,
             CAST(list_sum(list_transform(range(8), i ->
               CASE WHEN sa.syms[i + 1] = sb.syms[i + 1] THEN 0 ELSE 1 END))
               AS BIGINT) AS frames_diff
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
    ) t WHERE frames_diff <= 2
    """,
)
def q_multimodal_audio_fingerprint_dedup(spark, sf_dir):
    """Acoustic-fingerprint near-dup over the audio seam: 8 coarse
    integer frame-energy symbols per clip ((Σ byte²) div 4096 — pure
    integer, no float rounding anywhere), 4 two-symbol pigeonhole bands
    (≤ 2 differing frames ⇒ some band identical), bucket cap 100,
    exact differing-frame verify from the signature arrays."""
    from yamr_spark.operators.multimodal import audio_fingerprint_near_dup

    return audio_fingerprint_near_dup(
        table(spark, sf_dir, "documents"), sigs=_sigs_shared(spark, sf_dir)
    )


@register(
    "multimodal_video_shift_dedup",
    oracle="""
    WITH clips AS (
      SELECT doc_id, text FROM documents
      WHERE octet_length(encode(text)) >= 256
        AND NOT regexp_matches(text, '[^\\x00-\\x7F]')
    ),
    sigs AS MATERIALIZED (
      SELECT doc_id,
             list_transform(range(8), f ->
               list_sum(list_transform(range(32), k ->
                 ascii(substr(text, f * 32 + k + 1, 1))
                 * ascii(substr(text, f * 32 + k + 1, 1)))) // 4096) AS syms
      FROM clips
    ),
    stream AS (
      SELECT DISTINCT doc_id, sym FROM (
        SELECT doc_id, unnest(syms) AS sym FROM sigs
      )
    ),
    rare AS (
      SELECT sym FROM stream GROUP BY sym HAVING COUNT(*) <= 50
    ),
    cand AS (
      SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
      FROM stream s1
      JOIN rare r ON r.sym = s1.sym
      JOIN stream s2 ON s2.sym = s1.sym AND s1.doc_id < s2.doc_id
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             CAST(list_sum(list_transform(range(8), i ->
               CASE WHEN sa.syms[i + 1] = sb.syms[i + 1] THEN 1 ELSE 0 END))
               AS BIGINT) AS m0,
             CAST(list_sum(list_transform(range(7), i ->
               CASE WHEN sa.syms[i + 2] = sb.syms[i + 1] THEN 1 ELSE 0 END))
               AS BIGINT) AS mn,
             CAST(list_sum(list_transform(range(7), i ->
               CASE WHEN sa.syms[i + 1] = sb.syms[i + 2] THEN 1 ELSE 0 END))
               AS BIGINT) AS mp
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, greatest(m0, mn, mp) AS matches,
           CAST(CASE WHEN m0 >= greatest(mn, mp) THEN 0
                     WHEN mn >= mp THEN -1 ELSE 1 END AS BIGINT) AS shift
    FROM scored WHERE greatest(m0, mn, mp) >= 6
    """,
)
def q_multimodal_video_shift_dedup(spark, sf_dir):
    """Shift-tolerant video dedup: frame-signature sequences aligned at
    shifts {−1, 0, +1} (trimmed-intro/offset duplicates that positional
    Hamming scores 0), set-blocked candidates on rare frame symbols
    (df ≤ 50), best (matches, shift) per pair, matches ≥ 6 of 8."""
    from yamr_spark.operators.multimodal import video_shift_dedup

    return video_shift_dedup(
        table(spark, sf_dir, "documents"), sigs=_sigs_shared(spark, sf_dir)
    )


@register(
    "multimodal_audio_shift_dedup",
    oracle="""
    WITH clips AS (
      SELECT doc_id, text FROM documents
      WHERE octet_length(encode(text)) >= 256
        AND NOT regexp_matches(text, '[^\\x00-\\x7F]')
    ),
    sigs AS MATERIALIZED (
      SELECT doc_id,
             list_transform(range(8), f ->
               list_sum(list_transform(range(32), k ->
                 ascii(substr(text, f * 32 + k + 1, 1))
                 * ascii(substr(text, f * 32 + k + 1, 1)))) // 4096) AS syms
      FROM clips
    ),
    stream AS (
      SELECT DISTINCT doc_id, sym FROM (
        SELECT doc_id, unnest(syms) AS sym FROM sigs
      )
    ),
    rare AS (
      SELECT sym FROM stream GROUP BY sym HAVING COUNT(*) <= 50
    ),
    cand AS (
      SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
      FROM stream s1
      JOIN rare r ON r.sym = s1.sym
      JOIN stream s2 ON s2.sym = s1.sym AND s1.doc_id < s2.doc_id
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             CAST(list_sum(list_transform(range(8), i ->
               CASE WHEN sa.syms[i + 1] = sb.syms[i + 1] THEN 0 ELSE 1 END))
               AS BIGINT) AS d0,
             CAST(list_sum(list_transform(range(7), i ->
               CASE WHEN sa.syms[i + 2] = sb.syms[i + 1] THEN 0 ELSE 1 END))
               AS BIGINT) AS dn,
             CAST(list_sum(list_transform(range(7), i ->
               CASE WHEN sa.syms[i + 1] = sb.syms[i + 2] THEN 0 ELSE 1 END))
               AS BIGINT) AS dp
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, least(d0, dn, dp) AS frames_diff,
           CAST(CASE WHEN d0 <= least(dn, dp) THEN 0
                     WHEN dn <= dp THEN -1 ELSE 1 END AS BIGINT) AS shift
    FROM scored WHERE least(d0, dn, dp) <= 2
    """,
)
def q_multimodal_audio_shift_dedup(spark, sf_dir):
    """Shift-tolerant acoustic near-dup (VERDICT r09 #5): minimum
    differing-frame count over alignments {−1, 0, +1} ≤ 2 — catches
    the one-frame-trim duplicates the positional fingerprint scores
    ~8/8 different. Same symbol builder as the audio/video paths, same
    shared set-blocked candidate stage (rare-symbol df ≤ 50)."""
    from yamr_spark.operators.multimodal import audio_shift_near_dup

    return audio_shift_near_dup(
        table(spark, sf_dir, "documents"), sigs=_sigs_shared(spark, sf_dir)
    )
