"""Multimodal queries: binary payload columns + typed metadata.

Spark side operates on real `binary` columns (UTF-8 payload bytes derived
from `documents.text`); the DuckDB oracle operates on the varchar twin —
the payloads are pure ASCII (asserted by the n_bytes == length checks), so
byte-level and char-level computations coincide exactly and every query
remains hash-checkable.

q_media_decode's metadata arm (r11 fold of the former q_media_metadata)
exercises the JVM-side path (metadata queries must never touch payload
bytes); its image/audio arms and q_media_frames exercise the Arrow
`mapInPandas` path — the decode arms through a REAL pure-Python
binary-PPM decoder over JVM-built valid image payloads
(operators/multimodal.py::decode_ppm), q_media_frames through the
keyframe-sampling slicer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentinela_py_spark.barrier import barrier

from sentinela_py_spark.operators.dedup import hamming_band_pairs, signature_bands
from sentinela_py_spark.operators.multimodal import (
    AFP_FRAMES,
    AFP_GAIN_ID_OFFSET,
    AFP_MIN_SAMPLES,
    AFP_NOISE_ID_OFFSET,
    AFP_RATE_ID_OFFSET,
    DHASH_BAND_BITS,
    DHASH_BANDS,
    DHASH_COLS,
    DHASH_ROWS,
    audio_fingerprint,
    documents_to_dedup_wavs,
    FRAME_LEN,
    FRAME_STRIDE,
    IMG_DEDUP_H_MOD,
    IMG_DEDUP_MIN,
    IMG_DEDUP_W_MOD,
    _CHARSET,
    _CHARSET_PLUS1,
    _VOWELS,
    _VOWELS_PLUS1,
    BRIGHT_ID_OFFSET,
    NOISE_ID_OFFSET,
    audio_features,
    documents_to_dedup_images,
    documents_to_images,
    documents_to_media,
    documents_to_wavs,
    image_dhash,
    image_dhash_both,
    image_dhash_wide,
    media_pixel_features,
    sample_frames,
    WIDE_DHASH_BAND_BITS,
    WIDE_DHASH_BANDS,
    WIDE_DHASH_COLS,
    WIDE_DHASH_ROWS,
)
from sentinela_py_spark.plans.registry import register, register_arms, sorted_arm
from sentinela_py_spark.tables import load_table


def _media_metadata_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The metadata arm of q_media_decode (r11 fold — former
    q_media_metadata, SURVEY §8 fold map #4): metadata + checksum scan,
    all JVM-side (encode/octet_length/md5 are codegen'd built-ins). At
    scale this plan prunes to the scanned columns only — the binary
    payload is read for md5 but no Python is involved (the one arm of
    the query that must never enter a pandas UDF)."""
    d = load_table(spark, sf_dir, "documents")
    m = documents_to_media(d)
    null_int = F.lit(None).cast("int")
    return m.select(
        F.lit("metadata").alias("kind"),
        "doc_id",
        "media_type",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        null_int.alias("sample_rate"),
        F.col("meta.n_frames").alias("n_frames"),
        F.lit(None).cast("long").alias("n_values"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.lit(None).cast("long").alias("sum_values"),
        null_int.alias("min_value"),
        null_int.alias("max_value"),
        F.lit(None).cast("double").alias("mean_value"),
        F.md5("payload").alias("data_md5"),
    )


_PIX_SQL = "list_transform(generate_series(1, length(pix)), i -> ascii(pix[i]))"


_TXT_SQL = "list_transform(generate_series(1, length(text)), i -> ascii(text[i]))"


@register(
    "q_media_decode",
    oracle=f"""
    WITH img AS (
      SELECT doc_id,
             CAST(doc_id % 8 + 2 AS INT) AS width,
             CAST(doc_id % 6 + 2 AS INT) AS height,
             'P6' || chr(10) || (doc_id % 8 + 2) || ' ' || (doc_id % 6 + 2) || chr(10) || '255' || chr(10) AS hdr,
             rpad(text, CAST((doc_id % 8 + 2) * (doc_id % 6 + 2) * 3 AS INT), text) AS pix
      FROM documents
    )
    SELECT 'image' AS kind, doc_id,
           CAST(NULL AS VARCHAR) AS media_type, width, height,
           CAST(NULL AS INT) AS sample_rate,
           CAST(NULL AS INT) AS n_frames,
           CAST(length(pix) AS BIGINT) AS n_values,
           CAST(length(hdr || pix) AS BIGINT) AS n_bytes,
           CAST(list_sum({_PIX_SQL}) AS BIGINT) AS sum_values,
           CAST(list_min({_PIX_SQL}) AS INT) AS min_value,
           CAST(list_max({_PIX_SQL}) AS INT) AS max_value,
           ROUND(CAST(list_sum({_PIX_SQL}) AS DOUBLE) / length(pix), 6) AS mean_value,
           md5(pix) AS data_md5
    FROM img
    UNION ALL
    SELECT 'audio' AS kind, doc_id,
           CAST(NULL AS VARCHAR) AS media_type,
           CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
           CAST((doc_id % 3 + 1) * 8000 AS INT) AS sample_rate,
           CAST(NULL AS INT) AS n_frames,
           CAST(length(text) AS BIGINT) AS n_values,
           CAST(length(text) + 44 AS BIGINT) AS n_bytes,
           CAST(list_sum({_TXT_SQL}) AS BIGINT) AS sum_values,
           CAST(list_min({_TXT_SQL}) AS INT) AS min_value,
           CAST(list_max({_TXT_SQL}) AS INT) AS max_value,
           ROUND(CAST(list_sum({_TXT_SQL}) AS DOUBLE) / length(text), 6) AS mean_value,
           md5(text) AS data_md5
    FROM documents
    UNION ALL
    SELECT 'metadata' AS kind, doc_id,
           (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
           16 * (CAST(doc_id % 64 AS INT) + 1) AS width,
           9 * (CAST(doc_id % 64 AS INT) + 1) AS height,
           CAST(NULL AS INT) AS sample_rate,
           CAST(CEIL(octet_length(encode(text)) / 64.0) AS INT) AS n_frames,
           CAST(NULL AS BIGINT) AS n_values,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(NULL AS BIGINT) AS sum_values,
           CAST(NULL AS INT) AS min_value,
           CAST(NULL AS INT) AS max_value,
           CAST(NULL AS DOUBLE) AS mean_value,
           md5(text) AS data_md5
    FROM documents
    ORDER BY kind, doc_id
    """,
    survey_ref=(
        "multimodal: REAL decode, both codecs — JVM-built binary PPM images parsed by "
        "operators/multimodal.py::decode_ppm AND JVM-built RIFF/WAVE containers walked by "
        "decode_wav, each inside Arrow mapInPandas, integer-exact sample statistics; "
        "+ metadata arm (r11 fold of former q_media_metadata): typed-metadata scan "
        "over the binary payload column, payload untouched by Python"
    ),
    tags=("multimodal", "pandas-udf"),
)
def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal surface, three kind-tagged arms: the two REAL-decode
    arms (image/audio, Arrow mapInPandas) and the ``metadata`` arm (r11
    fold — former q_media_metadata, SURVEY §8 fold map #4: the pure
    JVM-side typed-metadata scan over the same documents table —
    `_media_metadata_arm`).

    The real decode hot path end-to-end for BOTH codecs: valid
    binary-PPM and RIFF/WAVE payloads are built JVM-side (format_string/
    rpad/encode and codegen'd little-endian header fields — no UDF at
    ingest), then the pure-Python PPM parser and WAVE chunk walker decode
    every payload inside Arrow ``mapInPandas`` and numpy computes exact
    sample statistics. The oracle rebuilds both payloads arithmetically in
    SQL (the WAVE arm checksums the decoded PCM plane, not the container —
    binary LE header bytes aren't reproducible in a varchar engine), so
    decoded dimensions/rates, byte counts, sample sums/extrema and data
    md5s are all hash-checked. Swap PIL/libav into the same UDFs for
    JPEG/MP4 on real executors — schema, batching, partition behavior
    unchanged."""
    return (
        _media_decode_arm(spark, sf_dir)
        .unionByName(_media_metadata_arm(spark, sf_dir))
        .orderBy("kind", "doc_id")
    )


def _media_decode_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image + audio REAL-decode union — the registered query's
    decode half AND the r1/r2-comparable bench arm (a DEDICATED builder
    per the r4 union-build-cost rule: the arm never pays the metadata
    branch's expression construction)."""
    d = load_table(spark, sf_dir, "documents")
    null_int = F.lit(None).cast("int")
    null_str = F.lit(None).cast("string")
    img = media_pixel_features(documents_to_images(d)).select(
        F.lit("image").alias("kind"),
        "doc_id",
        null_str.alias("media_type"),
        "width",
        "height",
        null_int.alias("sample_rate"),
        null_int.alias("n_frames"),
        F.col("n_pixel_bytes").alias("n_values"),
        "n_bytes",
        F.col("sum_pixels").alias("sum_values"),
        F.col("min_pixel").alias("min_value"),
        F.col("max_pixel").alias("max_value"),
        F.col("mean_pixel").alias("mean_value"),
        "data_md5",
    )
    wav = audio_features(documents_to_wavs(d)).select(
        F.lit("audio").alias("kind"),
        "doc_id",
        null_str.alias("media_type"),
        null_int.alias("width"),
        null_int.alias("height"),
        "sample_rate",
        null_int.alias("n_frames"),
        F.col("n_samples").alias("n_values"),
        (F.col("n_samples") + 44).alias("n_bytes"),
        F.col("sum_samples").alias("sum_values"),
        F.col("min_sample").alias("min_value"),
        F.col("max_sample").alias("max_value"),
        F.round(F.col("sum_samples").cast("double") / F.col("n_samples"), 6).alias(
            "mean_value"
        ),
        "data_md5",
    )
    return img.unionByName(wav)


# sorted_arm: the dedicated builders re-pay the headline's final ORDER
# BY so COMPARABLE_ARM ratios compare like-for-like plans (r11 ADVICE).
register_arms(
    "q_media_decode",
    decode=sorted_arm(_media_decode_arm, "kind", "doc_id"),
    metadata=sorted_arm(_media_metadata_arm, "kind", "doc_id"),
)


# ---------------------------------------------------------------------------
# Image perceptual-hash near-dup dedup (r12, r11 verdict #1): the
# multimodal member of the dedup family — dHash over decoded PPMs +
# the shared Hamming-band LSH join. Banded, never all-pairs.
# ---------------------------------------------------------------------------

IMG_NEARDUP_MAX_HAMMING = 3  # full pigeonhole recall with 4 bands
IMG_NEARDUP_BUCKET_CAP = 64  # hot-band guard; never binds on fixtures

AUD_NEARDUP_MAX_HAMMING = 3  # full pigeonhole recall with 4 bands
AUD_NEARDUP_BUCKET_CAP = 64  # hot-band guard; never binds on fixtures


# Deterministic corpus/probe split for the image_probe arm (the same
# md5 hex-digit device as q_minhash_pairs' split — engine-identical).
_IMG_SPLIT_SQL = "substr(md5(CAST({d} AS VARCHAR)), 1, 1) < '8'"


def _wide_gray_cols_sql() -> list[str]:
    """Gray-grid column definitions for the 17×16 WIDE dHash grid —
    same nearest-neighbor offset arithmetic as the 9×8 grid, denser
    sampling (272 positions; the SQL is generated, the engines compare
    value-for-value)."""
    cols = []
    for y in range(WIDE_DHASH_ROWS):
        for x in range(WIDE_DHASH_COLS):
            off = (
                f"((({y} * h) // {WIDE_DHASH_ROWS}) * w + "
                f"(({x} * w) // {WIDE_DHASH_COLS})) * 3"
            )
            g = " + ".join(f"ascii(pix[{off} + {i}])" for i in (1, 2, 3))
            cols.append(f"{g} AS wg_{y}_{x}")
    return cols


def _wide_word_sql(word: int) -> str:
    """One signed int64 word of the 256-bit wide dHash: 64 difference
    bits at global positions [64·word, 64·word+64), bit 63's term the
    two's-complement constant −2^63 emitted LAST (positive partials
    stay under 2^63) — per-word identical to the 64-bit hash's wrap."""
    terms = []
    for j in range(64):
        pos = word * 64 + j
        y, x = divmod(pos, WIDE_DHASH_COLS - 1)
        val = -(1 << 63) if j == 63 else 1 << j
        terms.append(
            f"(CASE WHEN wg_{y}_{x} < wg_{y}_{x + 1} "
            f"THEN CAST({val} AS BIGINT) ELSE 0 END)"
        )
    return " + ".join(terms)


def _video_gray_cols_sql() -> list[str]:
    """Gray-grid columns for every sampled VIDEO frame: the 9×8 grid of
    the 64-bit dHash applied to each of the VID_SAMPLE_FRAMES per-frame
    pixel planes (``pix0``..``pix3``)."""
    from sentinela_py_spark.operators.multimodal import VID_SAMPLE_FRAMES

    cols = []
    for f in range(VID_SAMPLE_FRAMES):
        for y in range(DHASH_ROWS):
            for x in range(DHASH_COLS):
                off = (
                    f"((({y} * h) // {DHASH_ROWS}) * w + "
                    f"(({x} * w) // {DHASH_COLS})) * 3"
                )
                g = " + ".join(f"ascii(pix{f}[{off} + {i}])" for i in (1, 2, 3))
                cols.append(f"{g} AS vg{f}_{y}_{x}")
    return cols


def _video_word_sql(f: int) -> str:
    """Word ``f`` of the video signature = the 64-bit dHash of sampled
    frame ``f`` (bit y·8+x, bit 63 as the −2^63 constant emitted last —
    per-word identical to `dhash64_of`'s wrap)."""
    terms = []
    for j in range(64):
        y, x = divmod(j, DHASH_COLS - 1)
        val = -(1 << 63) if j == 63 else 1 << j
        terms.append(
            f"(CASE WHEN vg{f}_{y}_{x} < vg{f}_{y}_{x + 1} "
            f"THEN CAST({val} AS BIGINT) ELSE 0 END)"
        )
    return " + ".join(terms)


def _signature_neardup_sql() -> str:
    """DuckDB replay of the FULL perceptual-signature near-dup family
    (r14 §8 fold of q_image_neardup + q_audio_neardup, per the r13
    verdict: both modalities already shared one screen body and one
    band machinery — now they share one registry slot), four
    method-tagged arms over one generated CTE chain:

    ``image``: payload build (both planted variant families) →
    decode-equivalent 9×8 gray grid → 64-bit dHash → 4×16-bit banding →
    doc_id-ordered bucket cap → band self-join → Hamming ≤ 3 refine.
    ``image_probe``: the streaming screen's cross-corpus probe as batch
    algebra — md5-split corpus half pre-aggregated to one row per
    (band, bsig, dhash), probe half joined on the band slice and
    verified at true Hamming, the match picked ATOMICALLY as the
    lexicographic-min (hamming, corpus_doc) pair (r13 ADVICE).
    ``image_wide`` (r14, r13 verdict #1): the SAME images through the
    256-bit wide dHash — 17×16 gray grid → FOUR signed int64 words →
    the aligned 4×64 band geometry (each band IS one word; the
    `plan_hamming_config` operating point for the 10⁹-image regime) →
    cap → self-join → Hamming ≤ 3 refined as the SUM of per-word
    bit_count(xor) — replaying `operators.dedup.wide_hamming` and the
    wide `signature_bands` path end-to-end.
    ``audio``: sample build (all three planted variant families + the
    length gate) → 65 nearest-neighbor frame bounds → integer frame
    energies → cross-multiplied mean-comparison sign bits → the same
    4×16 banding/cap/self-join/refine.

    The gray grids read the pixel plane at the same nearest-neighbor
    offsets the Python decoders sample, so every hash — and therefore
    every pair — is value-checked end-to-end. Bit 63 of every
    signature word is the two's-complement constant −2^63 (emitted
    LAST in the sum, so positive partial sums stay under 2^63),
    matching the signers' signed wrap; band slicing masks after the
    arithmetic shift, which reads the same bit pattern on both
    engines."""
    cs = _CHARSET.replace("'", "''")
    cs1 = _CHARSET_PLUS1.replace("'", "''")
    w_sql = f"(bid % {IMG_DEDUP_W_MOD} + {IMG_DEDUP_MIN})"
    h_sql = f"(bid % {IMG_DEDUP_H_MOD} + {IMG_DEDUP_MIN})"
    gray_cols = []
    for y in range(DHASH_ROWS):
        for x in range(DHASH_COLS):
            off = f"((({y} * h) // {DHASH_ROWS}) * w + (({x} * w) // {DHASH_COLS})) * 3"
            g = " + ".join(f"ascii(pix[{off} + {i}])" for i in (1, 2, 3))
            gray_cols.append(f"{g} AS g_{y}_{x}")
    bit_terms = []
    for y in range(DHASH_ROWS):
        for x in range(DHASH_COLS - 1):
            pos = y * 8 + x
            val = -(1 << 63) if pos == 63 else 1 << pos
            bit_terms.append(
                f"(CASE WHEN g_{y}_{x} < g_{y}_{x + 1} "
                f"THEN CAST({val} AS BIGINT) ELSE 0 END)"
            )
    bits = " + ".join(bit_terms)
    band_list = ",".join(str(i) for i in range(DHASH_BANDS))
    bmask = (1 << DHASH_BAND_BITS) - 1
    probe_ham = "bit_count(xor(b.dhash, s.c_dhash))"
    # audio arm parts (chromaprint-shaped frame-energy fingerprint)
    nf = AFP_FRAMES
    gate = f"length(text) >= {AFP_MIN_SAMPLES}"
    a_bitval = (
        "CASE WHEN a.f = 63 THEN CAST(-9223372036854775808 AS BIGINT) "
        "ELSE (CAST(1 AS BIGINT) << a.f) END"
    )
    # wide arm parts (256-bit dHash, aligned 4×64 banding)
    wgray_cols = _wide_gray_cols_sql()
    wwords = [f"CAST({_wide_word_sql(i)} AS BIGINT) AS w{i}" for i in range(4)]
    wband_case = (
        "CASE band WHEN 0 THEN w0 WHEN 1 THEN w1 WHEN 2 THEN w2 ELSE w3 END"
    )
    wham = " + ".join(f"bit_count(xor(a{i}, b{i}))" for i in range(4))
    # video arm parts (per-frame dHash words over the SAME imgsrc
    # families — frame f's pixel source is the text rotated by f chars)
    from sentinela_py_spark.operators.multimodal import VID_SAMPLE_FRAMES

    def _rot(f: int) -> str:
        return f"(substr(t, {f + 1}) || substr(t, 1, {f}))" if f else "t"

    vpix = [
        f"rpad({_rot(f)}, CAST({w_sql} * {h_sql} * 3 AS INT), {_rot(f)}) AS pix{f}"
        for f in range(VID_SAMPLE_FRAMES)
    ]
    vgray_cols = _video_gray_cols_sql()
    vwords = [
        f"CAST({_video_word_sql(f)} AS BIGINT) AS w{f}"
        for f in range(VID_SAMPLE_FRAMES)
    ]
    vmd5 = "md5(" + " || ".join(f"pix{f}" for f in range(VID_SAMPLE_FRAMES)) + ")"
    nl = ",\n             "
    return f"""
    WITH imgsrc AS (
      -- explicit BIGINT cast for documentation parity with the other
      -- oracles (DuckDB widens set-op columns across all branches)
      SELECT doc_id AS bid, text AS t, CAST(0 AS BIGINT) AS shift FROM documents
      WHERE length(text) > 0
      UNION ALL
      SELECT doc_id, translate(text, '{cs}', '{cs1}'), {BRIGHT_ID_OFFSET}
      FROM documents WHERE doc_id % 16 = 0 AND length(text) > 0
      UNION ALL
      SELECT doc_id, translate(text, '{_VOWELS}', '{_VOWELS_PLUS1}'), {NOISE_ID_OFFSET}
      FROM documents WHERE doc_id % 16 = 1 AND length(text) > 0
    ),
    imgs AS (
      SELECT bid + shift AS doc_id,
             CAST({w_sql} AS INT) AS w,
             CAST({h_sql} AS INT) AS h,
             rpad(t, CAST({w_sql} * {h_sql} * 3 AS INT), t) AS pix
      FROM imgsrc
    ),
    grays AS (
      SELECT doc_id, pix,
             {nl.join(gray_cols)}
      FROM imgs
    ),
    sh AS (
      SELECT doc_id, CAST({bits} AS BIGINT) AS dhash, md5(pix) AS pmd5
      FROM grays
    ),
    bands AS (
      SELECT doc_id, dhash, pmd5, band,
             (dhash >> (band * {DHASH_BAND_BITS})) & {bmask} AS bsig
      FROM sh CROSS JOIN (SELECT UNNEST([{band_list}]) AS band)
    ),
    capped AS (
      SELECT doc_id, dhash, pmd5, band, bsig FROM (
        SELECT *, row_number() OVER (PARTITION BY band, bsig ORDER BY doc_id) AS rn
        FROM bands
      ) WHERE rn <= {IMG_NEARDUP_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.dhash AS sa, b.dhash AS sb, a.pmd5 AS ma, b.pmd5 AS mb
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    ),
    img_store AS (
      SELECT band, bsig, dhash AS c_dhash, MIN(doc_id) AS corpus_doc
      FROM bands WHERE {_IMG_SPLIT_SQL.format(d='doc_id')}
      GROUP BY 1, 2, 3
    ),
    img_probe AS (
      SELECT doc_a, doc_b, hamming FROM (
        SELECT b.doc_id AS doc_a, s.corpus_doc AS doc_b,
               CAST({probe_ham} AS BIGINT) AS hamming,
               row_number() OVER (
                 PARTITION BY b.doc_id
                 ORDER BY {probe_ham}, s.corpus_doc
               ) AS rn
        FROM bands b JOIN img_store s USING (band, bsig)
        WHERE NOT ({_IMG_SPLIT_SQL.format(d='b.doc_id')})
          AND {probe_ham} <= {IMG_NEARDUP_MAX_HAMMING}
      ) WHERE rn = 1
    ),
    wgrays AS (
      SELECT doc_id, pix,
             {nl.join(wgray_cols)}
      FROM imgs
    ),
    wsh AS (
      SELECT doc_id,
             {nl.join(wwords)},
             md5(pix) AS pmd5
      FROM wgrays
    ),
    wbands AS (
      SELECT doc_id, w0, w1, w2, w3, pmd5, band,
             {wband_case} AS bsig
      FROM wsh CROSS JOIN (SELECT UNNEST([{band_list}]) AS band)
    ),
    wcapped AS (
      SELECT doc_id, w0, w1, w2, w3, pmd5, band, bsig FROM (
        SELECT *, row_number() OVER (PARTITION BY band, bsig ORDER BY doc_id) AS rn
        FROM wbands
      ) WHERE rn <= {IMG_NEARDUP_BUCKET_CAP}
    ),
    wcand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.w0 AS a0, a.w1 AS a1, a.w2 AS a2, a.w3 AS a3,
             b.w0 AS b0, b.w1 AS b1, b.w2 AS b2, b.w3 AS b3,
             a.pmd5 AS ma, b.pmd5 AS mb
      FROM wcapped a JOIN wcapped b
        ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    ),
    vids AS (
      -- video corpus (r14): SAME (bid, t, shift) families as imgsrc;
      -- frame f's pixel plane cycles the f-rotated text
      SELECT bid + shift AS doc_id,
             CAST({w_sql} AS INT) AS w,
             CAST({h_sql} AS INT) AS h,
             {nl.join(vpix)}
      FROM imgsrc
    ),
    vgrays AS (
      SELECT doc_id,
             {nl.join(vgray_cols)},
             {vmd5} AS pmd5
      FROM vids
    ),
    vsh AS (
      SELECT doc_id,
             {nl.join(vwords)},
             pmd5
      FROM vgrays
    ),
    vbands AS (
      SELECT doc_id, w0, w1, w2, w3, pmd5, band,
             {wband_case} AS bsig
      FROM vsh CROSS JOIN (SELECT UNNEST([{band_list}]) AS band)
    ),
    vcapped AS (
      SELECT doc_id, w0, w1, w2, w3, pmd5, band, bsig FROM (
        SELECT *, row_number() OVER (PARTITION BY band, bsig ORDER BY doc_id) AS rn
        FROM vbands
      ) WHERE rn <= {IMG_NEARDUP_BUCKET_CAP}
    ),
    vcand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.w0 AS a0, a.w1 AS a1, a.w2 AS a2, a.w3 AS a3,
             b.w0 AS b0, b.w1 AS b1, b.w2 AS b2, b.w3 AS b3,
             a.pmd5 AS ma, b.pmd5 AS mb
      FROM vcapped a JOIN vcapped b
        ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    ),
    awavsrc AS (
      -- DuckDB widens set-op columns to the max type across branches;
      -- the cast states the intent where the column is introduced
      SELECT doc_id AS bid, text AS t, CAST(0 AS BIGINT) AS shift
      FROM documents WHERE {gate}
      UNION ALL
      SELECT doc_id, text, {AFP_RATE_ID_OFFSET}
      FROM documents WHERE doc_id % 16 = 0 AND {gate}
      UNION ALL
      SELECT doc_id, translate(text, '{cs}', '{cs1}'), {AFP_GAIN_ID_OFFSET}
      FROM documents WHERE doc_id % 16 = 1 AND {gate}
      UNION ALL
      SELECT doc_id, translate(text, '{_VOWELS}', '{_VOWELS_PLUS1}'), {AFP_NOISE_ID_OFFSET}
      FROM documents WHERE doc_id % 16 = 2 AND {gate}
    ),
    awavs AS (
      SELECT bid + shift AS doc_id, t, length(t) AS n, md5(t) AS dmd5
      FROM awavsrc
    ),
    aframes AS (
      SELECT doc_id, f,
             ((f + 1) * n) // {nf} - (f * n) // {nf} AS flen,
             CAST(list_sum(list_transform(
               string_split(substr(t, (f * n) // {nf} + 1,
                                   ((f + 1) * n) // {nf} - (f * n) // {nf}), ''),
               x -> ascii(x))) AS BIGINT) AS fe
      FROM awavs CROSS JOIN (SELECT UNNEST(range({nf})) AS f)
    ),
    asigs AS (
      SELECT a.doc_id,
             CAST(SUM(CASE WHEN a.fe * b.flen < b.fe * a.flen
                           THEN {a_bitval} ELSE 0 END) AS BIGINT) AS afp
      FROM aframes a JOIN aframes b ON b.doc_id = a.doc_id AND b.f = a.f + 1
      GROUP BY a.doc_id
    ),
    ash AS (
      SELECT s.doc_id, s.afp, w.dmd5 FROM asigs s JOIN awavs w USING (doc_id)
    ),
    abands AS (
      SELECT doc_id, afp, dmd5, band,
             (afp >> (band * {DHASH_BAND_BITS})) & {bmask} AS bsig
      FROM ash CROSS JOIN (SELECT UNNEST([{band_list}]) AS band)
    ),
    acapped AS (
      SELECT doc_id, afp, dmd5, band, bsig FROM (
        SELECT *, row_number() OVER (PARTITION BY band, bsig ORDER BY doc_id) AS rn
        FROM abands
      ) WHERE rn <= {AUD_NEARDUP_BUCKET_CAP}
    ),
    acand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.afp AS sa, b.afp AS sb, a.dmd5 AS ma, b.dmd5 AS mb
      FROM acapped a JOIN acapped b
        ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    )
    SELECT 'audio' AS method, doc_a, doc_b,
           CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming,
           (ma = mb) AS exact_dup
    FROM acand
    WHERE bit_count(xor(sa, sb)) <= {AUD_NEARDUP_MAX_HAMMING}
    UNION ALL
    SELECT 'image' AS method, doc_a, doc_b,
           CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming,
           (ma = mb) AS exact_dup
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {IMG_NEARDUP_MAX_HAMMING}
    UNION ALL
    SELECT 'image_probe' AS method, doc_a, doc_b, hamming,
           CAST(NULL AS BOOLEAN) AS exact_dup
    FROM img_probe
    UNION ALL
    SELECT 'image_wide' AS method, doc_a, doc_b,
           CAST({wham} AS BIGINT) AS hamming,
           (ma = mb) AS exact_dup
    FROM wcand
    WHERE {wham} <= {IMG_NEARDUP_MAX_HAMMING}
    UNION ALL
    SELECT 'video' AS method, doc_a, doc_b,
           CAST({wham} AS BIGINT) AS hamming,
           (ma = mb) AS exact_dup
    FROM vcand
    WHERE {wham} <= {IMG_NEARDUP_MAX_HAMMING}
    ORDER BY method, doc_a, doc_b
    """


@register(
    "q_signature_neardup",
    oracle=_signature_neardup_sql(),
    survey_ref=(
        "multimodal dedup (r14 §8 fold of q_image_neardup [r12] + "
        "q_audio_neardup [r13] — one perceptual-signature family, one slot): "
        "FOUR method-tagged arms over the shared Hamming-band machinery "
        "(operators.dedup.hamming_band_pairs). `image`: decode_ppm → 9×8 gray "
        "grid → 64-bit dHash → 4×16-bit bands; `image_probe`: the streaming "
        "screen's cross-corpus probe algebra (store pre-aggregated per (band, "
        "bsig, sig), true-Hamming verify, atomic struct-min election); "
        "`image_wide` (r14, r13 verdict #1): 17×16 grid → 256-bit dHash as "
        "array<bigint> → the WIDE banding path at the aligned 4×64 geometry — "
        "the plan_hamming_config operating point for 10⁹ images, closing the "
        "64-bit signature ceiling; `audio`: decode_wav → 65 frame energies → "
        "64 cross-multiplied sign bits (gain-invariant) → the same 4×16 "
        "bands; `video` (r14): concatenated-PPM frame streams demuxed, "
        "4 nearest-neighbor-sampled frames dHashed into one array<bigint> "
        "signature (word f = frame f's 64-bit dHash) through the SAME wide "
        "4×64 banding — a band collision is one perceptually-identical "
        "sampled frame. All caps doc_id-ordered and oracle-replayed; planted "
        "brightness/gain twins land at Hamming 0 with exact_dup=false, "
        "re-encoded audio twins at Hamming 0 with exact_dup=true"
    ),
    tags=("multimodal", "dedup", "sketch", "pandas-udf"),
)
def q_signature_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-signature near-duplicate pairs across modalities — the
    LAION-style first dedup stage a multimodal lake runs before any text
    screen: (method, doc_a, doc_b, hamming, exact_dup), four
    method-tagged arms over ONE shared band machinery (r14 fold: image
    and audio already shared `signature_dedup_batch_against_corpus` and
    `hamming_band_pairs`; their registry slots fold with them).

    ``image``: every image pair within Hamming ≤ 3 of each other's
    64-bit dHash that shares ≥ 1 of four 16-bit hash bands (r13
    geometry — `plan_hamming_config` computes the operating point).

    ``image_probe`` (r12): the dedup-at-ingest probe as batch algebra —
    the md5-split 'accepted' half acts as the persistent signature
    store, pre-aggregated to one row per (band, bsig, dhash) exactly as
    `streaming.pipeline.image_dedup_batch_against_corpus` builds it (a
    template flood collapses to ONE stored row); each probe image
    reports its (hamming, corpus_doc)-min match, elected atomically.

    ``image_wide`` (r14, r13 verdict #1 — the wide-signature path): the
    SAME images hashed at 17×16 → 256 bits carried as FOUR signed int64
    words (`dhash256_of`), banded at the aligned 4×64 geometry through
    `operators.dedup.signature_bands`' wide dispatch, refined by
    `wide_hamming` (per-word bit_count(xor) summed). This is the
    operating point `plan_hamming_config` names for the 10⁹-image
    regime, where the 64-bit hash leaves ~15k rows per bucket and the
    cap truncates recall — 2^64 keys per band keeps expected occupancy
    ≪ 1 with full pigeonhole recall at Hamming ≤ 3.

    ``audio`` (r13): every clip pair within Hamming ≤ 3 of each other's
    64-bit frame-energy fingerprint — re-encoded twins (same PCM, new
    sample rate) at Hamming 0 with exact_dup = true (the dup a file
    byte-hash MISSES), gain twins at Hamming 0 with exact_dup = false
    (the cross-multiplication invariance), noise twins while their
    flipped sign bits stay ≤ 3.

    ``video`` (r14): the third perceptual modality — concatenated-PPM
    frame streams (`documents_to_dedup_videos`; frame f's pixel source
    is the text rotated by f chars) demuxed by `split_ppm_stream`, 4
    nearest-neighbor-sampled frames each 64-bit-dHashed into ONE
    array<bigint> wide signature (`video_dhash256_of`: word f = frame
    f's hash), banded at the SAME aligned 4×64 wide geometry — so a
    band collision means "one sampled frame perceptually identical",
    the natural video LSH key, and pigeonhole recall at total
    Hamming ≤ 3 across frames carries over unchanged. Brightness twins
    (every frame shifted) land at Hamming 0 / exact_dup = false.

    The image corpus is `documents_to_dedup_images` (brightness +
    noise twin families), the audio corpus `documents_to_dedup_wavs`
    (re-encode + gain + noise families); `exact_dup` compares
    decoded-CONTENT md5s carried through the band join, so the result
    separates the three classes a dedup operator must distinguish:
    byte-identical, perceptually identical, perceptually near.

    Scale shape (100 TB): decode + hash is ONE Arrow `mapInPandas` pass
    per modality (per-task memory bounded by the Arrow batch — swap a
    real codec into the signer unchanged); candidate generation is the
    banded inverted-index self-join — work scales with true hash
    collisions, never |items|²; hot (band, bsig) buckets cap at 64 with
    the truncation audit, doc_id-ordered so the SQL oracle replays the
    cap exactly; the Hamming refine runs BEFORE the distinct shuffle.
    Pigeonhole recall at Hamming ≤ 3 holds for all four arms (4 bands
    tile each signature — including the wide one, word-aligned)."""
    sigs = _image_sigs_both(spark, sf_dir)
    return (
        _audio_pairs(spark, sf_dir)
        .unionByName(_image_all_pairs(sigs))
        .unionByName(_image_corpus_probe(sigs))
        .unionByName(_image_wide_pairs_from(sigs))
        .unionByName(_video_pairs(spark, sf_dir))
        .orderBy("method", "doc_a", "doc_b")
    )


def _image_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE decode+hash pass over the dedup-image corpus: the band
    self-join consumes the signature frame on both sides and Catalyst
    does not reuse the pre-window exchange across them (measured:
    MapInPandas planned per side) — the lazy localCheckpoint is the same
    one-materialization barrier the MinHash band table uses (the batch
    analog of persisting the signature table a deployment would write)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        image_dhash(documents_to_dedup_images(d))
        .filter(F.col("dhash").isNotNull())
        .transform(barrier)
    )


def _image_sigs_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE fused decode+hash pass serving the narrow (`image`,
    `image_probe`) AND wide (`image_wide`) arms (r14 optimization, guide
    §4.1/§2.3: the wide arm previously re-generated and re-decoded the
    same corpus in a second Arrow pass — two corpus builds, two decodes,
    two pixel md5s per image). Same checkpoint-barrier rationale as
    `_image_sigs`; both hashes are computed by the shared `_dhash_words`
    core, so every arm's values are bit-identical to the standalone
    signers' (oracle-pinned)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        image_dhash_both(documents_to_dedup_images(d))
        .filter(F.col("dhash").isNotNull())
        .transform(barrier)
    )


def _image_all_pairs(sigs: DataFrame, method: str = "image") -> DataFrame:
    pairs, _audit = hamming_band_pairs(
        sigs,
        "dhash",
        max_hamming=IMG_NEARDUP_MAX_HAMMING,
        n_bands=DHASH_BANDS,
        band_bits=DHASH_BAND_BITS,
        max_bucket_size=IMG_NEARDUP_BUCKET_CAP,
        carry_cols=("pix_md5",),
    )
    return pairs.select(
        F.lit(method).alias("method"),
        "doc_a",
        "doc_b",
        "hamming",
        (F.col("a_pix_md5") == F.col("b_pix_md5")).alias("exact_dup"),
    )


def _image_wide_pairs_from(sigs: DataFrame) -> DataFrame:
    """The wide arm over the FUSED signature frame (r14 optimization):
    `dhash_wide` re-aliased to `dhash` is the exact output of
    `image_dhash_wide`, so the band machinery below sees the identical
    relation without the second decode pass."""
    return _wide_pairs_over(
        sigs.select("doc_id", F.col("dhash_wide").alias("dhash"), "pix_md5")
    )


def _image_wide_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 256-bit wide-dHash arm (r14): same corpus, 17×16 grid, FOUR
    signed int64 words through the wide `hamming_band_pairs` dispatch at
    the aligned 4×64 `plan_hamming_config` geometry. (Standalone
    builder — prices the arm including its own decode; the composed
    query rides `_image_wide_pairs_from`'s fused pass instead.)"""
    d = load_table(spark, sf_dir, "documents")
    sigs = (
        image_dhash_wide(documents_to_dedup_images(d))
        .filter(F.col("dhash").isNotNull())
        .transform(barrier)
    )
    return _wide_pairs_over(sigs)


def _wide_pairs_over(sigs: DataFrame) -> DataFrame:
    pairs, _audit = hamming_band_pairs(
        sigs,
        "dhash",
        max_hamming=IMG_NEARDUP_MAX_HAMMING,
        n_bands=WIDE_DHASH_BANDS,
        band_bits=WIDE_DHASH_BAND_BITS,
        max_bucket_size=IMG_NEARDUP_BUCKET_CAP,
        carry_cols=("pix_md5",),
    )
    return pairs.select(
        F.lit("image_wide").alias("method"),
        "doc_a",
        "doc_b",
        "hamming",
        (F.col("a_pix_md5") == F.col("b_pix_md5")).alias("exact_dup"),
    )


def _video_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video arm (r14): demux → per-frame dHash words → the SAME
    wide band machinery at the aligned 4×64 geometry — a band collision
    is 'one sampled frame perceptually identical'."""
    from sentinela_py_spark.operators.multimodal import (
        documents_to_dedup_videos,
        video_dhash,
    )

    d = load_table(spark, sf_dir, "documents")
    sigs = (
        video_dhash(documents_to_dedup_videos(d))
        .filter(F.col("vhash").isNotNull())
        .transform(barrier)
    )
    pairs, _audit = hamming_band_pairs(
        sigs,
        "vhash",
        max_hamming=IMG_NEARDUP_MAX_HAMMING,
        n_bands=WIDE_DHASH_BANDS,
        band_bits=WIDE_DHASH_BAND_BITS,
        max_bucket_size=IMG_NEARDUP_BUCKET_CAP,
        carry_cols=("pix_md5",),
    )
    return pairs.select(
        F.lit("video").alias("method"),
        "doc_a",
        "doc_b",
        "hamming",
        (F.col("a_pix_md5") == F.col("b_pix_md5")).alias("exact_dup"),
    )


def _audio_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio fingerprint arm (r13; folded here r14): decode_wav →
    65 integer frame energies → 64 gain-invariant sign bits → the same
    shared band machinery at the 4×16 geometry."""
    sigs = (
        audio_fingerprint(
            documents_to_dedup_wavs(load_table(spark, sf_dir, "documents"))
        )
        .filter(F.col("afp").isNotNull())
        .transform(barrier)
    )
    pairs, _audit = hamming_band_pairs(
        sigs,
        "afp",
        max_hamming=AUD_NEARDUP_MAX_HAMMING,
        n_bands=DHASH_BANDS,
        band_bits=DHASH_BAND_BITS,
        max_bucket_size=AUD_NEARDUP_BUCKET_CAP,
        carry_cols=("data_md5",),
    )
    return pairs.select(
        F.lit("audio").alias("method"),
        "doc_a",
        "doc_b",
        "hamming",
        (F.col("a_data_md5") == F.col("b_data_md5")).alias("exact_dup"),
    )


def _image_corpus_probe(sigs: DataFrame, method: str = "image_probe") -> DataFrame:
    split = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8"
    bands = signature_bands(
        sigs.select("doc_id", "dhash"), "dhash", DHASH_BANDS, DHASH_BAND_BITS
    )
    store = (
        bands.filter(split)
        .groupBy("band", "bsig", F.col("dhash").alias("c_dhash"))
        .agg(F.min("doc_id").alias("corpus_doc"))
    )
    hamming = F.bit_count(F.col("dhash").bitwiseXOR(F.col("c_dhash")))
    # min over the (hamming, corpus_doc) struct picks the pair
    # ATOMICALLY (lexicographic — r13 ADVICE: two independent MINs could
    # pair a doc_b with a hamming it never achieved); a partial-
    # aggregatable struct-min, not a window, so map-side combine stands.
    return (
        bands.filter(~split)
        .join(store, ["band", "bsig"])
        .filter(hamming <= IMG_NEARDUP_MAX_HAMMING)
        .groupBy("doc_id")
        .agg(
            F.min(
                F.struct(
                    hamming.cast("long").alias("hamming"),
                    F.col("corpus_doc").alias("doc_b"),
                )
            ).alias("best")
        )
        .select(
            F.lit(method).alias("method"),
            F.col("doc_id").alias("doc_a"),
            F.col("best.doc_b").alias("doc_b"),
            F.col("best.hamming").alias("hamming"),
            F.lit(None).cast("boolean").alias("exact_dup"),
        )
    )


def _image_all_pairs_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_all_pairs(_image_sigs(spark, sf_dir))


def _image_corpus_probe_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_corpus_probe(_image_sigs(spark, sf_dir))


# Dedicated builders (the query carries checkpoints — the r9
# checkpoint-barrier rule: a method-filter arm could not prune past
# them). Arm names continue the pre-fold bench history: `image` ≙
# q_image_neardup.all_pairs, `image_probe` ≙ .corpus_probe, `audio` ≙
# q_audio_neardup's whole row; `image_wide` is new surface (r14).
register_arms(
    "q_signature_neardup",
    image=_image_all_pairs_arm,
    image_probe=_image_corpus_probe_arm,
    image_wide=_image_wide_pairs,
    audio=_audio_pairs,
    video=_video_pairs,
)


# ---------------------------------------------------------------------------
# Roster restoration (r15, r14 verdict #1): the r14 fold removed the
# q_image_neardup / q_audio_neardup names from the driver's checked
# surface. The fused q_signature_neardup keeps the machinery; the two
# original names re-register below as THIN views over the same arm
# builders, each with its original pre-fold DuckDB oracle verbatim, so
# the roster shows every declared name again with nothing dropped.
# Marginal cost: one narrow decode+hash pass per query invocation (the
# intra-query localCheckpoint still shares it across a query's own
# arms; sharing it ACROSS queries would be cross-run result caching,
# which the bench contract forbids).
# ---------------------------------------------------------------------------


def _image_neardup_sql() -> str:
    """DuckDB replay of the FULL image near-dup algebra: payload build
    (incl. both planted variant families) → decode-equivalent gray grid
    → 64-bit dHash → 4×16-bit banding → doc_id-ordered bucket cap →
    band self-join → Hamming ≤ 3 refine (all_pairs arm), PLUS the
    corpus_probe arm replaying the streaming screen's cross-corpus
    probe: md5-split corpus half pre-aggregated to one row per (band,
    bsig, dhash), probe half joined on the band slice and verified at
    true Hamming, the match picked ATOMICALLY as the lexicographic-min
    (hamming, corpus_doc) pair (r13 ADVICE — independent MIN aggregates
    could report a doc_b that did not achieve the reported hamming).
    The gray grid reads the pixel plane at the same nearest-neighbor
    offsets the Python decoder samples, so the hash — and therefore
    every pair — is value-checked end-to-end. Bit 63's term is the
    two's-complement constant −2^63 (emitted LAST in the sum, so every
    positive partial sum stays under 2^63), matching `dhash64_of`'s
    signed wrap; band slicing masks after the arithmetic shift, which
    reads the same bit pattern on both engines."""
    cs = _CHARSET.replace("'", "''")
    cs1 = _CHARSET_PLUS1.replace("'", "''")
    w_sql = f"(bid % {IMG_DEDUP_W_MOD} + {IMG_DEDUP_MIN})"
    h_sql = f"(bid % {IMG_DEDUP_H_MOD} + {IMG_DEDUP_MIN})"
    gray_cols = []
    for y in range(DHASH_ROWS):
        for x in range(DHASH_COLS):
            off = f"((({y} * h) // {DHASH_ROWS}) * w + (({x} * w) // {DHASH_COLS})) * 3"
            g = " + ".join(f"ascii(pix[{off} + {i}])" for i in (1, 2, 3))
            gray_cols.append(f"{g} AS g_{y}_{x}")
    bit_terms = []
    for y in range(DHASH_ROWS):
        for x in range(DHASH_COLS - 1):
            pos = y * 8 + x
            val = -(1 << 63) if pos == 63 else 1 << pos
            bit_terms.append(
                f"(CASE WHEN g_{y}_{x} < g_{y}_{x + 1} "
                f"THEN CAST({val} AS BIGINT) ELSE 0 END)"
            )
    bits = " + ".join(bit_terms)
    band_list = ",".join(str(i) for i in range(DHASH_BANDS))
    bmask = (1 << DHASH_BAND_BITS) - 1
    probe_ham = "bit_count(xor(b.dhash, s.c_dhash))"
    nl = ",\n             "
    return f"""
    WITH imgsrc AS (
      -- explicit BIGINT cast for documentation parity with the other
      -- oracles (DuckDB widens set-op columns across all branches)
      SELECT doc_id AS bid, text AS t, CAST(0 AS BIGINT) AS shift FROM documents
      WHERE length(text) > 0
      UNION ALL
      SELECT doc_id, translate(text, '{cs}', '{cs1}'), {BRIGHT_ID_OFFSET}
      FROM documents WHERE doc_id % 16 = 0 AND length(text) > 0
      UNION ALL
      SELECT doc_id, translate(text, '{_VOWELS}', '{_VOWELS_PLUS1}'), {NOISE_ID_OFFSET}
      FROM documents WHERE doc_id % 16 = 1 AND length(text) > 0
    ),
    imgs AS (
      SELECT bid + shift AS doc_id,
             CAST({w_sql} AS INT) AS w,
             CAST({h_sql} AS INT) AS h,
             rpad(t, CAST({w_sql} * {h_sql} * 3 AS INT), t) AS pix
      FROM imgsrc
    ),
    grays AS (
      SELECT doc_id, pix,
             {nl.join(gray_cols)}
      FROM imgs
    ),
    sh AS (
      SELECT doc_id, CAST({bits} AS BIGINT) AS dhash, md5(pix) AS pmd5
      FROM grays
    ),
    bands AS (
      SELECT doc_id, dhash, pmd5, band,
             (dhash >> (band * {DHASH_BAND_BITS})) & {bmask} AS bsig
      FROM sh CROSS JOIN (SELECT UNNEST([{band_list}]) AS band)
    ),
    capped AS (
      SELECT doc_id, dhash, pmd5, band, bsig FROM (
        SELECT *, row_number() OVER (PARTITION BY band, bsig ORDER BY doc_id) AS rn
        FROM bands
      ) WHERE rn <= {IMG_NEARDUP_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.dhash AS sa, b.dhash AS sb, a.pmd5 AS ma, b.pmd5 AS mb
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    ),
    img_store AS (
      SELECT band, bsig, dhash AS c_dhash, MIN(doc_id) AS corpus_doc
      FROM bands WHERE {_IMG_SPLIT_SQL.format(d='doc_id')}
      GROUP BY 1, 2, 3
    ),
    img_probe AS (
      SELECT doc_a, doc_b, hamming FROM (
        SELECT b.doc_id AS doc_a, s.corpus_doc AS doc_b,
               CAST({probe_ham} AS BIGINT) AS hamming,
               row_number() OVER (
                 PARTITION BY b.doc_id
                 ORDER BY {probe_ham}, s.corpus_doc
               ) AS rn
        FROM bands b JOIN img_store s USING (band, bsig)
        WHERE NOT ({_IMG_SPLIT_SQL.format(d='b.doc_id')})
          AND {probe_ham} <= {IMG_NEARDUP_MAX_HAMMING}
      ) WHERE rn = 1
    )
    SELECT 'all_pairs' AS method, doc_a, doc_b,
           CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming,
           (ma = mb) AS exact_dup
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {IMG_NEARDUP_MAX_HAMMING}
    UNION ALL
    SELECT 'corpus_probe' AS method, doc_a, doc_b, hamming,
           CAST(NULL AS BOOLEAN) AS exact_dup
    FROM img_probe
    ORDER BY method, doc_a, doc_b
    """


def _audio_neardup_sql() -> str:
    """DuckDB replay of the FULL audio near-dup algebra: sample build
    (the text bytes ARE the PCM data — incl. all three planted variant
    families and the length gate) → 65 nearest-neighbor frame bounds →
    integer frame energies (char-split + ascii sum) → cross-multiplied
    mean-comparison sign bits (bit 63 as the two's-complement constant,
    matching `afp64_of`'s signed wrap) → 4×16-bit banding →
    doc_id-ordered bucket cap → band self-join → Hamming ≤ 3 refine.
    The Spark side genuinely parses the RIFF containers it built
    (decode_wav chunk walk inside Arrow mapInPandas); the oracle goes
    straight to the sample bytes — if the decoder mangled one byte, the
    fingerprints (and this oracle) would diverge."""
    cs = _CHARSET.replace("'", "''")
    cs1 = _CHARSET_PLUS1.replace("'", "''")
    nf = AFP_FRAMES
    gate = f"length(text) >= {AFP_MIN_SAMPLES}"
    bitval = (
        "CASE WHEN a.f = 63 THEN CAST(-9223372036854775808 AS BIGINT) "
        "ELSE (CAST(1 AS BIGINT) << a.f) END"
    )
    return f"""
    WITH wavsrc AS (
      -- DuckDB widens set-op columns to the max type across branches,
      -- so the BIGINT offsets below type `shift` regardless; the cast
      -- states the intent where the column is introduced (r13 ADVICE:
      -- keep both oracles on the same explicit-cast style)
      SELECT doc_id AS bid, text AS t, CAST(0 AS BIGINT) AS shift
      FROM documents WHERE {gate}
      UNION ALL
      SELECT doc_id, text, {AFP_RATE_ID_OFFSET}
      FROM documents WHERE doc_id % 16 = 0 AND {gate}
      UNION ALL
      SELECT doc_id, translate(text, '{cs}', '{cs1}'), {AFP_GAIN_ID_OFFSET}
      FROM documents WHERE doc_id % 16 = 1 AND {gate}
      UNION ALL
      SELECT doc_id, translate(text, '{_VOWELS}', '{_VOWELS_PLUS1}'), {AFP_NOISE_ID_OFFSET}
      FROM documents WHERE doc_id % 16 = 2 AND {gate}
    ),
    wavs AS (
      SELECT bid + shift AS doc_id, t, length(t) AS n, md5(t) AS dmd5
      FROM wavsrc
    ),
    frames AS (
      SELECT doc_id, f,
             ((f + 1) * n) // {nf} - (f * n) // {nf} AS flen,
             CAST(list_sum(list_transform(
               string_split(substr(t, (f * n) // {nf} + 1,
                                   ((f + 1) * n) // {nf} - (f * n) // {nf}), ''),
               x -> ascii(x))) AS BIGINT) AS fe
      FROM wavs CROSS JOIN (SELECT UNNEST(range({nf})) AS f)
    ),
    sigs AS (
      SELECT a.doc_id,
             CAST(SUM(CASE WHEN a.fe * b.flen < b.fe * a.flen
                           THEN {bitval} ELSE 0 END) AS BIGINT) AS afp
      FROM frames a JOIN frames b ON b.doc_id = a.doc_id AND b.f = a.f + 1
      GROUP BY a.doc_id
    ),
    sh AS (
      SELECT s.doc_id, s.afp, w.dmd5 FROM sigs s JOIN wavs w USING (doc_id)
    ),
    bands AS (
      SELECT doc_id, afp, dmd5, band,
             (afp >> (band * {DHASH_BAND_BITS})) & {(1 << DHASH_BAND_BITS) - 1} AS bsig
      FROM sh CROSS JOIN (SELECT UNNEST([0,1,2,3]) AS band)
    ),
    capped AS (
      SELECT doc_id, afp, dmd5, band, bsig FROM (
        SELECT *, row_number() OVER (PARTITION BY band, bsig ORDER BY doc_id) AS rn
        FROM bands
      ) WHERE rn <= {AUD_NEARDUP_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.afp AS sa, b.afp AS sb, a.dmd5 AS ma, b.dmd5 AS mb
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming,
           (ma = mb) AS exact_dup
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {AUD_NEARDUP_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """


@register(
    "q_image_neardup",
    oracle=_image_neardup_sql(),
    survey_ref=(
        "multimodal dedup (r12; name restored r15 per the r14 verdict — the "
        "r14 fold removed this declared name from the checked surface): "
        "perceptual-hash image near-dup — decode_ppm → 9×8 gray grid → "
        "64-bit dHash → the shared Hamming-band LSH self-join with the "
        "doc_id-ordered hot-bucket cap armed and oracle-replayed, + the "
        "corpus_probe arm (the streaming screen's cross-corpus probe "
        "algebra). Same algebra as q_signature_neardup's `image`/"
        "`image_probe` arms under the original pre-fold method tags"
    ),
    tags=("multimodal", "dedup", "sketch", "pandas-udf"),
)
def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs by perceptual hash — the ORIGINAL
    (pre-fold) registered surface, restored r15 (r14 verdict #1): the
    r14 signature-family fold kept the algebra under q_signature_neardup
    but dropped this declared name from the oracle-checked roster. This
    is a thin view over the SAME arm builders (`_image_all_pairs` /
    `_image_corpus_probe` over one checkpointed `_image_sigs` pass),
    re-tagged with the pre-fold method names (`all_pairs` ≙ `image`,
    `corpus_probe` ≙ `image_probe`) and checked by the original pre-fold
    DuckDB oracle verbatim. See q_signature_neardup for the full
    algebra/scale notes."""
    sigs = _image_sigs(spark, sf_dir)
    return (
        _image_all_pairs(sigs, method="all_pairs")
        .unionByName(_image_corpus_probe(sigs, method="corpus_probe"))
        .orderBy("method", "doc_a", "doc_b")
    )


@register(
    "q_audio_neardup",
    oracle=_audio_neardup_sql(),
    survey_ref=(
        "multimodal dedup (r13; name restored r15 per the r14 verdict — the "
        "r14 fold removed this declared name from the checked surface): "
        "audio fingerprint near-dup — decode_wav chunk walk → 65 integer "
        "frame energies → 64 cross-multiplied mean-comparison sign bits → "
        "the shared Hamming-band LSH self-join at the 4×16-bit geometry. "
        "Same algebra as q_signature_neardup's `audio` arm without the "
        "method tag (the original pre-fold schema)"
    ),
    tags=("multimodal", "dedup", "sketch", "pandas-udf"),
)
def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs by frame-energy fingerprint — the
    ORIGINAL (pre-fold) registered surface, restored r15 (r14 verdict
    #1), a thin view over the fused family's `_audio_pairs` builder with
    the method tag dropped (the pre-fold schema: doc_a, doc_b, hamming,
    exact_dup), checked by the original pre-fold DuckDB oracle verbatim.
    See q_signature_neardup for the full algebra/scale notes."""
    return (
        _audio_pairs(spark, sf_dir)
        .select("doc_a", "doc_b", "hamming", "exact_dup")
        .orderBy("doc_a", "doc_b")
    )



@register(
    "q_media_frames",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id,
             UNNEST(generate_series(0, CAST(CEIL(length(text) / {FRAME_LEN}.0) AS INT) - 1)) AS frame_idx,
             text
      FROM documents
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(length(substring(text, frame_idx * {FRAME_LEN} + 1, {FRAME_LEN})) AS BIGINT) AS frame_bytes,
           md5(substring(text, frame_idx * {FRAME_LEN} + 1, {FRAME_LEN})) AS frame_md5
    FROM frames
    WHERE frame_idx % {FRAME_STRIDE} = 0
    ORDER BY doc_id, frame_idx
    """,
    survey_ref="multimodal: frame sampling (fixed-size payload slices, every k-th kept)",
    tags=("multimodal", "pandas-udf"),
)
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe-style sampling: payload → fixed 64-byte frames → keep
    every 2nd. Emitted per Arrow batch; output row count is bounded by
    payload_bytes/(frame_len*stride) regardless of partitioning."""
    d = load_table(spark, sf_dir, "documents")
    return sample_frames(documents_to_media(d)).orderBy("doc_id", "frame_idx")




# ---------------------------------------------------------------------------
# Composed multimodal ingest, driver-checked (r13, r12 verdict #2/#7 —
# the registry's last banked slot, the same promotion q_ingest_funnel
# got in r11): ONE paired-row (image, caption) batch through the REAL
# `streaming.pipeline.composed_ingest_batch` with the image screen at
# the head (LAION order), its per-doc routing verdicts value-checked by
# a DuckDB oracle that replays BOTH working screens' full algebra —
# decode → dHash → banding → cap → Hamming pairs → connected components
# → survivor election (image), then exact-caption collapse → MinHash
# signatures → band pairs → components → survivor election (text) over
# exactly the image survivors.
# ---------------------------------------------------------------------------

_MM_STATE: dict[tuple[str, str], str] = {}


def _mm_ingest_state_dir(spark: SparkSession, sf_dir: str) -> str:
    """Run the composed paired-row batch ONCE per session × sf_dir into
    a temp state root and return it (the `_funnel_state_dir` memo
    pattern; cleaned with the other temp stores). ALL FOUR screens are
    armed: the image screen (head of the chain), the decontamination
    screen against a REAL held-out split (every 16th-plus-five doc's
    text is eval content — its own caption in the corpus is exactly the
    verbatim leak the screen exists to catch), the MinHash caption
    screen, and the EMBEDDING screen at the real NEARDUP_COS threshold
    over each row's BASE document vector: the embdup family (new
    pixels, new words, same semantic vector) flows through image AND
    text and dies at the vector stage, and genuine base near-dup
    vectors fall to the same within-batch election the streaming screen
    runs. What this query value-checks is the part no registered query
    covered: the LAION-ORDER ROUTING — which screen takes each row when
    every real screen is chained."""
    import hashlib
    import tempfile

    from sentinela_py_spark.functions.bloom import eval_gram_bloom
    from sentinela_py_spark.operators.multimodal import documents_to_paired_rows
    from sentinela_py_spark.plans import simops
    from sentinela_py_spark.streaming.pipeline import composed_ingest_batch

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _MM_STATE:
        return _MM_STATE[key]
    root = os.path.join(
        tempfile.gettempdir(),
        f"sentinela-mmingest-{key[0]}-{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    d = load_table(spark, sf_dir, "documents")
    # every row carries its BASE doc's vector (doc_id mod 1e9 strips the
    # family offsets) — which is exactly what plants the embdup family's
    # identical array for the embedding screen's exact-copy collapse
    emb_tbl = load_table(spark, sf_dir, "embeddings")
    batch = (
        documents_to_paired_rows(d)
        .withColumn("__base", F.col("doc_id") % 1_000_000_000)
        .join(
            emb_tbl.select(F.col("vec_id").alias("__base"), "embedding"),
            "__base",
        )
        # image-side vector for the clip screen (r14): the row's own
        # base vector — EXCEPT the planted MISCAPTION family (base ≡ 11
        # mod 16; the family offsets are all multiples of 16, so the
        # full doc_id carries the residue), which gets its SUCCESSOR
        # base doc's vector: the alt-text-describes-another-page pair
        # that only the cross-modal screen can catch (successor absent
        # → own vector, cos 1, passes — deterministic on both engines)
        .withColumn("__succ", F.col("__base") + 1)
        .join(
            emb_tbl.select(
                F.col("vec_id").alias("__succ"),
                F.col("embedding").alias("__succ_emb"),
            ),
            "__succ",
            "left",
        )
        .withColumn(
            "image_embedding",
            F.when(
                F.col("doc_id") % 16 == 11,
                F.coalesce(F.col("__succ_emb"), F.col("embedding")),
            ).otherwise(F.col("embedding")),
        )
        .drop("__base", "__succ", "__succ_emb")
    )
    bloom_row = eval_gram_bloom(
        d.filter((F.col("doc_id") % 16 == 5) & (F.length("text") > 0))
    )
    from sentinela_py_spark.plans.simops import NEARDUP_COS

    composed_ingest_batch(
        batch,
        bloom_row,
        0,
        root,
        id_col="doc_id",
        text_col="caption",
        vec_col="embedding",
        threshold=NEARDUP_COS,
        image_payload_col="payload",
        clip_vec_col="image_embedding",
    )
    simops.register_temp_store(root)
    _MM_STATE[key] = root
    return root


def _dhash_sql_parts() -> tuple[list[str], str]:
    """(gray column defs, signed-64-bit dHash sum) — the decode-
    equivalent grid/hash SQL shared by q_image_neardup and the composed
    ingest oracle (one generator, so the two replay one definition)."""
    gray_cols = []
    for y in range(DHASH_ROWS):
        for x in range(DHASH_COLS):
            off = f"((({y} * h) // {DHASH_ROWS}) * w + (({x} * w) // {DHASH_COLS})) * 3"
            g = " + ".join(f"ascii(pix[{off} + {i}])" for i in (1, 2, 3))
            gray_cols.append(f"{g} AS g_{y}_{x}")
    bit_terms = []
    for y in range(DHASH_ROWS):
        for x in range(DHASH_COLS - 1):
            pos = y * 8 + x
            val = -(1 << 63) if pos == 63 else 1 << pos
            bit_terms.append(
                f"(CASE WHEN g_{y}_{x} < g_{y}_{x + 1} "
                f"THEN CAST({val} AS BIGINT) ELSE 0 END)"
            )
    return gray_cols, " + ".join(bit_terms)


def _mm_ingest_sql() -> str:
    """DuckDB replay of the COMPOSED paired-row ingest routing:

    image screen — payload build for all four families (base /
    brightness twin / noise twin / repost) → gray grid → 64-bit dHash →
    exact-pixel collapse (min doc_id per pixel md5) → 4×16-bit banding
    over representatives → doc_id-ordered cap → Hamming ≤ 3 pairs →
    min-label connected components (recursive CTE) → min-id survivor →
    rejects (members ≠ survivor; exact copies follow their rep's
    verdict);

    decontamination over the image SURVIVORS' captions — the eval
    split's (doc_id % 16 = 5) distinct word-5-grams build the m=2^16,
    k=4 Bloom words (`_BLOOM_POS_SQL`, the q_decontamination template),
    each caption's distinct grams probe all four positions, and any
    fully-set gram flags the doc (min_hits = 1);

    text screen over the DECONTAMINATED captions — exact-caption
    collapse (min doc_id per md5(caption)) → MinHash signatures → band
    pairs → components → min-id survivor → rejects (the repost family's
    fate: same caption, different image);

    embedding screen over the DOUBLY-SCREENED survivors' base-document
    vectors — exact-copy collapse on the vector VALUE (the embdup
    family's identical array), hyperplane-sign buckets + the multi-probe
    Hamming ≤ 1 join (`_bucket_sql`/PROBE_XORS — q_embedding_neardup's
    exact templates), rounded-cosine ≥ NEARDUP_COS verify, components,
    min-id survivor. Emits (stage, doc_id, matched_doc): 'image_dedup',
    'caption_dedup' and 'embedding_dedup' rejects with their matched
    survivor, 'decontam' flags (no match concept — the filter names no
    specific eval doc), then 'accepted'."""
    from sentinela_py_spark.operators.multimodal import (
        EMBDUP_ID_OFFSET,
        REPOST_ID_OFFSET,
    )
    from sentinela_py_spark.plans.dedupops import (
        _band_sql,
        _minhash_sig_select,
        _shingles_sql,
    )
    from sentinela_py_spark.plans.simops import (
        NEARDUP_COS,
        PROBE_XORS,
        _bucket_sql,
        _DOT_SQL,
        _guarded_cos_sql,
        _NORMSQ_SQL,
    )
    from sentinela_py_spark.plans.textops import _BLOOM_POS_SQL

    _BLOOM_POS = _BLOOM_POS_SQL.format(i="i.i", g="e.gram")
    _BLOOM_POS_T = _BLOOM_POS_SQL.format(i="i.i", g="g.gram")
    from sentinela_py_spark.streaming.pipeline import CLIP_SCORE_MIN as _MM_CLIP_MIN

    _mm_clip_cos = _guarded_cos_sql(
        f"{_DOT_SQL.format(a='iv', b='tv')} / "
        f"(SQRT({_NORMSQ_SQL.format(a='iv')}) * SQRT({_NORMSQ_SQL.format(a='tv')}))"
    )
    cs = _CHARSET.replace("'", "''")
    cs1 = _CHARSET_PLUS1.replace("'", "''")
    w_sql = f"(bid % {IMG_DEDUP_W_MOD} + {IMG_DEDUP_MIN})"
    h_sql = f"(bid % {IMG_DEDUP_H_MOD} + {IMG_DEDUP_MIN})"
    gray_cols, bits = _dhash_sql_parts()
    band_list = ",".join(str(i) for i in range(DHASH_BANDS))
    bmask = (1 << DHASH_BAND_BITS) - 1
    nl = ",\n             "
    return f"""
    WITH RECURSIVE docs AS MATERIALIZED (
      -- the paired corpus = docs the embeddings table covers (a paired
      -- row IS (image, caption, vector) by definition — the Spark
      -- fixture's inner embedding join is this same gate; at sf0.1 the
      -- embeddings table covers a strict subset of documents)
      SELECT d.doc_id, d.text FROM documents d
      WHERE length(d.text) > 0
        AND EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
    ),
    imgsrc AS (
      -- shift cast is documentation, not necessity: DuckDB widens a
      -- set-op column to the max logical type across ALL branches
      -- (r13 ADVICE — the old comment claimed first-branch typing),
      -- so the 3e9 repost offset makes the column BIGINT either way;
      -- the explicit cast just states the intended type where the
      -- column is introduced (same style as _audio_neardup_sql)
      SELECT doc_id AS bid, text AS t, text AS cap, CAST(0 AS BIGINT) AS shift
      FROM docs
      UNION ALL
      SELECT doc_id, translate(text, '{cs}', '{cs1}'), text, {BRIGHT_ID_OFFSET}
      FROM docs WHERE doc_id % 16 = 0
      UNION ALL
      SELECT doc_id, translate(text, '{_VOWELS}', '{_VOWELS_PLUS1}'), text, {NOISE_ID_OFFSET}
      FROM docs WHERE doc_id % 16 = 1
      UNION ALL
      SELECT doc_id, reverse(text), text, {REPOST_ID_OFFSET}
      FROM docs WHERE doc_id % 16 = 3
      UNION ALL
      SELECT doc_id, reverse(translate(text, '{_VOWELS}', '{_VOWELS_PLUS1}')),
             translate(text, '{_VOWELS}', '{_VOWELS_PLUS1}'), {EMBDUP_ID_OFFSET}
      FROM docs WHERE doc_id % 16 = 7
    ),
    imgs AS (
      SELECT bid + shift AS doc_id,
             CAST({w_sql} AS INT) AS w,
             CAST({h_sql} AS INT) AS h,
             rpad(t, CAST({w_sql} * {h_sql} * 3 AS INT), t) AS pix,
             cap
      FROM imgsrc
    ),
    grays AS (
      SELECT doc_id, pix, cap,
             {nl.join(gray_cols)}
      FROM imgs
    ),
    sh AS MATERIALIZED (
      SELECT doc_id, CAST({bits} AS BIGINT) AS dhash, md5(pix) AS pmd5, cap
      FROM grays
    ),
    irep AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY pmd5) AS rep FROM sh
    ),
    ireps AS MATERIALIZED (
      SELECT s.doc_id, s.dhash FROM sh s
      JOIN irep r ON s.doc_id = r.doc_id AND r.doc_id = r.rep
    ),
    ibands AS (
      SELECT doc_id, dhash, band,
             (dhash >> (band * {DHASH_BAND_BITS})) & {bmask} AS bsig
      FROM ireps CROSS JOIN (SELECT UNNEST([{band_list}]) AS band)
    ),
    icapped AS (
      SELECT doc_id, dhash, band, bsig FROM (
        SELECT *, row_number() OVER (PARTITION BY band, bsig ORDER BY doc_id) AS rn
        FROM ibands
      ) WHERE rn <= {IMG_NEARDUP_BUCKET_CAP}
    ),
    ipairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM icapped a JOIN icapped b
        ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.dhash, b.dhash)) <= {IMG_NEARDUP_MAX_HAMMING}
    ),
    iedges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM ipairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM ipairs
    ),
    ireach(doc_id, label) AS (
      SELECT doc_id, doc_id FROM ireps
      UNION
      SELECT e.src, r.label FROM ireach r JOIN iedges e ON e.dst = r.doc_id
    ),
    ilabels AS (
      SELECT doc_id, MIN(label) AS grp FROM ireach GROUP BY doc_id
    ),
    isurv AS (
      SELECT grp, MIN(doc_id) AS surv FROM ilabels GROUP BY grp
    ),
    irej_rep AS (
      SELECT l.doc_id, s.surv AS matched
      FROM ilabels l JOIN isurv s USING (grp)
      WHERE l.doc_id != s.surv
    ),
    irej_copy AS (
      SELECT r.doc_id, COALESCE(rr.matched, r.rep) AS matched
      FROM irep r LEFT JOIN irej_rep rr ON rr.doc_id = r.rep
      WHERE r.doc_id != r.rep
    ),
    img_rej AS (
      SELECT doc_id, matched FROM irej_rep
      UNION ALL
      SELECT doc_id, matched FROM irej_copy
    ),
    img_acc AS MATERIALIZED (
      SELECT s.doc_id, s.cap FROM sh s
      LEFT JOIN img_rej j ON j.doc_id = s.doc_id
      WHERE j.doc_id IS NULL
    ),
    clip_scored AS (
      -- cross-modal consistency screen (r14) over the image SURVIVORS:
      -- image-side vector = own base vector, except the MISCAPTION
      -- family (doc_id % 16 = 11) which carries its successor's; the
      -- cosine/round/guard algebra is q_clip_score's exact template
      SELECT doc_id, {_mm_clip_cos} AS ccos FROM (
        SELECT a.doc_id,
               CASE WHEN a.doc_id % 16 = 11
                    THEN COALESCE(es.embedding, eb.embedding)
                    ELSE eb.embedding END AS iv,
               eb.embedding AS tv
        FROM img_acc a
        JOIN embeddings eb ON eb.vec_id = a.doc_id % 1000000000
        LEFT JOIN embeddings es ON es.vec_id = (a.doc_id % 1000000000) + 1
      )
    ),
    clip_rej AS MATERIALIZED (
      SELECT doc_id FROM clip_scored WHERE ccos < {_MM_CLIP_MIN}
    ),
    clip_acc AS MATERIALIZED (
      SELECT a.doc_id, a.cap FROM img_acc a
      LEFT JOIN clip_rej r ON r.doc_id = a.doc_id
      WHERE r.doc_id IS NULL
    ),
    eval_grams AS MATERIALIZED (
      SELECT DISTINCT gram FROM (
        SELECT UNNEST(list_transform(
          generate_series(1, greatest(len(string_split(text, ' ')) - 4, 0)),
          i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' '))) AS gram
        FROM documents WHERE doc_id % 16 = 5 AND length(text) > 0
      )
    ),
    bloom_words AS MATERIALIZED (
      SELECT pos // 32 AS word,
             bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS mask FROM (
        SELECT {_BLOOM_POS} AS pos
        FROM eval_grams e CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS i) i
      ) GROUP BY 1
    ),
    cap_grams AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, UNNEST(list_transform(
          generate_series(1, greatest(len(string_split(cap, ' ')) - 4, 0)),
          i -> array_to_string(list_slice(string_split(cap, ' '), i, i + 4), ' '))) AS gram
        FROM clip_acc
      )
    ),
    dec_flag AS MATERIALIZED (
      SELECT doc_id FROM (
        SELECT p.doc_id, p.gram
        FROM (
          SELECT g.doc_id, g.gram, {_BLOOM_POS_T} AS pos
          FROM cap_grams g CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS i) i
        ) p JOIN bloom_words b ON b.word = p.pos // 32
        WHERE ((b.mask >> CAST(p.pos % 32 AS INT)) & 1) = 1
        GROUP BY p.doc_id, p.gram
        HAVING COUNT(*) = 4
      ) GROUP BY doc_id
    ),
    dec_acc AS MATERIALIZED (
      SELECT a.doc_id, a.cap FROM clip_acc a
      LEFT JOIN dec_flag f ON f.doc_id = a.doc_id
      WHERE f.doc_id IS NULL
    ),
    trep AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(cap)) AS rep
      FROM dec_acc
    ),
    treps AS MATERIALIZED (
      SELECT a.doc_id, a.cap AS text FROM dec_acc a
      JOIN trep t ON a.doc_id = t.doc_id AND t.doc_id = t.rep
    ),
    shingles AS ({_shingles_sql("treps")}),
    msigs AS ({_minhash_sig_select("shingles")}),
    mbands AS ({_band_sql("msigs")}),
    mpairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM mbands a JOIN mbands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    medges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM mpairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM mpairs
    ),
    mreach(doc_id, label) AS (
      SELECT doc_id, doc_id FROM treps
      UNION
      SELECT e.src, r.label FROM mreach r JOIN medges e ON e.dst = r.doc_id
    ),
    mlabels AS (
      SELECT doc_id, MIN(label) AS grp FROM mreach GROUP BY doc_id
    ),
    msurv AS (
      SELECT grp, MIN(doc_id) AS surv FROM mlabels GROUP BY grp
    ),
    mrej_rep AS (
      SELECT l.doc_id, s.surv AS matched
      FROM mlabels l JOIN msurv s USING (grp)
      WHERE l.doc_id != s.surv
    ),
    mrej_copy AS (
      SELECT t.doc_id, COALESCE(rr.matched, t.rep) AS matched
      FROM trep t LEFT JOIN mrej_rep rr ON rr.doc_id = t.rep
      WHERE t.doc_id != t.rep
    ),
    mh_rej AS (
      SELECT doc_id, matched FROM mrej_rep
      UNION ALL
      SELECT doc_id, matched FROM mrej_copy
    ),
    tacc AS MATERIALIZED (
      SELECT a.doc_id FROM dec_acc a
      LEFT JOIN mh_rej j ON j.doc_id = a.doc_id
      WHERE j.doc_id IS NULL
    ),
    emb AS MATERIALIZED (
      SELECT t.doc_id, e.embedding,
             {_bucket_sql('e.embedding')} AS bucket,
             SQRT({_NORMSQ_SQL.format(a='e.embedding')}) AS norm,
             CAST(e.embedding AS VARCHAR) AS ekey
      FROM tacc t JOIN embeddings e ON e.vec_id = t.doc_id % 1000000000
    ),
    erep AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY ekey) AS rep FROM emb
    ),
    ereps AS MATERIALIZED (
      SELECT m.doc_id, m.embedding, m.bucket, m.norm FROM emb m
      JOIN erep r ON m.doc_id = r.doc_id AND r.doc_id = r.rep
    ),
    eprobed AS (
      SELECT doc_id, embedding, norm, xor(bucket, probe_xor) AS probe
      FROM ereps CROSS JOIN (
        SELECT UNNEST([{", ".join(str(x) for x in PROBE_XORS)}]) AS probe_xor
      )
    ),
    epairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ereps a JOIN eprobed b
        ON a.bucket = b.probe AND a.doc_id < b.doc_id
      WHERE ROUND({_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                  / (a.norm * b.norm), 6) >= {NEARDUP_COS}
    ),
    eedges AS (
      SELECT doc_a AS src, doc_b AS dst FROM epairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM epairs
    ),
    ereach(doc_id, label) AS (
      SELECT doc_id, doc_id FROM ereps
      UNION
      SELECT e.src, r.label FROM ereach r JOIN eedges e ON e.dst = r.doc_id
    ),
    elabels AS (
      SELECT doc_id, MIN(label) AS grp FROM ereach GROUP BY doc_id
    ),
    esurv AS (
      SELECT grp, MIN(doc_id) AS surv FROM elabels GROUP BY grp
    ),
    erej_rep AS (
      SELECT l.doc_id, s.surv AS matched
      FROM elabels l JOIN esurv s USING (grp)
      WHERE l.doc_id != s.surv
    ),
    erej_copy AS (
      SELECT r.doc_id, COALESCE(rr.matched, r.rep) AS matched
      FROM erep r LEFT JOIN erej_rep rr ON rr.doc_id = r.rep
      WHERE r.doc_id != r.rep
    ),
    emb_rej AS (
      SELECT doc_id, matched FROM erej_rep
      UNION ALL
      SELECT doc_id, matched FROM erej_copy
    ),
    acc AS (
      SELECT t.doc_id FROM tacc t
      LEFT JOIN emb_rej j ON j.doc_id = t.doc_id
      WHERE j.doc_id IS NULL
    )
    SELECT 'image_dedup' AS stage, doc_id, matched AS matched_doc FROM img_rej
    UNION ALL
    SELECT 'clip' AS stage, doc_id, CAST(NULL AS BIGINT) AS matched_doc
    FROM clip_rej
    UNION ALL
    SELECT 'decontam' AS stage, doc_id, CAST(NULL AS BIGINT) AS matched_doc
    FROM dec_flag
    UNION ALL
    SELECT 'caption_dedup' AS stage, doc_id, matched AS matched_doc FROM mh_rej
    UNION ALL
    SELECT 'embedding_dedup' AS stage, doc_id, matched AS matched_doc FROM emb_rej
    UNION ALL
    SELECT 'accepted' AS stage, doc_id, CAST(NULL AS BIGINT) AS matched_doc FROM acc
    ORDER BY stage, doc_id
    """


@register(
    "q_multimodal_ingest",
    oracle=_mm_ingest_sql(),
    survey_ref=(
        "composed multimodal ingest, driver-checked (r13, r12 verdict #2/#7 — "
        "the last banked registry slot, promoted like q_ingest_funnel in r11): "
        "one paired (image, caption) batch through the REAL "
        "streaming.pipeline.composed_ingest_batch with the image screen at the "
        "head (LAION order); the oracle replays the full routing algebra — "
        "dHash/band/cap/Hamming/components/survivor for images, the m=2^16/k=4 "
        "Bloom probe against a real eval split for the survivors' captions, "
        "exact-caption collapse + MinHash band components for the "
        "decontaminated captions, then the embedding screen at NEARDUP_COS "
        "(exact-vector collapse, hyperplane buckets + multi-probe join, "
        "rounded-cosine verify, components, survivor) over the doubly-screened "
        "survivors — 'which screen takes each row' is value-hash-checked "
        "end-to-end across ALL FIVE armed screens (r14: + the cross-modal "
        "clip-score screen between image dedup and decontam — the planted "
        "MISCAPTION family, base ≡ 11 mod 16 carrying its successor's vector "
        "image-side, dies exactly at the 'clip' stage; parity pinned at "
        "sf0.001/0.01/0.1; the embdup family — new pixels, new words, same "
        "semantic vector — dies exactly at the vector stage)"
    ),
    tags=("multimodal", "streaming", "dedup", "pandas-udf"),
)
def q_multimodal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc routing of the composed LAION-order ingest: (stage,
    doc_id, matched_doc), one row per input row of the paired corpus —
    'image_dedup' rejects (brightness twins at Hamming 0, noise twins
    within the threshold, pixel-exact copies via their representative),
    'clip' rejects (r14 — the MISCAPTION family: base docs ≡ 11 mod 16
    carry their successor's vector image-side, the alt-text-describes-
    another-page pair that passes every dedup screen because nothing is
    duplicated; caught by the cross-modal cosine screen before its
    caption touches any text-chain store),
    'decontam' flags (the eval-split captions: verbatim held-out
    content that must never enter the corpus OR the downstream dedup
    stores), 'caption_dedup' rejects (the REPOST family: a different
    image under the same caption — exactly what only the text chain can
    catch, and only AFTER the image screen let the row through),
    'embedding_dedup' rejects (the EMBDUP family: new pixels AND new
    words but the same semantic vector — the mirror-site re-render only
    the vector stage can catch, plus the corpus's genuine vector
    near-dups at NEARDUP_COS), and 'accepted'.

    This runs the real composed foreachBatch body once per session into
    a temp state root and reads the screens' own verdict stores — so
    the driver check covers the CHAIN as deployed (election hand-off,
    store hygiene, stage order), not a reimplementation of it. The
    pytest suites keep covering replay/parity; the two disarmed screens
    (decontam, embedding) keep their own registered oracles.

    Scale shape (100 TB): identical to the component queries — the
    image stage is one Arrow decode pass + the banded self-join at the
    plan_hamming_config geometry; the caption stage collapses exact
    copies BEFORE banding (skew-proof at any copy count) and bands only
    representatives; both caps are doc_id-ordered and oracle-replayed,
    and neither binds on this corpus (test-pinned)."""
    state = _mm_ingest_state_dir(spark, sf_dir)
    img = (
        spark.read.parquet(os.path.join(state, "image", "rejected"))
        .select(
            F.lit("image_dedup").alias("stage"),
            "doc_id",
            F.col("matched_doc").cast("long").alias("matched_doc"),
        )
    )
    clip = (
        spark.read.parquet(os.path.join(state, "clipscore", "rejected"))
        .select(
            F.lit("clip").alias("stage"),
            "doc_id",
            F.lit(None).cast("long").alias("matched_doc"),
        )
    )
    dec = (
        spark.read.parquet(os.path.join(state, "decontam", "flagged"))
        .select(
            F.lit("decontam").alias("stage"),
            "doc_id",
            F.lit(None).cast("long").alias("matched_doc"),
        )
    )
    mh = (
        spark.read.parquet(os.path.join(state, "minhash", "rejected"))
        .select(
            F.lit("caption_dedup").alias("stage"),
            "doc_id",
            F.col("matched_doc").cast("long").alias("matched_doc"),
        )
    )
    emb = (
        spark.read.parquet(os.path.join(state, "embedding", "rejected"))
        .select(
            F.lit("embedding_dedup").alias("stage"),
            "doc_id",
            F.col("matched_vec").cast("long").alias("matched_doc"),
        )
    )
    acc = (
        spark.read.parquet(os.path.join(state, "accepted"))
        .select(
            F.lit("accepted").alias("stage"),
            "doc_id",
            F.lit(None).cast("long").alias("matched_doc"),
        )
    )
    return (
        img.unionByName(clip)
        .unionByName(dec)
        .unionByName(mh)
        .unionByName(emb)
        .unionByName(acc)
        .orderBy("stage", "doc_id")
    )


# ---------------------------------------------------------------------------
# Cross-modal consistency screen (CLIP-score shape; r14, r13 verdict
# #5): the other load-bearing LAION screen beside image dedup — drop
# paired rows whose image-side and caption-side vectors disagree.
# ---------------------------------------------------------------------------

# Planted pair families over the embeddings table (deterministic,
# engine-replayable): every 8th-plus-3 vec pairs with its SUCCESSOR's
# embedding (a mis-captioned pair — the alt-text describes some other
# page), every 8th-plus-5 with a ZERO vector (the unattestable pair —
# NaN cosine must land at the −2.0 guard, not rank as keepable), all
# others with their own embedding (the attested pair, cosine exactly 1).
CLIP_MISMATCH_MOD, CLIP_MISMATCH_RES = 8, 3
CLIP_ZERO_RES = 5


def _clip_score_sql() -> str:
    """DuckDB replay of the clip-score verdict algebra: the SAME pair
    build (successor left-join with self-fallback, zero-vector family),
    the SAME left-to-right double cosine fold (`_DOT_SQL`), the SAME
    6dp-round + NaN/NULL → −2.0 guard (`_guarded_cos_sql` — DuckDB's
    0/0 is NULL where Spark's is NaN; both must land at −2.0), and the
    SAME threshold — so `streaming.pipeline.clip_score_verdict`, the
    exact function the composed ingest screen deploys, is value-checked
    end-to-end."""
    from sentinela_py_spark.plans.simops import (
        _DOT_SQL,
        _guarded_cos_sql,
        _NORMSQ_SQL,
    )
    from sentinela_py_spark.streaming.pipeline import CLIP_SCORE_MIN

    raw = (
        f"{_DOT_SQL.format(a='iv', b='tv')} / "
        f"(SQRT({_NORMSQ_SQL.format(a='iv')}) * SQRT({_NORMSQ_SQL.format(a='tv')}))"
    )
    cos = _guarded_cos_sql(raw)
    return f"""
    WITH pairs AS (
      SELECT e.vec_id AS doc_id, e.embedding AS iv,
             CASE
               WHEN e.vec_id % {CLIP_MISMATCH_MOD} = {CLIP_MISMATCH_RES}
                 THEN COALESCE(p.embedding, e.embedding)
               WHEN e.vec_id % {CLIP_MISMATCH_MOD} = {CLIP_ZERO_RES}
                 THEN list_transform(e.embedding, x -> CAST(0.0 AS DOUBLE))
               ELSE e.embedding
             END AS tv
      FROM embeddings e LEFT JOIN embeddings p ON p.vec_id = e.vec_id + 1
    )
    SELECT doc_id, {cos} AS clip_cos,
           ({cos} >= {CLIP_SCORE_MIN}) AS keep
    FROM pairs
    ORDER BY doc_id
    """


def documents_to_clip_pairs(embeddings: DataFrame) -> DataFrame:
    """(doc_id, image_embedding, embedding): the paired-vector fixture —
    image-side vector is the row's own embedding; caption-side is the
    planted family above (successor's vector / zero vector / own)."""
    e = embeddings.select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("iv")
    )
    p = embeddings.select(
        (F.col("vec_id") - 1).alias("doc_id"), F.col("embedding").alias("pv")
    )
    res = F.col("doc_id") % CLIP_MISMATCH_MOD
    tv = (
        F.when(res == CLIP_MISMATCH_RES, F.coalesce(F.col("pv"), F.col("iv")))
        .when(
            res == CLIP_ZERO_RES,
            F.transform(F.col("iv"), lambda _: F.lit(0.0)),
        )
        .otherwise(F.col("iv"))
    )
    return e.join(p, "doc_id", "left").select(
        "doc_id",
        F.col("iv").alias("image_embedding"),
        tv.alias("embedding"),
    )


@register(
    "q_clip_score",
    oracle=_clip_score_sql(),
    survey_ref=(
        "multimodal curation (r14, r13 verdict #5 — the slot freed by the "
        "q_signature_neardup fold): cross-modal consistency screen, CLIP-score "
        "shape — paired rows carrying an image-side and a caption-side vector "
        "keep only when their 6dp-rounded cosine >= CLIP_SCORE_MIN, with the "
        "NaN/NULL → −2.0 degenerate guard (an unattestable pair is not a "
        "keepable pair); the REGISTERED query runs the literal "
        "streaming.pipeline.clip_score_verdict the composed ingest screen "
        "deploys (clip_score_screen_batch under clipscore/, the stateless "
        "map-only stage between media dedup and the text chain), so the "
        "oracle value-checks the deployed algebra"
    ),
    tags=("multimodal", "similarity", "curation", "streaming-twin"),
)
def q_clip_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal consistency verdicts over the paired-vector corpus —
    the batch twin of the composed pipeline's clip-score screen:
    (doc_id, clip_cos, keep), one row per pair.

    Perceptual dedup answers "have I seen this image"; THIS screen
    answers "does this caption belong to this image" — the mis-captioned
    pair (scraped alt-text describing the page, not the picture) is
    invisible to every dedup screen because nothing is duplicated. The
    LAION pipeline's published recipe is exactly these two screens back
    to back: perceptual-hash dedup, then CLIP-score filtering.

    The verdict function IS `streaming.pipeline.clip_score_verdict` —
    the same column algebra `clip_score_screen_batch` runs inside
    `composed_ingest_batch` (armed via ``clip_vec_col``) — applied to
    the planted pair families: attested pairs score exactly 1.0 (keep),
    mis-captioned pairs score whatever two unrelated embeddings score
    (the threshold separates them), zero-vector pairs hit the NaN guard
    at −2.0 (reject — unattestable). Engine-vs-oracle agreement on the
    guard pins the ONE cross-engine hazard: Spark's 0/0 is NaN, DuckDB's
    is NULL, and both must land at −2.0, not sort first.

    Scale shape (100 TB): map-only — the cosine folds ride the scan
    (zero shuffles, zero state; the fixture's successor join exists only
    to PLANT mismatches and is absent in deployment, where the two
    vectors arrive on the row). The screen composes after media dedup
    so a mis-captioned pair's caption never enters the band store or
    vector index."""
    from sentinela_py_spark.streaming.pipeline import clip_score_verdict

    pairs = documents_to_clip_pairs(load_table(spark, sf_dir, "embeddings"))
    return clip_score_verdict(
        pairs, id_col="doc_id", image_vec_col="image_embedding",
        text_vec_col="embedding",
    ).orderBy("doc_id")
