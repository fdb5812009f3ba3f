"""Training-data text operators over the `documents` table.

Deduplication (exact + n-gram Jaccard), token counting, quality scoring,
stopword language ID, and document fingerprinting — all as declarative
column plans (no Python UDFs in the hot path), each with a DuckDB oracle.

Scale notes: exact dedup is a single hash shuffle on the digest; Jaccard
near-dup uses shingle-bucket joins (each shingle is a join key, so work is
proportional to shared shingles, not n² over documents) — the same shape
MinHash-LSH banding uses at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sentinela_py_spark.functions.hist import (
    hist_cums_sql,
    hist_est_sql,
    hist_quantile_est,
)
from sentinela_py_spark.functions.text_stats import (
    LANG_STOPWORDS,
    add1_logp,
    avg_token_len,
    doc_fingerprint,
    quality_score,
    stopword_count,
    token_count,
    winnow_fingerprint,
    word_shingles,
)
from sentinela_py_spark.plans.memo import memo
from sentinela_py_spark.plans.registry import (
    method_arm as _method_arm,
    register,
    register_arms,
)
from sentinela_py_spark.tables import ensure_min_partitions, load_table


# Winnowing oracle twin (k=3 grams, w=4 windows): DuckDB list slices are
# 1-based inclusive, so window i covers h[i : i+3]. Sequences shorter
# than the window (1-3 grams) fall back to one window over the whole
# hash array — standard winnowing, mirrored in text_stats.py.
_WINNOW_HASHES = """list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
               j -> CAST(concat('0x', substr(md5(array_to_string(
                      list_slice(string_split(text, ' '), j, j + 2), ' ')), 1, 15)) AS BIGINT)
             )"""
_WINNOW_SQL = f"""
    md5(array_to_string(list_sort(list_distinct(
      CASE WHEN len(string_split(text, ' ')) - 2 BETWEEN 1 AND 3
        THEN [list_min({_WINNOW_HASHES})]
        ELSE list_transform(
          generate_series(1, greatest(len(string_split(text, ' ')) - 2 - 3, 0)),
          i -> list_min(({_WINNOW_HASHES})[i : i + 3])
        )
      END
      )), '-'))
"""


@register(
    "q_dedup_digests",
    oracle=f"""
    SELECT 'exact' AS method, md5(text) AS digest,
           COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
    FROM documents
    GROUP BY 2
    UNION ALL
    SELECT 'fingerprint' AS method,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS digest,
           COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
    FROM documents
    GROUP BY 2
    HAVING COUNT(*) > 1
    UNION ALL
    SELECT 'winnow' AS method, {_WINNOW_SQL} AS digest,
           COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
    FROM documents
    GROUP BY 2
    HAVING COUNT(*) > 1
    ORDER BY method, first_doc
    """,
    survey_ref=(
        "J6/A8 analog → exact corpus dedup (hash-groupBy, first-wins); "
        "text analysis: bag-of-words fingerprint dedup (order-insensitive digest) + "
        "winnowing rolling-hash fingerprint (MOSS window minima over the k-gram "
        "hash sequence — functions/text_stats.py::winnow_fingerprint)"
    ),
    tags=("dedup", "text"),
)
def q_dedup_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest-based dedup, three methods in one pass each:

    - ``exact``: md5 of the raw text, full survivor list (min doc_id wins)
      — one shuffle on a uniformly-distributed 128-bit key, no skew by
      construction.
    - ``fingerprint``: md5 of the sorted distinct-token bag, collision
      groups only — catches reordered copies exact hashing misses.
    - ``winnow``: rolling-hash (winnowing) fingerprint — the sorted
      distinct minima of every 4-wide window over the 3-gram hash
      sequence, digested; collision groups only. Position-stable local
      minima make it robust to small edits in ways the token bag is not.

    All are groupBy-on-digest aggregates; near (non-identical) copies are
    the MinHash/SimHash/Jaccard queries' job."""
    d = load_table(spark, sf_dir, "documents")
    exact = (
        d.groupBy(F.md5("text").alias("digest"))
        .agg(F.min("doc_id").alias("first_doc"), F.count("*").alias("n_docs"))
        .select(F.lit("exact").alias("method"), "digest", "n_docs", "first_doc")
    )
    fp = (
        d.groupBy(doc_fingerprint("text").alias("digest"))
        .agg(F.min("doc_id").alias("first_doc"), F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select(F.lit("fingerprint").alias("method"), "digest", "n_docs", "first_doc")
    )
    wn = (
        d.groupBy(winnow_fingerprint("text").alias("digest"))
        .agg(F.min("doc_id").alias("first_doc"), F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select(F.lit("winnow").alias("method"), "digest", "n_docs", "first_doc")
    )
    return exact.unionByName(fp).unionByName(wn).orderBy("method", "first_doc")


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({words})))"


_EN_STOP_SQL = _lang_hits_sql("en")
_BPE_TOKS_SQL = r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')"


@register(
    "q_text_profile",
    oracle=f"""
    WITH hits AS (
      SELECT doc_id, lang AS lang_label, text,
             {_lang_hits_sql('en')} AS hits_en,
             {_lang_hits_sql('es')} AS hits_es,
             {_lang_hits_sql('fr')} AS hits_fr,
             {_lang_hits_sql('de')} AS hits_de,
             {_lang_hits_sql('pt')} AS hits_pt
      FROM documents
    )
    SELECT doc_id, lang_label,
           CASE GREATEST(hits_en, hits_es, hits_fr, hits_de, hits_pt)
             WHEN 0 THEN 'und'
             WHEN hits_en THEN 'en'
             WHEN hits_es THEN 'es'
             WHEN hits_fr THEN 'fr'
             WHEN hits_de THEN 'de'
             ELSE 'pt' END AS lang_guess,
           len(string_split(text, ' ')) AS n_tokens,
           LENGTH(text) AS n_chars_measured,
           CAST(LENGTH(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_token_len,
           len({_BPE_TOKS_SQL}) AS n_bpe_tokens,
           len(list_distinct({_BPE_TOKS_SQL})) AS n_distinct_bpe_tokens,
           ROUND(CAST(LENGTH(text) AS DOUBLE)
             / greatest(len({_BPE_TOKS_SQL}), 1), 6) AS chars_per_token,
           ROUND(CAST(len({_BPE_TOKS_SQL}) AS DOUBLE)
             / greatest(len(string_split(text, ' ')), 1), 6) AS fertility,
           {_EN_STOP_SQL} AS n_stopwords,
           CAST({_EN_STOP_SQL} AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio,
           CAST((CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 100000 THEN 0.5 ELSE 0.0 END)
             + (CASE WHEN CAST({_EN_STOP_SQL} AS DOUBLE) / len(string_split(text, ' '))
                  BETWEEN 0.05 AND 0.6 THEN 0.5 ELSE 0.0 END) AS DOUBLE) AS quality,
           sha256('{{"doc_id": ' || doc_id || ', "text": "' || text || '"}}') AS payload_hash,
           (list_contains(string_split(text, ' '), 'model')
             AND len(list_filter(string_split(text, ' '), t -> t = 'data')) >= 1) AS mentions_model
    FROM hits
    ORDER BY doc_id
    """,
    survey_ref=(
        "text analysis composite: token counting (whitespace) + BPE-ish regex lexer stats + "
        "quality scoring (length/stopword heuristics) + language ID (stopword-hit vote) + "
        "M14 canonical-JSON SHA-256 (city_extraction_job.py:254-271) / F6 idempotency key + "
        "F2 array membership predicate (mongo_article_repository.py:58-72 cities $or shape)"
    ),
    tags=("text", "scalar", "hash"),
)
def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-document text profile — the signals a curation
    pipeline computes on every document stacked into ONE scan: whitespace
    and BPE-ish token stats, quality heuristic, stopword-vote language ID
    (fixed tie order en > es > fr > de > pt so engines agree), canonical-
    JSON sha256 idempotency key (Arrow pandas UDF mirroring
    ``json.dumps(sort_keys=True)`` — SURVEY §7.3.3), and an
    array-membership flag (the reference's ``cities.identifier == c``
    clause shape). At 100 TB one wide map-only projection beats six scans
    of the same corpus — everything here is codegen'd column algebra except
    the sha256 UDF, which rides the same pass as an Arrow batch."""
    from sentinela_py_spark.functions.hashing import canonical_sha256_udf

    d = load_table(spark, sf_dir, "documents")
    hits = {lang: stopword_count("text", LANG_STOPWORDS[lang]) for lang in ("en", "es", "fr", "de", "pt")}
    best = F.greatest(*hits.values())
    guess = (
        F.when(best == 0, "und")
        .when(hits["en"] == best, "en")
        .when(hits["es"] == best, "es")
        .when(hits["fr"] == best, "fr")
        .when(hits["de"] == best, "de")
        .otherwise("pt")
    )
    bpe_toks = F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0))
    n_bpe = F.size(bpe_toks)
    n_words = token_count("text")
    word_arr = F.split("text", " ")
    payload = F.struct(F.col("doc_id"), F.col("text"))
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        guess.alias("lang_guess"),
        n_words.alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        avg_token_len("text").alias("avg_token_len"),
        n_bpe.alias("n_bpe_tokens"),
        F.size(F.array_distinct(bpe_toks)).alias("n_distinct_bpe_tokens"),
        F.round(F.length("text").cast("double") / F.greatest(n_bpe, F.lit(1)), 6).alias("chars_per_token"),
        F.round(n_bpe.cast("double") / F.greatest(n_words, F.lit(1)), 6).alias("fertility"),
        stopword_count("text").alias("n_stopwords"),
        (stopword_count("text").cast("double") / token_count("text")).alias("stopword_ratio"),
        quality_score("text").alias("quality"),
        canonical_sha256_udf(payload).alias("payload_hash"),
        (
            F.array_contains(word_arr, "model") & F.exists(word_arr, lambda t: t == "data")
        ).alias("mentions_model"),
    ).orderBy("doc_id")


# Substring-span arm constants (operators/dedup.shared_span_pairs): seed
# gram length and the minimum reported span, in words. 8/12 put the
# single-isolated-gram case (8 words) under the report floor, so every
# reported span is a genuine multi-gram run.
SPAN_K = 8
MIN_SPAN_WORDS = 12

# Intra-doc repetition granularity: within-document repeats are
# short-phrase-scale (navigation chrome, degenerate generations), so the
# positioned-gram arm runs at 3-word grams and reports any repeat of at
# least one full gram — the positioned complement of the Gopher
# dup-n-gram RATIOS already in q_quality_rules.
INTRA_K = 3
MIN_INTRA_SPAN_WORDS = 3

# The intra arm's occurrence guard is REPLAYED in the oracle below —
# keep-first row_number over (doc_id, gram) by position — so a cap bite
# on some future fixture is an oracle-matched truncation, not a silent
# Spark-vs-DuckDB drift.
from sentinela_py_spark.operators.dedup import (  # noqa: E402
    DEFAULT_MAX_GRAM_OCCURRENCES as MAX_GRAM_OCC,
)


def intra_spans_sql(
    k: int = INTRA_K,
    min_span_words: int = MIN_INTRA_SPAN_WORDS,
    cap: int = MAX_GRAM_OCC,
) -> str:
    """DuckDB CTE chain (ig → igc → iruns → ispans) replaying
    `operators/dedup.intra_doc_repeat_spans` INCLUDING its keep-first
    occurrence guard (``igc``: first ``cap`` occurrences of each (doc,
    gram) by position — identical truncation semantics to the Spark
    window, so a cap bite matches instead of silently diverging). Used
    by the registered q_ngram_jaccard_pairs oracle and re-instantiated
    at a biting cap in tests."""
    return f"""
    ig AS MATERIALIZED (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(string_split(text,' '), i, i+{k}-1), ' ') AS gram
      FROM documents,
           UNNEST(generate_series(1, greatest(len(string_split(text,' ')) - {k} + 1, 0))) AS t(i)
    ),
    igc AS (
      SELECT doc_id, pos, gram
      FROM (
        SELECT doc_id, pos, gram,
               ROW_NUMBER() OVER (PARTITION BY doc_id, gram ORDER BY pos) AS occ
        FROM ig
      ) WHERE occ <= {cap}
    ),
    iruns AS (
      SELECT doc_id, pb - pa AS diag, pa, pb,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_id, pb - pa ORDER BY pa) AS run_id
      FROM (
        SELECT a.doc_id, a.pos AS pa, b.pos AS pb
        FROM igc a JOIN igc b
          ON a.doc_id = b.doc_id AND a.gram = b.gram AND a.pos < b.pos
      )
    ),
    ispans AS (
      SELECT doc_id,
             CAST(MIN(pa) AS INT) AS a_start, CAST(MIN(pb) AS INT) AS b_start,
             COUNT(*) + {k} - 1 AS span_words
      FROM iruns GROUP BY doc_id, diag, run_id
      HAVING COUNT(*) + {k} - 1 >= {min_span_words}
    )"""


@register(
    "q_ngram_jaccard_pairs",
    oracle=f"""
    WITH shingles AS (
      SELECT DISTINCT doc_id, shingle
      FROM (
        SELECT doc_id,
               UNNEST(list_transform(
                 generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
                 i -> concat_ws(' ', string_split(text,' ')[i],
                                     string_split(text,' ')[i+1],
                                     string_split(text,' ')[i+2]))) AS shingle
        FROM documents
      )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    spang AS MATERIALIZED (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(string_split(text,' '), i, i+{SPAN_K}-1), ' ') AS gram
      FROM documents,
           UNNEST(generate_series(1, greatest(len(string_split(text,' ')) - {SPAN_K} + 1, 0))) AS t(i)
    ),
    spanm AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM spang a JOIN spang b ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    spanruns AS (
      SELECT doc_a, doc_b, pa - pb AS diag, pa, pb,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS run_id
      FROM spanm
    ),
    spans AS (
      SELECT doc_a, doc_b,
             CAST(MIN(pa) AS INT) AS a_start, CAST(MIN(pb) AS INT) AS b_start,
             COUNT(*) + {SPAN_K} - 1 AS span_words
      FROM spanruns GROUP BY doc_a, doc_b, diag, run_id
      HAVING COUNT(*) + {SPAN_K} - 1 >= {MIN_SPAN_WORDS}
    ),
    {intra_spans_sql()}
    SELECT 'jaccard' AS method, doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) AS score,
           CAST(NULL AS INT) AS a_start, CAST(NULL AS INT) AS b_start,
           CAST(NULL AS BIGINT) AS span_words
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) >= 0.8
    UNION ALL
    SELECT 'span' AS method, doc_a, doc_b, CAST(NULL AS DOUBLE) AS score,
           a_start, b_start, span_words
    FROM spans
    UNION ALL
    SELECT 'intra' AS method, doc_id AS doc_a, doc_id AS doc_b,
           CAST(NULL AS DOUBLE) AS score, a_start, b_start, span_words
    FROM ispans
    ORDER BY method, doc_a, doc_b, a_start, b_start
    """,
    survey_ref=(
        "dedup: n-gram Jaccard near-duplicate detection; + span arm: substring-level "
        "shared-passage dedup (Lee-et-al repeated-substring removal via the "
        "inverted-index diagonal-run algebra, operators/dedup.shared_span_pairs); "
        "+ intra arm: WITHIN-document repeated passages (same diagonal-run algebra "
        "restricted to one doc — the positioned complement of the Gopher "
        "short-n-gram repetition ratios, operators/dedup.intra_doc_repeat_spans)"
    ),
    tags=("dedup",),
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-level duplicate EVIDENCE over the documents table, two arms
    tagged by ``method`` (both pure inverted-index algebra — candidate
    cost ∝ true gram collisions, never |docs|²):

    - ``jaccard``: 3-gram shingle Jaccard near-dup pairs at ≥ 0.8 — the
      exact-threshold complement of MinHash-LSH; a ratio of integers, so
      bit-identical across engines;
    - ``span``: SUBSTRING-level shared passages between otherwise-
      distinct documents (`operators/dedup.shared_span_pairs` — the
      Lee-et-al repeated-substring member of the dedup family): maximal
      runs of aligned shared 8-word grams, reported as (a_start,
      b_start, span_words) for every span of ≥ 12 words. The hot-gram
      df guard is armed but provably never bites at fixture scale
      (tests pin it), so the cap-free oracle sees identical rows.
    - ``intra``: WITHIN-document repeated passages (`operators/dedup.
      intra_doc_repeat_spans`) — the same diagonal-run algebra
      restricted to one document (join key includes doc_id, so no
      corpus-frequency cap is needed), at 3-word grams: boilerplate
      and degenerate repetition INSIDE a page, reported as positioned
      (first occurrence, repeat) spans with doc_a = doc_b. The
      per-doc occurrence guard (keep-first 64, the degenerate-spam
      bound) is REPLAYED in the oracle's ``igc`` CTE — same keep-first
      row_number — so parity is structural, not fixture-dependent
      (r10; tests pin a cap-biting doc against the replayed algebra)."""
    from sentinela_py_spark.operators.dedup import (
        intra_doc_repeat_spans,
        shared_span_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    spans, _audit = shared_span_pairs(
        d, k=SPAN_K, min_span_words=MIN_SPAN_WORDS
    )
    intra_spans, _iaudit = intra_doc_repeat_spans(
        d, k=INTRA_K, min_span_words=MIN_INTRA_SPAN_WORDS
    )
    intra_arm = intra_spans.select(
        F.lit("intra").alias("method"),
        F.col("doc_id").alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.lit(None).cast("double").alias("score"),
        F.col("a_start").cast("int").alias("a_start"),
        F.col("b_start").cast("int").alias("b_start"),
        "span_words",
    )
    span_arm = spans.select(
        F.lit("span").alias("method"),
        "doc_a",
        "doc_b",
        F.lit(None).cast("double").alias("score"),
        F.col("a_start").cast("int").alias("a_start"),
        F.col("b_start").cast("int").alias("b_start"),
        "span_words",
    )
    # slice+zip_with shingles (functions/text_stats.py): ~6x faster than a
    # transform(sequence)+subscript pipeline and ANSI-safe on <3-token docs.
    shingle_list = word_shingles(F.col("text"), k=3)
    # per-doc shingle-set size rides along via a window over the same
    # relation, so each self-join side already carries its size — two
    # size-lookup joins (and two recomputations of the explode) removed.
    # Shingles are folded to 64-bit xxhash as soon as they are exploded, so
    # the distinct AND the self-join shuffle fixed-width longs instead of
    # ~3-word strings (at 100 TB the shingle strings dominate shuffle bytes;
    # a 64-bit key makes both exchanges ~5x narrower, and a same-doc
    # collision needs ~2^32 shingles per doc to become likely).
    sizes_w = W.partitionBy("doc_id")
    shingles = (
        ensure_min_partitions(d)
        .select("doc_id", F.explode(F.transform(shingle_list, lambda s: F.xxhash64(s))).alias("shingle"))
        .distinct()
        .withColumn("n_shingles", F.count("*").over(sizes_w))
        # lazy checkpoint (r14 optimization, guide §2.4): both self-join
        # sides consume this frame and Catalyst plans the explode +
        # distinct + size window per side — the barrier materializes the
        # sized shingle table once (the `_fuzzy_decon_arm` treatment).
        .transform(barrier)
    )
    a = shingles.alias("a")
    b = shingles.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("n_common"),
            F.first("a.n_shingles").alias("na"),
            F.first("b.n_shingles").alias("nb"),
        )
    )
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    jac_arm = (
        common.select(
            F.lit("jaccard").alias("method"),
            "doc_a",
            "doc_b",
            jac.alias("score"),
            F.lit(None).cast("int").alias("a_start"),
            F.lit(None).cast("int").alias("b_start"),
            F.lit(None).cast("bigint").alias("span_words"),
        )
        .filter(F.col("score") >= 0.8)
    )
    return jac_arm.unionByName(span_arm).unionByName(intra_arm).orderBy(
        "method", "doc_a", "doc_b", "a_start", "b_start"
    )


# Mirrors functions/bloom._positions for the REGISTERED configuration
# (k ≤ 4, m = 2^16 ≤ 2^32): position i is the i-th disjoint 8-hex slice
# of ONE md5 digest, mod the bit count — one digest per gram on both
# build and probe. The salted-digest fallback (i ≥ 4 or m > 2^32) has no
# twin here by design; widening the registered config means extending
# this template in lockstep.
_BLOOM_POS_SQL = (
    "(CAST(concat('0x', substr(md5({g}), 1 + 8 * CAST({i} AS INT), 8)) AS BIGINT) % 65536)"
)

# Fuzzy decontamination verification threshold: whole-document 3-gram
# Jaccard ≥ 0.8 between a training doc and an eval doc — the published
# fuzzy-overlap screen (Llama/PaLM-style eval-contamination reports use
# near-dup similarity where exact n-gram screens miss lightly-edited
# copies). 0.8 matches q_ngram_jaccard_pairs' near-dup bar, so the two
# surfaces agree on what "the same document" means.
FUZZY_DECON_JACCARD = 0.8

_EVAL_SPLIT_SQL = "substr(md5(CAST({d} AS VARCHAR)), 1, 2) < '1a'"


def _fuzzy_decon_sql() -> str:
    """DuckDB CTE chunk for the fuzzy decontamination arm (no leading
    WITH): replays MinHash signatures + LSH banding (plans/dedupops
    builders — the same algebra q_minhash_pairs hash-checks), joins
    train bands against eval bands, then verifies candidates by exact
    whole-doc 3-gram Jaccard. Ends at ``fver``/``fcnt``."""
    from sentinela_py_spark.plans.dedupops import _SHINGLES_SQL, _band_sql, _minhash_sig_sql

    t_is_eval = _EVAL_SPLIT_SQL.format(d="t.doc_id")
    e_is_eval = _EVAL_SPLIT_SQL.format(d="e.doc_id")
    return f"""sigs AS ({_minhash_sig_sql()}),
    mbands AS ({_band_sql()}),
    fshing AS ({_SHINGLES_SQL}),
    fsizes AS (SELECT doc_id, COUNT(*) AS n FROM fshing GROUP BY doc_id),
    fcand AS (
      SELECT DISTINCT t.doc_id AS t_doc, e.doc_id AS e_doc
      FROM mbands t JOIN mbands e ON t.band = e.band AND t.sig = e.sig
      WHERE NOT ({t_is_eval}) AND ({e_is_eval})
    ),
    fver AS (
      SELECT c.t_doc, c.e_doc, COUNT(*) AS n_common
      FROM fcand c
      JOIN fshing a ON a.doc_id = c.t_doc
      JOIN fshing b ON b.doc_id = c.e_doc AND b.shingle = a.shingle
      JOIN fsizes sa ON sa.doc_id = c.t_doc
      JOIN fsizes sb ON sb.doc_id = c.e_doc
      GROUP BY c.t_doc, c.e_doc
      HAVING CAST(COUNT(*) AS DOUBLE) / (MIN(sa.n) + MIN(sb.n) - COUNT(*))
             >= {FUZZY_DECON_JACCARD}
    ),
    fcnt AS (SELECT t_doc, COUNT(*) AS n_cand FROM fcand GROUP BY t_doc)"""


@register(
    "q_decontamination",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' AS is_eval,
             UNNEST(list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - 4, 0)),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' '))) AS gram
      FROM documents
    ),
    dd AS (SELECT DISTINCT doc_id, is_eval, gram FROM grams),
    bloom_words AS (
      SELECT pos // 32 AS word, bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS mask FROM (
        SELECT {_BLOOM_POS_SQL.format(i='i.i', g='e.gram')} AS pos
        FROM (SELECT DISTINCT gram FROM dd WHERE is_eval) e
        CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS i) i
      ) GROUP BY 1
    ),
    bloom_flags AS (
      SELECT doc_id, COUNT(*) AS n FROM (
        SELECT p.doc_id, p.gram
        FROM (
          SELECT t.doc_id, t.gram, {_BLOOM_POS_SQL.format(i='i.i', g='t.gram')} AS pos
          FROM (SELECT DISTINCT doc_id, gram FROM dd WHERE NOT is_eval) t
          CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS i) i
        ) p JOIN bloom_words b ON b.word = p.pos // 32
        WHERE ((b.mask >> CAST(p.pos % 32 AS INT)) & 1) = 1
        GROUP BY p.doc_id, p.gram
        HAVING COUNT(*) = 4
      ) GROUP BY doc_id
    ),
    {_fuzzy_decon_sql()}
    SELECT 'exact' AS method, t.doc_id AS doc_id,
           COUNT(DISTINCT t.gram) AS n_shared_ngrams,
           COUNT(DISTINCT e.doc_id) AS n_eval_docs,
           COUNT(*) AS n_pairs
    FROM dd t JOIN dd e ON t.gram = e.gram AND NOT t.is_eval AND e.is_eval
    GROUP BY t.doc_id
    UNION ALL
    SELECT 'bloom' AS method, doc_id, n AS n_shared_ngrams,
           CAST(NULL AS BIGINT) AS n_eval_docs, CAST(NULL AS BIGINT) AS n_pairs
    FROM bloom_flags
    UNION ALL
    SELECT 'fuzzy' AS method, v.t_doc AS doc_id,
           MAX(v.n_common) AS n_shared_ngrams,
           COUNT(DISTINCT v.e_doc) AS n_eval_docs,
           MIN(f.n_cand) AS n_pairs
    FROM fver v JOIN fcnt f ON f.t_doc = v.t_doc
    GROUP BY v.t_doc
    ORDER BY method, doc_id
    """,
    survey_ref=(
        "LLM-pipeline: train/eval decontamination — flag training docs sharing "
        "word 5-grams with the held-out split (the q_train_split membership key); "
        "'bloom' arm = the same screen through a broadcast m-bit Bloom filter "
        "(functions/bloom.py — the 100 TB path when the eval gram set outgrows "
        "an exact broadcast); 'fuzzy' arm = whole-document MinHash-LSH overlap "
        "with the eval split verified at 3-gram Jaccard >= 0.8 (the near-dup "
        "contamination screen exact n-grams miss on lightly-edited copies)"
    ),
    tags=("dedup", "curation"),
)
def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination: which train docs leak eval content?
    Three arms, each tagged:

    - ``exact``: inverted-index equi-join of train and eval 5-grams
      (folded to xxhash64 before the shuffle — fixed-width keys); cost
      proportional to actually-shared grams, never |train| × |eval|.
    - ``bloom``: eval grams compressed into ONE broadcast Bloom-filter
      row (functions/bloom.py — m/8 bytes instead of the exact gram set);
      the train side probes it MAP-ONLY, no shuffle. Flag counts are ≥
      the exact arm's per doc (deterministic false positives at the
      filter's known rate) — at 100 TB this is the screen that runs on
      every ingest batch, with the exact join reserved for the flagged
      slice. Bench note: at bench scale the arm's wall time is dominated
      by the ONE-SHOT filter BUILD (the m-bit OR-aggregation over eval
      grams), so the bloom arm can time slower than exact — expected,
      not a regression: in deployment the filter is built once per eval
      set and amortized over every ingest batch, where the probe side is
      the map-only cost that matters.
    - ``fuzzy``: whole-DOCUMENT contamination the gram screens miss —
      a lightly-edited eval copy shares few exact 5-grams but stays a
      near-duplicate. Train-side MinHash band signatures join eval-side
      bands (the q_minhash_pairs inverted index, restricted across the
      split instead of a self-join), candidates are verified by exact
      3-gram Jaccard ≥ ``FUZZY_DECON_JACCARD``, and each flagged train
      doc reports its largest shingle overlap (``n_shared_ngrams`` —
      3-grams here, 5-grams in the exact arm), matched eval docs
      (``n_eval_docs``) and its band-candidate count pre-verification
      (``n_pairs`` — the screen's funnel). Candidate cost ∝ true band
      collisions; the hot-bucket cap path (`operators/scale.cap_buckets`)
      applies unchanged if a degenerate signature concentrates a bucket
      at corpus scale. Banding recall at the 0.8 bar is the standard
      S-curve (≥ 98% at 4×4); the oracle replays the SAME banding, so
      the check is exact, not recall-dependent.

    The eval split is the same deterministic md5-membership predicate
    q_train_split verifies (first digest byte < 0x1a ~ 10.2%), so the
    split is stable across engines, runs and partitionings. The oracle
    joins raw gram strings (DuckDB has no xxhash64), which doubles as a
    hash-collision audit, and rebuilds the identical filter bit-for-bit
    (md5 positions, two's-complement word masks)."""
    d = load_table(spark, sf_dir, "documents")
    train_s, eval_s = _decon_streams(d)
    return (
        _decon_exact(train_s, eval_s)
        .unionByName(_decon_bloom(train_s, eval_s))
        .unionByName(_fuzzy_decon_arm(d))
        .orderBy("method", "doc_id")
    )


def _decon_streams(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(train grams, eval grams) — one materialized explode feeding every
    consumer. Per-doc gram dedup happens MAP-SIDE (array_distinct on the
    shingle array) — (doc_id, gram) pairs are unique by construction
    since a doc is one row, so no shuffle-distinct is needed before any
    arm. The gram stream has up to FOUR consumers (train/eval ×
    exact/bloom); the lazy localCheckpoint materializes the explode once
    (~25% at sf0.1) — the batch analog of writing the gram table, which
    is what a 100 TB pipeline does anyway."""
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "1a"
    grams_s = (
        ensure_min_partitions(d)
        .select(
            "doc_id",
            is_eval.alias("is_eval"),
            F.explode(F.array_distinct(word_shingles(F.col("text"), k=5))).alias("g"),
        )
        .transform(barrier)
    )
    return grams_s.filter(~F.col("is_eval")), grams_s.filter(F.col("is_eval"))


def _decon_exact(train_s: DataFrame, eval_s: DataFrame) -> DataFrame:
    train = train_s.select(F.col("doc_id").alias("t_doc"), F.xxhash64("g").alias("gram"))
    ev = eval_s.select(F.col("doc_id").alias("e_doc"), F.xxhash64("g").alias("gram"))
    return (
        train.join(ev, "gram")
        .groupBy(F.col("t_doc").alias("doc_id"))
        .agg(
            F.count_distinct("gram").alias("n_shared_ngrams"),
            F.count_distinct("e_doc").alias("n_eval_docs"),
            F.count("*").alias("n_pairs"),
        )
        .select(F.lit("exact").alias("method"), "doc_id", "n_shared_ngrams", "n_eval_docs", "n_pairs")
    )


def _decon_bloom(train_s: DataFrame, eval_s: DataFrame) -> DataFrame:
    from sentinela_py_spark.functions.bloom import bloom_build, bloom_contains

    bloom_row = F.broadcast(bloom_build(eval_s.select(F.col("g").alias("key"))))
    return (
        train_s.crossJoin(bloom_row)
        .filter(bloom_contains(F.col("g"), F.col("bloom")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_ngrams"))
        .select(
            F.lit("bloom").alias("method"),
            "doc_id",
            "n_shared_ngrams",
            F.lit(None).cast("long").alias("n_eval_docs"),
            F.lit(None).cast("long").alias("n_pairs"),
        )
    )


# Dedicated bench-arm builders: the method_arm union-filter would drag
# the fuzzy branch's lazy localCheckpoints into the exact/bloom arms —
# a checkpoint is a pruning BARRIER, so Catalyst cannot constant-fold
# the filtered-out branch away and the arm pays the full signature
# computation it never reads (measured: exact arm 1.5s -> 2.9s at sf0.1
# when the fuzzy arm landed as a plain union branch).
def _decon_exact_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, e = _decon_streams(load_table(spark, sf_dir, "documents"))
    return _decon_exact(t, e)


def _decon_bloom_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, e = _decon_streams(load_table(spark, sf_dir, "documents"))
    return _decon_bloom(t, e)


def _decon_fuzzy_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fuzzy_decon_arm(load_table(spark, sf_dir, "documents"))


def _fuzzy_decon_arm(d: DataFrame) -> DataFrame:
    """The fuzzy arm's frame: train×eval MinHash band collisions verified
    at whole-doc 3-gram Jaccard ≥ ``FUZZY_DECON_JACCARD``. Shingles fold
    to xxhash64 before the verify join (fixed-width shuffle keys, as
    q_ngram_jaccard_pairs — the string-joining oracle doubles as the
    collision audit)."""
    from sentinela_py_spark.operators.dedup import lsh_band_signatures, minhash_signatures

    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "1a"
    # the signature aggregation feeds BOTH split sides — materialize it
    # once (the q_minhash_pairs treatment) or the md5-heavy build runs
    # twice; likewise the windowed shingle frame below feeds both join
    # sides of the verify
    bands = lsh_band_signatures(minhash_signatures(d)).transform(barrier)
    cand = (
        bands.filter(~is_eval)
        .alias("t")
        .join(bands.filter(is_eval).alias("e"), ["band", "sig"])
        .select(F.col("t.doc_id").alias("t_doc"), F.col("e.doc_id").alias("e_doc"))
        .distinct()
    )
    sizes_w = W.partitionBy("doc_id")
    shingles = (
        ensure_min_partitions(d)
        .select(
            "doc_id",
            F.explode(
                F.transform(word_shingles(F.col("text"), k=3), lambda s: F.xxhash64(s))
            ).alias("sh"),
        )
        .distinct()
        .withColumn("n_sh", F.count("*").over(sizes_w))
        .transform(barrier)
    )
    st = shingles.select(F.col("doc_id").alias("t_doc"), "sh", F.col("n_sh").alias("n_t"))
    se = shingles.select(F.col("doc_id").alias("e_doc"), "sh", F.col("n_sh").alias("n_e"))
    verified = (
        cand.join(st, "t_doc")
        .join(se, ["e_doc", "sh"])
        .groupBy("t_doc", "e_doc")
        .agg(
            F.count("*").alias("n_common"),
            F.first("n_t").alias("n_t"),
            F.first("n_e").alias("n_e"),
        )
        .filter(
            F.col("n_common").cast("double")
            / (F.col("n_t") + F.col("n_e") - F.col("n_common"))
            >= FUZZY_DECON_JACCARD
        )
    )
    flagged = verified.groupBy("t_doc").agg(
        F.max("n_common").alias("n_shared_ngrams"),
        F.count_distinct("e_doc").alias("n_eval_docs"),
    )
    cand_counts = cand.groupBy("t_doc").agg(F.count("*").alias("n_pairs"))
    return flagged.join(cand_counts, "t_doc").select(
        F.lit("fuzzy").alias("method"),
        F.col("t_doc").alias("doc_id"),
        "n_shared_ngrams",
        "n_eval_docs",
        "n_pairs",
    )


# Count-Min sketch geometry: CMS_D md5-seeded hash rows × CMS_W counters.
# Fixed memory (CMS_D × CMS_W longs per group key) at ANY corpus size —
# the heavy-hitter-counting member of the sketch family (HLL = distinct,
# histogram = percentiles, Bloom = membership, CMS = frequency). Estimate
# = min over rows of the probed counter; always ≥ the true count, with
# overestimate ≤ 2·N/CMS_W at probability 1 − 2^−CMS_D (Cormode &
# Muthukrishnan '05).
CMS_D = 4
CMS_W = 256


import math  # noqa: E402

from sentinela_py_spark.barrier import barrier, barrier_eager


def _cms_bucket_spark(tok, r: int):
    """Row-r counter index of a token: the r-th disjoint 8-hex (32-bit)
    slice of ONE md5 digest, mod CMS_W — one digest per token instead of
    CMS_D (md5 dominates per-row cost; the slices are independent uniform
    words). Integer-exact and engine-independent (DuckDB twin below).
    CMS_D ≤ 4: a 128-bit digest holds four 32-bit rows."""
    if r >= 4:
        raise ValueError(
            f"CMS row {r}: a 128-bit md5 digest holds only four 32-bit slices — "
            "raise CMS_D past 4 only with a salted-digest fallback (cf. bloom._positions)"
        )
    return (
        F.conv(F.substring(F.md5(tok), 1 + 8 * r, 8), 16, 10).cast("long") % CMS_W
    )


def _cms_rb(tok) -> F.Column:
    """Exploded (r, bucket) struct column of a token — the ONE definition
    of the sketch row layout, shared by the build (entries) and the probe
    so they can never drift apart."""
    return F.explode(
        F.array(
            *[
                F.struct(F.lit(r).alias("r"), _cms_bucket_spark(tok, r).alias("bucket"))
                for r in range(CMS_D)
            ]
        )
    )


def _cms_bucket_sql(tok: str, r: str) -> str:
    return f"(('0x' || substr(md5({tok}), 1 + 8 * CAST({r} AS INT), 8))::BIGINT % {CMS_W})"


# HyperLogLog geometry: m = 2^HLL_P registers per group key — the
# DISTINCT-counting member of the sketch family (Bloom = membership,
# CMS = frequency, histogram = percentiles, MinHash = similarity).
# Register index = first md5 hex char (p = 4 bits); rank = leading-zero
# count of the NEXT 60 digest bits + 1 (computed integer-exactly as
# 61 − length(bin(v)), capped at 60 so every harmonic term 2^(60−r)
# stays an integer). The harmonic sum is kept ORDER-INSENSITIVE by
# summing those integer terms in DECIMAL(38,0) — absent registers
# contribute 2^60 each — then ONE cast to double and one division, so
# Spark and DuckDB produce bit-identical estimates at any partitioning.
# Raw Flajolet estimator only (alpha_16 = 0.673): the small-range
# linear-counting correction needs ln(), whose last-ulp behavior is not
# contractually identical across engines — and it matters exactly when
# distinct counts are tiny, which is not the corpus-scale regime this
# sketch exists for (fixed 16-register state per language at ANY corpus
# size; demo geometry, like CMS_D×CMS_W).
HLL_P = 4
HLL_M = 1 << HLL_P
HLL_ALPHA = 0.673

_HLL_SUFFIX = "('0x' || substr(md5(tok), 2, 15))::BIGINT"
_HLL_SQL = f"""
    hll_regs AS (
      SELECT lang, ('0x' || substr(md5(tok), 1, 1))::BIGINT AS b,
             MAX(CASE WHEN {_HLL_SUFFIX} = 0 THEN 60
                 ELSE 61 - length(bin({_HLL_SUFFIX})) END) AS r
      FROM toks GROUP BY lang, b
    ),
    hll_est AS (
      SELECT lang,
             CAST(FLOOR({HLL_ALPHA} * {HLL_M * HLL_M} * POWER(2.0, 60) /
                  CAST(SUM(CAST(POWER(2.0, 60 - r) AS DECIMAL(38,0))) +
                       ({HLL_M} - COUNT(*)) * CAST(POWER(2.0, 60) AS DECIMAL(38,0))
                       AS DOUBLE)
                  + 0.5) AS BIGINT) AS n
      FROM hll_regs GROUP BY lang
    )"""


@register(
    "q_top_token_per_lang",
    oracle=f"""
    WITH toks AS (
      SELECT lang, UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    {_HLL_SQL},
    exact AS (
      SELECT lang, tok AS top_token, n
      FROM (
        SELECT lang, tok, COUNT(*) AS n,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY COUNT(*) DESC, tok) AS rn
        FROM toks GROUP BY lang, tok
      )
      WHERE rn = 1
    ),
    rows_r AS (SELECT UNNEST(generate_series(0, {CMS_D - 1})) AS r),
    sketch AS (
      SELECT lang, r, {_cms_bucket_sql('tok', 'r')} AS bucket, COUNT(*) AS c
      FROM toks CROSS JOIN rows_r
      GROUP BY lang, r, bucket
    ),
    probe AS (
      SELECT e.lang, e.top_token, rr.r,
             {_cms_bucket_sql('e.top_token', 'rr.r')} AS bucket
      FROM exact e CROSS JOIN rows_r rr
    ),
    cms AS (
      SELECT p.lang, p.top_token, MIN(s.c) AS n
      FROM probe p JOIN sketch s USING (lang, r, bucket)
      GROUP BY p.lang, p.top_token
    )
    SELECT 'exact' AS method, lang, top_token, n FROM exact
    UNION ALL
    SELECT 'cms' AS method, lang, top_token, n FROM cms
    UNION ALL
    SELECT 'hll' AS method, lang, CAST(NULL AS VARCHAR) AS top_token, n FROM hll_est
    ORDER BY method, lang
    """,
    survey_ref=(
        "U1-family grouped-map: applyInPandas per-group computation (text analysis) — "
        "exact arm; cms arm = Count-Min sketch frequency estimate (fixed "
        f"{CMS_D}×{CMS_W}-counter state per language at any corpus size, the "
        "heavy-hitter member of the sketch family); hll arm (r9) = HyperLogLog "
        "distinct-token estimate per language (16 registers per group at any "
        "corpus size — the DISTINCT member; order-insensitive integer harmonic "
        "sum makes the float estimate bit-identical cross-engine)"
    ),
    tags=("text", "pandas-udf", "sketch"),
)
def q_top_token_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent token per language, two arms:

    - ``exact``: grouped-map ``applyInPandas`` — each language's documents
      arrive as ONE pandas DataFrame (Arrow), the modal token is found
      vectorized, ties broken lexicographically so the result is
      deterministic and hash-matches the SQL window oracle. Scale note:
      groupBy(lang).applyInPandas shuffles each group to a single task —
      right when per-group state must be whole (mode, model fit); for
      merely-associative stats the built-in agg stays preferable. Both
      shapes are exposed; this arm proves the grouped-map path end-to-end.
    - ``cms``: the same winners' counts re-estimated from a Count-Min
      sketch (CMS_D md5-hash rows × CMS_W counters per language — fixed
      memory at ANY corpus size, map-side partial counts). The estimate is
      min over rows of the probed counter, always ≥ the exact n; the
      oracle rebuilds the sketch counter-for-counter, so the approximation
      itself is value-hash-checked. At 100 TB the sketch (not the exact
      token→count table) is what survives: 8 KB per language versus one
      row per distinct token.
    - ``hll``: HyperLogLog DISTINCT-token estimate per language —
      16 md5-derived registers per group at ANY corpus size (the
      distinct member of the sketch family; see the `_HLL_SQL` block
      comment for the determinism construction: integer 2^(60−rank)
      harmonic terms summed in DECIMAL, one cast, one division —
      bit-identical cross-engine, no ln()-dependent correction).
      ``top_token`` is NULL on this arm; ``n`` is the estimate."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")

    def top_token(pdf: "pd.DataFrame") -> "pd.DataFrame":
        toks = pdf["text"].str.split(" ").explode()
        counts = toks.groupby(toks).size()
        # deterministic winner: max count, then lexicographically smallest
        best_n = counts.max()
        best_tok = counts[counts == best_n].index.min()
        return pd.DataFrame(
            {"lang": [pdf["lang"].iloc[0]], "top_token": [best_tok], "n": [int(best_n)]}
        )

    # Lazy localCheckpoint: the grouped-map mode computation is the
    # dominant cost and has TWO consumers (the exact branch of the union
    # and the cms probe) — materialize its |languages| rows once instead
    # of running the pandas stage twice per materialization.
    exact = (
        d.select("lang", "text")
        .groupBy("lang")
        .applyInPandas(top_token, "lang string, top_token string, n long")
        .transform(barrier)
    )

    toks = ensure_min_partitions(d).select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    entries = toks.select("lang", _cms_rb(F.col("tok")).alias("rb"))
    sketch = entries.groupBy(
        "lang", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket")
    ).agg(F.count("*").alias("c"))
    probe = exact.select(
        "lang", "top_token", _cms_rb(F.col("top_token")).alias("rb")
    ).select("lang", "top_token", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
    cms = (
        F.broadcast(probe)
        .join(sketch, ["lang", "r", "bucket"])
        .groupBy("lang", "top_token")
        .agg(F.min("c").alias("n"))
    )
    return (
        exact.select(F.lit("exact").alias("method"), "lang", "top_token", "n")
        .unionByName(cms.select(F.lit("cms").alias("method"), "lang", "top_token", "n"))
        .unionByName(_hll_distinct_per_lang(toks))
        .orderBy("method", "lang")
    )


def _hll_distinct_per_lang(toks: DataFrame) -> DataFrame:
    """(method='hll', lang, top_token=NULL, n=estimate) over a
    (lang, tok) stream — see `_HLL_SQL` for the construction."""
    h = F.md5("tok")
    bucket = F.conv(F.substring(h, 1, 1), 16, 10).cast("long")
    v = F.conv(F.substring(h, 2, 15), 16, 10).cast("long")
    rank = F.when(v == 0, F.lit(60)).otherwise(F.lit(61) - F.length(F.bin(v)))
    regs = (
        toks.select("lang", bucket.alias("b"), rank.alias("rk"))
        .groupBy("lang", "b")
        .agg(F.max("rk").alias("r"))
    )
    term = F.pow(F.lit(2.0), F.lit(60) - F.col("r")).cast("decimal(38,0)")
    full = F.pow(F.lit(2.0), F.lit(60)).cast("decimal(38,0)")
    per_lang = regs.groupBy("lang").agg(
        (F.sum(term) + (F.lit(HLL_M) - F.count("*")) * full).alias("s_int")
    )
    numer = F.lit(HLL_ALPHA) * F.lit(HLL_M * HLL_M) * F.pow(F.lit(2.0), F.lit(60))
    est = F.floor(numer / F.col("s_int").cast("double") + 0.5).cast("long")
    return per_lang.select(
        F.lit("hll").alias("method"),
        "lang",
        F.lit(None).cast("string").alias("top_token"),
        est.alias("n"),
    )


def _hll_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedicated hll bench arm — the headline's exact branch hides a
    grouped-map behind a lazy localCheckpoint, which a union-filter arm
    could not prune away (the checkpoint-barrier rule)."""
    d = load_table(spark, sf_dir, "documents")
    toks = ensure_min_partitions(d).select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    return _hll_distinct_per_lang(toks)


# Measurement note: the cms arm SEMANTICALLY contains the exact winners'
# computation (the sketch is probed with them), so its timing is a
# superset of the exact arm's — read sketch cost as (cms − exact), not
# as the cms row alone.
register_arms(
    "q_top_token_per_lang",
    exact=_method_arm("q_top_token_per_lang", "exact"),
    cms=_method_arm("q_top_token_per_lang", "cms"),
    hll=_hll_arm,
)


@register(
    "q_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tfidf, rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
    survey_ref="text analysis: TF-IDF top terms per document (training-data feature extraction)",
    tags=("text",),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. Integer tf/df aggregates, one
    shuffle each; the document-frequency table joins on term (broadcast
    when vocab is small, AQE decides); ln ratio rounded to 6dp so both
    engines rank identically. At 100 TB the df table IS the vocabulary —
    small relative to the corpus, the canonical broadcast side."""
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # n_docs folds into the plan as a broadcast 1-row aggregate — no
    # separate count() job, and the whole query stays one submission.
    n_docs = d.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
        .orderBy("doc_id", "rnk")
    )


from sentinela_py_spark.functions.pii import PII_PATTERNS, pii_counts, redact_pii

_PII_EMAIL, _PII_PHONE, _PII_IPV4 = (p[1] for p in PII_PATTERNS)

# The documents corpus carries no real PII, so the scrub is demonstrated
# the same way the multimodal queries demonstrate decode: a deterministic
# contact blob derived from each row (id-keyed e-mail, phone, IPv4) is
# appended JVM-side / in SQL, then detected and redacted by the SHARED
# patterns. Both engines build byte-identical inputs, so counts, the
# extracted first e-mail, and the md5 of the redacted text all hash-match.
_PII_CONTACT_SQL = """
    ' contact user' || CAST(doc_id AS VARCHAR)
      || '@mail' || CAST(doc_id % 7 AS VARCHAR)
      || '.example.com call +55-' || CAST(doc_id % 900 + 100 AS VARCHAR)
      || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
      || '.42.' || CAST(doc_id * 7 % 256 AS VARCHAR)
"""

_PII_ORACLE = """
    WITH tainted AS (
      SELECT doc_id, text || {contact} AS full_text FROM documents
    ),
    s1 AS (
      SELECT *, regexp_replace(full_text, '{email}', '<EMAIL>', 'g') AS after_email
      FROM tainted
    ),
    s2 AS (
      SELECT *, regexp_replace(after_email, '{phone}', '<PHONE>', 'g') AS after_phone
      FROM s1
    ),
    scrubbed AS (
      SELECT *, regexp_replace(after_phone, '{ipv4}', '<IP>', 'g') AS redacted
      FROM s2
    )
    -- counts mirror the chained redaction: each pattern counted on the
    -- text with earlier kinds already replaced (functions/pii.py)
    SELECT doc_id,
           CAST(len(regexp_extract_all(full_text, '{email}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(after_email, '{phone}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(after_phone, '{ipv4}')) AS BIGINT) AS n_ipv4,
           regexp_extract(full_text, '{email}') AS first_email,
           md5(redacted) AS redacted_md5,
           CAST(length(full_text) - length(redacted) AS BIGINT) AS n_chars_removed
    FROM scrubbed
    ORDER BY doc_id
""".format(
    contact=_PII_CONTACT_SQL,
    email=_PII_EMAIL,
    phone=_PII_PHONE,
    ipv4=_PII_IPV4,
)


@register(
    "q_pii_redaction",
    oracle=_PII_ORACLE,
    survey_ref=(
        "PII scrub (training-data superset): regex detection counts + chained "
        "redaction + audit columns, patterns in the Java-regex/RE2 common subset "
        "(functions/pii.py)"
    ),
    tags=("text", "pii"),
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit over the corpus: detect e-mail / phone / IPv4
    occurrences, redact them with placeholder tokens, and emit the audit
    columns a lake keeps next to the cleaned text (per-kind counts, the
    first extracted e-mail, redacted-text checksum, bytes removed).

    Map-only: `regexp_count` + chained `regexp_replace` in one codegen'd
    projection — no shuffle, no UDF; at 100 TB the scrub rides the ingest
    scan. The deterministic contact blob (see module comment) makes every
    count nonzero so the driver check exercises real matches, not the
    vacuous zero case."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    contact = F.concat(
        F.lit(" contact user"),
        did.cast("string"),
        F.lit("@mail"),
        (did % 7).cast("string"),
        F.lit(".example.com call +55-"),
        (did % 900 + 100).cast("string"),
        F.lit("-"),
        (did % 9000 + 1000).cast("string"),
        F.lit(" from 10."),
        (did % 256).cast("string"),
        F.lit(".42."),
        (did * 7 % 256).cast("string"),
    )
    full = F.concat(F.col("text"), contact)
    counts = pii_counts(full)
    redacted = redact_pii(full)
    return d.select(
        "doc_id",
        counts["n_email"].cast("long").alias("n_email"),
        counts["n_phone"].cast("long").alias("n_phone"),
        counts["n_ipv4"].cast("long").alias("n_ipv4"),
        F.regexp_extract(full, _PII_EMAIL, 0).alias("first_email"),
        F.md5(redacted).alias("redacted_md5"),
        (F.length(full) - F.length(redacted)).cast("long").alias("n_chars_removed"),
    ).orderBy("doc_id")


# Model-based quality filter (the DCLM / fineweb-edu classifier stage)
# folded into q_quality_rules: the rule columns double as the feature
# vector, weak labels come from the rules themselves (the bootstrap a
# seed-less deployment starts from; swap in curated positives when you
# have them), and the trained linear score generalizes the hard
# thresholds into a soft margin. Features are centered/scaled toward
# unit range (exact IEEE ops on the 6dp-rounded columns, identical both
# engines) so the hinge margin target of 1 is reachable with O(1)
# weights inside the fixed schedule — uncentered, the positive-class
# mean swamps the gradient and the model degenerates to keep-all
# (measured: 0.73 → 0.97 label agreement from centering alone).
# Feature ORDER is load-bearing — it IS the w·x association order.
_QR_FEATS = ["bias", "dr_c", "ent_c", "ttf_s", "tbf_s", "lm_c"]
# entropy floor ≈ the corpus p25 (measured 2.87-2.89 at sf0.001-0.1), so
# the weak-label split is non-trivial at every driver scale
_QR_ENTROPY_FLOOR = 2.9

_QR_LABEL_SQL = (
    "CASE WHEN top_term_fraction > 0.30 OR top_bigram_fraction > 0.18"
    f" OR entropy < {_QR_ENTROPY_FLOOR!r} THEN -1.0 ELSE 1.0 END"
)
_QR_FEATURE_SQL = (
    "CAST(1.0 AS DOUBLE) AS bias, "
    "(distinct_ratio - 0.5) * 4.0 AS dr_c, "
    "(entropy - 3.0) * 4.0 AS ent_c, "
    "top_term_fraction * 4.0 AS ttf_s, "
    "top_bigram_fraction * 4.0 AS tbf_s, "
    "COALESCE(char_lm_logprob + 6.0, 0.0) AS lm_c"
)
_QR_SCORE_SQL = (
    "qw.w0 * x.bias + qw.w1 * x.dr_c + qw.w2 * x.ent_c"
    " + qw.w3 * x.ttf_s + qw.w4 * x.tbf_s + qw.w5 * x.lm_c"
)


def qr_chain_sql(src: str, p: str) -> str:
    """The q_quality_rules rule-feature + trained-model CTE chain over
    ANY (doc_id, text) relation ``src``, every CTE name prefixed with
    ``p`` so several instances can share one WITH list (no leading WITH;
    embed inside one). Ends at ``{p}scores`` (doc_id, svm_score) — the
    6dp-rounded trained-on-this-relation linear-SVM score, the DuckDB
    twin of `qr_model_scores`. q_quality_rules instantiates it over
    ``documents``; the composed curation oracle (plans/curation.py)
    instantiates it over the screened pool to replay the model gate."""
    from sentinela_py_spark.functions.linear_model import svm_weights_sql

    return f"""{p}tf AS (
      SELECT doc_id, term, COUNT(*) AS n_t
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM {src})
      GROUP BY doc_id, term
    ),
    {p}uni AS (
      SELECT doc_id,
             CAST(SUM(n_t) AS BIGINT) AS n_tokens,
             COUNT(*) AS n_distinct_terms,
             CAST(MAX(n_t) AS BIGINT) AS top_tf,
             CAST(SUM(CAST(n_t * LN(n_t) AS DECIMAL(28,15))) AS DOUBLE) AS s_nlogn
      FROM {p}tf GROUP BY doc_id
    ),
    {p}bg AS (
      SELECT doc_id, bigram, COUNT(*) AS n_b
      FROM (
        SELECT doc_id,
               UNNEST(list_transform(
                 generate_series(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
               )) AS bigram
        FROM {src}
      )
      GROUP BY doc_id, bigram
    ),
    {p}bi AS (
      SELECT doc_id, CAST(MAX(n_b) AS BIGINT) AS top_bf, CAST(SUM(n_b) AS BIGINT) AS n_bigrams
      FROM {p}bg GROUP BY doc_id
    ),
    {p}cbg AS (
      SELECT doc_id,
             UNNEST(list_transform(generate_series(1, len(text) - 1),
                                   i -> substr(text, i, 2))) AS cb
      FROM {src}
    ),
    {p}cmodel AS (
      SELECT cb, COUNT(*) AS cnt, substr(cb, 1, 1) AS ctx FROM {p}cbg GROUP BY cb
    ),
    {p}cctx AS (SELECT ctx, CAST(SUM(cnt) AS BIGINT) AS ctx_cnt FROM {p}cmodel GROUP BY ctx),
    {p}cv AS (SELECT COUNT(*) AS v FROM {p}cmodel),
    {p}clogp AS (
      SELECT m.cb, ROUND(LN(CAST(m.cnt + 1 AS DOUBLE) / (c.ctx_cnt + {p}cv.v)), 6) AS logp
      FROM {p}cmodel m JOIN {p}cctx c USING (ctx) CROSS JOIN {p}cv
    ),
    {p}lm AS (
      SELECT {p}cbg.doc_id,
             ROUND(CAST(SUM(CAST(s.logp AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*), 6)
                 AS char_lm_logprob
      FROM {p}cbg JOIN {p}clogp s USING (cb)
      GROUP BY {p}cbg.doc_id
    ),
    {p}feat AS MATERIALIZED (
      SELECT {p}uni.doc_id, n_tokens, n_distinct_terms,
             ROUND(CAST(n_distinct_terms AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
             ROUND(LN(n_tokens) - s_nlogn / n_tokens, 6) AS entropy,
             ROUND(CAST(top_tf AS DOUBLE) / n_tokens, 6) AS top_term_fraction,
             ROUND(CAST(COALESCE(top_bf, 0) AS DOUBLE) / GREATEST(COALESCE(n_bigrams, 0), 1), 6)
                 AS top_bigram_fraction,
             (CAST(top_tf AS DOUBLE) / n_tokens > 0.30
              OR CAST(COALESCE(top_bf, 0) AS DOUBLE) / GREATEST(COALESCE(n_bigrams, 0), 1) > 0.18)
                 AS repetitive,
             {p}lm.char_lm_logprob
      FROM {p}uni LEFT JOIN {p}bi ON {p}uni.doc_id = {p}bi.doc_id
               LEFT JOIN {p}lm ON {p}uni.doc_id = {p}lm.doc_id
    ),
    {p}x AS MATERIALIZED (
      SELECT *, {_QR_FEATURE_SQL},
             {_QR_LABEL_SQL} AS y
      FROM {p}feat
    ),
    {svm_weights_sql(f"{p}x", "doc_id", _QR_FEATS, "y", prefix=f"{p}svm")},
    {p}scores AS (
      SELECT x.doc_id, ROUND({_QR_SCORE_SQL}, 6) AS svm_score
      FROM {p}x x CROSS JOIN {p}svm_w qw
    )"""


@register(
    "q_quality_rules",
    oracle=f"""
    WITH {qr_chain_sql('documents', 'qr_')},
    qr_cuts AS (
      SELECT d.lang,
             ROUND(quantile_cont(f.char_lm_logprob, 1.0/3), 4) AS c33,
             ROUND(quantile_cont(f.char_lm_logprob, 2.0/3), 4) AS c67
      FROM qr_feat f JOIN documents d USING (doc_id)
      GROUP BY d.lang
    ),
    qrv AS (
      SELECT d.lang, f.char_lm_logprob
      FROM qr_feat f JOIN documents d USING (doc_id)
    ),
    {hist_cums_sql('qrv', 'lang', 'char_lm_logprob', prefix='qrh_')},
    qr_hcuts AS (
      SELECT c.lang,
             {hist_est_sql(1.0 / 3)} AS c33h,
             {hist_est_sql(2.0 / 3)} AS c67h
      FROM qrh_cums c JOIN qrh_stats s USING (lang)
    ),
    qr_wm AS (
      SELECT bigram, split_part(bigram, ' ', 1) AS ctx,
             CAST(SUM(n_b) AS BIGINT) AS cnt
      FROM qr_bg GROUP BY 1, 2
    ),
    qr_wctx AS (SELECT ctx, CAST(SUM(cnt) AS BIGINT) AS ctx_cnt FROM qr_wm GROUP BY ctx),
    qr_wv AS (SELECT COUNT(*) AS v FROM qr_wm),
    qr_wlogp AS (
      SELECT m.bigram,
             CAST(ROUND(LN(CAST(m.cnt + 1 AS DOUBLE) / (c.ctx_cnt + qr_wv.v)) * 1000000, 0) AS BIGINT) AS wlogp_micro
      FROM qr_wm m JOIN qr_wctx c USING (ctx) CROSS JOIN qr_wv
    ),
    qr_wlm AS (
      SELECT b.doc_id,
             CAST(SUM(s.wlogp_micro * b.n_b) AS DOUBLE)
               / CAST(SUM(b.n_b) * 1000000 AS DOUBLE) AS word_lm_logprob
      FROM qr_bg b JOIN qr_wlogp s USING (bigram)
      GROUP BY b.doc_id
    ),
    qr_wcuts AS (
      SELECT d.lang,
             quantile_cont(wl.word_lm_logprob, 1.0/3) AS w33,
             quantile_cont(wl.word_lm_logprob, 2.0/3) AS w67
      FROM qr_feat f
      JOIN documents d USING (doc_id)
      LEFT JOIN qr_wlm wl ON f.doc_id = wl.doc_id
      GROUP BY d.lang
    )
    SELECT f.doc_id, n_tokens, n_distinct_terms, distinct_ratio, entropy,
           top_term_fraction, top_bigram_fraction, repetitive,
           char_lm_logprob, wl.word_lm_logprob,
           s.svm_score, (s.svm_score > 0) AS model_keep,
           d.lang,
           CASE WHEN f.char_lm_logprob >= c.c67 THEN 'head'
                WHEN f.char_lm_logprob >= c.c33 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket,
           CASE WHEN f.char_lm_logprob >= h.c67h THEN 'head'
                WHEN f.char_lm_logprob >= h.c33h THEN 'middle'
                ELSE 'tail' END AS ppl_bucket_hist,
           CASE WHEN wl.word_lm_logprob >= wc.w67 THEN 'head'
                WHEN wl.word_lm_logprob >= wc.w33 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket_word
    FROM qr_feat f
    JOIN qr_scores s ON f.doc_id = s.doc_id
    JOIN documents d ON f.doc_id = d.doc_id
    JOIN qr_cuts c ON d.lang = c.lang
    JOIN qr_hcuts h ON d.lang = h.lang
    JOIN qr_wcuts wc ON d.lang = wc.lang
    LEFT JOIN qr_wlm wl ON f.doc_id = wl.doc_id
    ORDER BY f.doc_id
    """,
    survey_ref=(
        "text analysis: token-distribution entropy (quality/diversity score) + "
        "Gopher-style repetition rules (top-term fraction, top-2-gram fraction, "
        "distinct-token ratio) — the document-level repetition filters a "
        "pretraining curation pipeline applies corpus-wide; + char-bigram LM "
        "likelihood (the KenLM-style perplexity quality signal, corpus-trained "
        "add-1-smoothed model, deterministic on both engines); + model-based "
        "quality filter (r7): L2-hinge linear classifier trained distributively "
        "on weak labels over the rule features, DuckDB replaying the full "
        "gradient-descent chain bit-for-bit; + CCNet perplexity buckets (r10): "
        "per-lang head/middle/tail tertiles of the char-LM likelihood — "
        "exact cutoffs + the 64-bin histogram-sketch cutoff twin (r11, "
        "functions/hist — the fixed-memory deployment path, ppl_bucket_hist "
        "hash-checked including binning error), bucket assigned map-side "
        "(CCNet's cutoffs-then-map architecture, no per-lang global sort); "
        "+ word-bigram LM twin (r12 — the WORD-level likelihood CCNet's "
        "tertiles actually score, riding the Gopher bigram counts: "
        "word_lm_logprob + ppl_bucket_word, add-1 model replayed in SQL)"
    ),
    tags=("text", "quality"),
)
def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/diversity quality signals per document: Shannon entropy
    of the token distribution, distinct-token ratio, top-term fraction and
    top-2-gram fraction, plus the boolean `repetitive` verdict (Gopher-rule
    thresholds: top term > 30% of tokens or top bigram > 18% of bigrams).

    Entropy is computed in ONE aggregation via the identity
    H = ln(n) - Σ(n_t·ln n_t)/n — no sizes-join. The Σ term is cast to
    DECIMAL(28,15) before summing so the aggregate is order-insensitive
    (double sums are not associative; a shuffle-order change would
    otherwise flip low bits and break the oracle hash). The bigram arm
    reuses the shingle builder; both arms shuffle on doc_id once and the
    final join is doc_id-aligned. At 100 TB this is the shape you want:
    cost ∝ corpus tokens, no cross-document state.

    `char_lm_logprob` is the KenLM-style likelihood quality signal: a
    corpus-trained add-1-smoothed character-bigram model — logp(c₂|c₁) =
    ln((cnt+1)/(ctx_cnt+V)), rounded 6dp at BUILD time so both engines
    store identical doubles — scored per doc as the mean over its char
    bigrams, summed in DECIMAL so partitioning can't flip bits. The model
    is |charset|² rows (broadcasts at any corpus size); scoring is one
    broadcast join riding the same explode. Low-likelihood docs are the
    gibberish/boilerplate a perplexity filter removes.

    ``lang``/``ppl_bucket`` (r10) are the CCNet perplexity TERTILES
    (Wenzek et al. 2020): per-language head/middle/tail split of the
    LM-likelihood distribution — the partitioning CCNet publishes its
    Common Crawl releases under, and the knob its consumers sample by
    (head-only for quality, head+middle for coverage). Cutoffs are one
    per-lang percentile aggregate broadcast back; assignment is a
    map-side CASE — see the in-body comment for the 100 TB rationale.
    ``ppl_bucket_hist`` (r11) is the same tertile assignment under the
    64-bin HISTOGRAM-SKETCH cutoffs (`functions.hist`, the
    q_price_percentiles pattern): the exact percentile's per-group
    distinct-value map funnels the dominant language through one
    final-aggregation task at corpus scale, while the sketch holds 64
    longs per lang — the paired bucket columns are the deployment
    path's accuracy audit, oracle-checked including binning error.

    ``word_lm_logprob``/``ppl_bucket_word`` (r12) are the WORD-level LM
    twin (`_qr_wordlm`): CCNet's published scorer is a word-n-gram LM,
    so the tertiles that cite it should bucket a word-level likelihood
    — the char-bigram families stay as the fixed-vocabulary signal
    (robust to unseen words; the two column families disagree exactly
    where that matters). The word cutoffs ride the same checkpointed
    slim frame and the same exact-percentile aggregation; the model
    itself is trained corpus-wide off the Gopher bigram counts (no new
    explode) and is vocabulary-sized — scored via an equi-shuffle join,
    never broadcast, never collected.

    `svm_score`/`model_keep` are the MODEL-BASED quality filter (the
    DCLM / fineweb-edu classifier stage): an L2-hinge linear classifier
    trained ON THIS CORPUS by `functions.linear_model.svm_weights` —
    weak labels from the rule thresholds themselves (the seed-less
    bootstrap; a deployment swaps in curated positives), features = the
    6dp-rounded rule columns centered/scaled toward unit range + bias +
    NULL-coalesced char-LM score (97% label agreement, keeps ~75% of
    the driver corpus — a real filter, not keep-all).
    The trained weights are memoized per session and sf_dir
    (`_qr_model_weights`): a quality model trains once and scores every
    batch after, as a deployment does — so the registered query prices
    as the feature pipeline + a literal-weight projection; the bench
    `model` arm calls training directly (memo bypassed) so its cost
    stays a measured number. The oracle replays the ENTIRE descent via
    `svm_weights_sql`'s CTE chain, so the driver hash-checks the
    training algebra itself, not just the final filter."""
    from sentinela_py_spark.functions.linear_model import linear_score

    w = _qr_model_weights(spark, sf_dir)
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    # ONE bigram explode+shuffle serves the Gopher repetition aggregate
    # AND the word-LM chain (r12 — the oracle's single qr_bg CTE,
    # mirrored; the checkpoint is the multi-consumer barrier)
    bg = _qr_bigram_counts(d).transform(barrier)
    x = _qr_model_cols(_qr_features(d, bg=bg))
    scored = (
        x.withColumn("svm_score", F.round(linear_score(_QR_FEATS, w), 6))
        .join(d.select("doc_id", "lang"), "doc_id")
        # word-LM score (r12): left join — a one-token doc has no word
        # bigrams and carries a NULL score into the 'tail' bucket, the
        # same NULL discipline as the <2-char char-LM docs
        .join(_qr_wordlm(d, bg=bg), "doc_id", "left")
        # r14 optimization (guide §5: cache what is consumed twice): the
        # cutoff branch below materializes this frame once for `slim`,
        # and the final select consumes it AGAIN — without a barrier the
        # whole feature pipeline (char-LM explode included, measured
        # ~2.5 s of the row) re-runs in the final plan. One row per doc,
        # so the checkpoint is tiny.
        .transform(barrier)
    )
    # CCNet perplexity buckets (r10): per-lang tertile CUTOFFS broadcast
    # back, bucket assigned MAP-SIDE by comparison. This is CCNet's
    # actual architecture (cutoffs from the scored corpus, then a map
    # pass) and the 100 TB shape: no per-lang global sort — an NTILE
    # over the corpus would serialize each language through one
    # partition. NULL-LM docs (<2 chars) land in 'tail' in both engines
    # (NULL >= cutoff is false-ish in the CASE).
    #
    # TWO cutoff computations ride one checkpointed (lang, logprob)
    # frame:
    # - EXACT (`ppl_bucket`, the oracle's anchor): Spark `percentile` ==
    #   DuckDB `quantile_cont` (4dp absorbs interpolation ulps;
    #   boundary-doc bit-identity pinned in tests). NOT free at corpus
    #   scale: exact percentile buffers a distinct-value→count map per
    #   group — bounded here (~10⁷ 6dp-rounded means worst case) but the
    #   dominant language funnels that whole map through ONE
    #   final-aggregation task (hundreds of MB of skewed state at
    #   100 TB);
    # - HISTOGRAM (`ppl_bucket_hist`, r11 — the deployment twin): the
    #   64-bin equi-width sketch (`functions.hist`, the
    #   q_price_percentiles pattern) holds 64 longs per lang at any
    #   corpus size; its cutoffs are oracle-checked INCLUDING binning
    #   error, and the paired bucket columns are the accuracy audit.
    slim = scored.select(
        "lang", "char_lm_logprob", "word_lm_logprob"
    ).transform(barrier)
    cuts = slim.groupBy("lang").agg(
        F.round(F.percentile("char_lm_logprob", F.lit(1.0 / 3)), 4).alias("c33"),
        F.round(F.percentile("char_lm_logprob", F.lit(2.0 / 3)), 4).alias("c67"),
        # lo/hi ride the exact aggregation so the histogram costs one
        # extra scan (the bin counts) over the checkpointed slim frame
        F.min("char_lm_logprob").alias("lo"),
        F.max("char_lm_logprob").alias("hi"),
        # word-LM tertile cutoffs (r12) ride the SAME aggregation — the
        # second cutoff family costs two more percentile buffers, not a
        # second shuffle. UNROUNDED on purpose: the interpolation is
        # bit-identical across engines (pinned in
        # tests/test_pii_packing.py) and the word scores are rational
        # quotients, where a decimal round is exactly where cross-engine
        # ties live (see _qr_wordlm)
        F.percentile("word_lm_logprob", F.lit(1.0 / 3)).alias("w33"),
        F.percentile("word_lm_logprob", F.lit(2.0 / 3)).alias("w67"),
    )
    hcuts = hist_quantile_est(
        slim,
        ["lang"],
        "char_lm_logprob",
        cuts.select("lang", "lo", "hi"),
        {"c33h": 1.0 / 3, "c67h": 2.0 / 3},
    )
    bucket = (
        F.when(F.col("char_lm_logprob") >= F.col("c67"), "head")
        .when(F.col("char_lm_logprob") >= F.col("c33"), "middle")
        .otherwise("tail")
    )
    bucket_hist = (
        F.when(F.col("char_lm_logprob") >= F.col("c67h"), "head")
        .when(F.col("char_lm_logprob") >= F.col("c33h"), "middle")
        .otherwise("tail")
    )
    bucket_word = (
        F.when(F.col("word_lm_logprob") >= F.col("w67"), "head")
        .when(F.col("word_lm_logprob") >= F.col("w33"), "middle")
        .otherwise("tail")
    )
    return (
        scored.join(
            F.broadcast(cuts.select("lang", "c33", "c67", "w33", "w67")), "lang"
        )
        .join(F.broadcast(hcuts), "lang")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct_terms",
            "distinct_ratio",
            "entropy",
            "top_term_fraction",
            "top_bigram_fraction",
            "repetitive",
            "char_lm_logprob",
            "word_lm_logprob",
            "svm_score",
            (F.col("svm_score") > 0).alias("model_keep"),
            "lang",
            bucket.alias("ppl_bucket"),
            bucket_hist.alias("ppl_bucket_hist"),
            bucket_word.alias("ppl_bucket_word"),
        )
        .orderBy("doc_id")
    )


def _half_up6(x: float) -> float:
    """6dp HALF_UP on the EXACT binary double — the rounding F.round and
    DuckDB ROUND both apply (Java BigDecimal(double) semantics). Python's
    builtin round() is banker's rounding on the shortest decimal repr, so
    a ln() landing on a .5e-7 boundary would diverge from the Spark-side
    `F.round(F.log(...), 6)` the batch-trained path uses (the same hazard
    `_binfit_packed` documents)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _half_up_micro(x: float) -> int:
    """Integer micro units (round-half-up of x·10⁶) matching the
    Spark-side `F.round(col * 1000000, 0).cast("long")` the word-LM
    model build uses — the double PRODUCT is taken first, exactly as
    Spark evaluates it, then BigDecimal-half-up rounded."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(x * 1000000).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def qr_frozen_model(d: DataFrame, model_dir: str | None = None) -> dict:
    """Offline quality-model training for INGEST-TIME scoring — the
    FAISS-codebook semantics applied to the quality filter: train once
    on a reference corpus, FREEZE, score every future micro-batch
    map-side (`qr_score_frozen`; the streaming quality screen consumes
    this). Returns driver-resident artifacts:

    - ``weights``: the d+1 SVM weights (`svm_weights` on the corpus's
      weak-labeled rule features, exactly the q_quality_rules path);
    - ``clogp``: the char-bigram LM as (cb, logp) rows — |charset|²-
      bounded, a few thousand entries;
    - ``cctx``: per-context totals (ctx, ctx_cnt) for the add-1 backoff
      on bigrams the training corpus never saw;
    - ``v``: the model's vocabulary size (distinct bigrams).

    All four are small by construction (the LM is char-level), so
    shipping them to the driver costs what one broadcast costs and makes
    the screen self-contained across micro-batches and restarts.

    Plus the WORD-bigram LM twin (r12 — the `_qr_wordlm` signal under
    the same frozen contract), which is vocabulary-sized and therefore
    NEVER collected: ``wlogp_df`` (bigram, wlogp) and ``wctx_df`` (ctx,
    ctx_cnt) stay DataFrame artifacts; ``wv`` is the O(1)
    vocabulary-size scalar.

    Durability contract (r13, r12 ADVICE): pass ``model_dir`` to
    persist the word artifacts as parquet model tables under it —
    the returned ``wlogp_df``/``wctx_df`` then READ BACK from disk, so
    the dict is self-contained across executor decommission AND session
    restarts, matching the collected char parts. Without ``model_dir``
    they are eager localCheckpoints: one materialization serves every
    micro-batch of THIS session, but the blocks die with the session
    (or an executor) — an in-session convenience, not a deployment
    artifact. A deployment always passes ``model_dir`` and rotates
    models by retraining into a new dir and restarting the stream (the
    codebook contract)."""
    from sentinela_py_spark.functions.linear_model import svm_weights

    w = svm_weights(_qr_trainable(d).coalesce(4), _QR_FEATS)
    cbg = d.select(F.explode(_char_bigrams(F.col("text"))).alias("cb"))
    cmodel = (
        cbg.groupBy("cb")
        .agg(F.count("*").alias("cnt"))
        .withColumn("ctx", F.substring("cb", 1, 1))
    )
    cctx = cmodel.groupBy("ctx").agg(F.sum("cnt").alias("ctx_cnt"))
    rows = (
        cmodel.join(cctx, "ctx")
        .select("cb", "ctx", "cnt", "ctx_cnt")
        .collect()
    )
    v = len(rows)
    clogp = [
        (r["cb"], _half_up6(math.log((r["cnt"] + 1) / (r["ctx_cnt"] + v))))
        for r in rows
    ]
    ctx_counts = sorted({(r["ctx"], r["ctx_cnt"]) for r in rows})
    wm = (
        d.select(F.explode(word_shingles(F.col("text"), k=2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .withColumn("ctx", F.substring_index("bigram", " ", 1))
    )
    wctx_df = (
        wm.groupBy("ctx")
        .agg(F.sum("cnt").alias("ctx_cnt"))
        .transform(barrier_eager)
    )
    wv = wm.count()
    wlogp_df = (
        wm.join(wctx_df, "ctx")
        .select(
            "bigram",
            F.round(add1_logp(F.col("cnt"), F.col("ctx_cnt"), F.lit(wv)) * 1000000, 0)
            .cast("long")
            .alias("wlogp_micro"),
        )
        .transform(barrier_eager)
    )
    if model_dir is not None:
        # durable word artifacts (r13): parquet model tables, read back
        # so the returned frames survive session restarts
        import os as _os

        spark = d.sparkSession
        wlogp_path = _os.path.join(model_dir, "wlogp")
        wctx_path = _os.path.join(model_dir, "wctx")
        wlogp_df.write.mode("overwrite").parquet(wlogp_path)
        wctx_df.write.mode("overwrite").parquet(wctx_path)
        wlogp_df = spark.read.parquet(wlogp_path)
        wctx_df = spark.read.parquet(wctx_path)
    return {
        "weights": w,
        "clogp": clogp,
        "cctx": ctx_counts,
        "v": v,
        "wlogp_df": wlogp_df,
        "wctx_df": wctx_df,
        "wv": wv,
    }


def qr_score_frozen(
    batch: DataFrame, model: dict, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, quality, svm_score, model_keep): score a batch the model
    never saw under the FROZEN artifacts of `qr_frozen_model` — the
    rule-feature pipeline runs on the batch (per-doc aggregates), but
    the char-LM probabilities and the SVM weights come from the offline
    model, broadcast-joined/inlined rather than retrained. Char-bigrams
    unseen at training back off to the add-1 unseen mass:
    round(ln(1/(ctx_cnt+v)), 6) under a known context, round(ln(1/v), 6)
    under an unknown one — finite, deterministic, and exactly the
    probability the smoothed model assigns them."""
    spark = batch.sparkSession
    d = batch.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    v = int(model["v"])
    clogp_df = spark.createDataFrame(model["clogp"], "cb string, logp double")
    cctx_df = spark.createDataFrame(model["cctx"], "ctx string, ctx_cnt long")
    cbg = d.select("doc_id", F.explode(_char_bigrams(F.col("text"))).alias("cb"))
    unseen_known_ctx = F.round(add1_logp(F.lit(0), F.col("ctx_cnt"), v), 6)
    unseen_unknown_ctx = F.lit(_half_up6(math.log(1.0 / v)))
    scored_cb = (
        cbg.join(F.broadcast(clogp_df), "cb", "left")
        .withColumn("ctx", F.substring("cb", 1, 1))
        .join(F.broadcast(cctx_df), "ctx", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("logp"), unseen_known_ctx, unseen_unknown_ctx).alias(
                "logp"
            ),
        )
    )
    lm = scored_cb.groupBy("doc_id").agg(
        F.round(
            F.sum(F.col("logp").cast("decimal(20,6)")).cast("double") / F.count("*"), 6
        ).alias("char_lm_logprob")
    )
    from sentinela_py_spark.functions.linear_model import linear_score
    from sentinela_py_spark.functions.text_stats import quality_score

    # one bigram explode serves the repetition feature and (when the
    # model carries word artifacts) the word-LM scoring join — the same
    # fold the registered query runs (r12)
    bg0 = _qr_bigram_counts(d).transform(barrier)
    x = _qr_model_cols(_qr_features(d, lm=lm, bg=bg0))
    svm = F.round(linear_score(_QR_FEATS, [float(w) for w in model["weights"]]), 6)
    scored = x.join(d, "doc_id").select(
        "doc_id",
        quality_score("text").cast("double").alias("quality"),
        svm.alias("svm_score"),
    )
    # WORD-LM score under the frozen artifacts (r12): batch bigram
    # counts joined against the frozen (bigram, wlogp) frame — an
    # equi-join, never a collect (the word model is vocabulary-sized).
    # Unseen bigrams back off to the add-1 unseen mass exactly like the
    # char path: known first word → round(ln(1/(ctx_cnt+v)), 6),
    # unknown → round(ln(1/v), 6).
    if model.get("wv"):
        wv = int(model["wv"])
        bg = bg0.withColumn("ctx", F.substring_index("bigram", " ", 1))
        unseen_known_ctx = (
            F.round(add1_logp(F.lit(0), F.col("ctx_cnt"), wv) * 1000000, 0)
        ).cast("long")
        unseen_unknown_ctx = F.lit(_half_up_micro(math.log(1.0 / wv))).cast("long")
        wl = (
            bg.join(model["wlogp_df"], "bigram", "left")
            .join(model["wctx_df"], "ctx", "left")
            .select(
                "doc_id",
                "n_b",
                F.coalesce(
                    F.col("wlogp_micro"), unseen_known_ctx, unseen_unknown_ctx
                ).alias("wlogp_micro"),
            )
            .groupBy("doc_id")
            .agg(
                (
                    F.sum(F.col("wlogp_micro") * F.col("n_b")).cast("double")
                    / (F.sum("n_b") * 1000000).cast("double")
                ).alias("word_lm_logprob")
            )
        )
        scored = scored.join(wl, "doc_id", "left")
    else:  # legacy/degenerate model (no word vocabulary): stable schema
        scored = scored.withColumn("word_lm_logprob", F.lit(None).cast("double"))
    return (
        scored.withColumn("model_keep", F.col("svm_score") > 0)
        .withColumnRenamed("doc_id", id_col)
    )


def _qr_features(
    d: DataFrame, lm: DataFrame | None = None, bg: DataFrame | None = None
) -> DataFrame:
    """The rule/feature frame (one row per doc, the pre-r7 query output):
    unigram + bigram + char-LM arms joined on doc_id. ``lm`` overrides
    the corpus-trained char-LM scores with an externally provided
    (doc_id, char_lm_logprob) frame — the FROZEN-model ingest path
    (`qr_score_frozen`) scores new docs under the offline model instead
    of retraining on every batch. ``bg`` supplies a prebuilt (doc_id,
    bigram, n_b) count frame (r12: callers that also run the word-LM
    share ONE bigram explode+shuffle across both consumers, exactly as
    the oracle's single qr_bg CTE does)."""
    uni = _qr_unigram(d)
    bi = _qr_bigram(d, bg=bg)
    lm = _qr_charlm(d) if lm is None else lm

    top_bf = F.coalesce(F.col("top_bf"), F.lit(0)).cast("double")
    n_bg = F.greatest(F.coalesce(F.col("n_bigrams"), F.lit(0)), F.lit(1))
    top_term_frac = F.col("top_tf").cast("double") / F.col("n_tokens")
    top_bigram_frac = top_bf / n_bg
    return (
        uni.join(bi, "doc_id", "left")
        .join(lm, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct_terms",
            F.round(F.col("n_distinct_terms").cast("double") / F.col("n_tokens"), 6).alias(
                "distinct_ratio"
            ),
            F.round(F.log("n_tokens") - F.col("s_nlogn") / F.col("n_tokens"), 6).alias("entropy"),
            F.round(top_term_frac, 6).alias("top_term_fraction"),
            F.round(top_bigram_frac, 6).alias("top_bigram_fraction"),
            ((top_term_frac > 0.30) | (top_bigram_frac > 0.18)).alias("repetitive"),
            "char_lm_logprob",
        )
    )


def _qr_model_cols(feats: DataFrame) -> DataFrame:
    """Centered/scaled model feature columns over the rule frame — every
    op mirrors `_QR_FEATURE_SQL` exactly, so both engines hold identical
    doubles."""
    return (
        feats.withColumn("bias", F.lit(1.0))
        .withColumn("dr_c", (F.col("distinct_ratio") - F.lit(0.5)) * F.lit(4.0))
        .withColumn("ent_c", (F.col("entropy") - F.lit(3.0)) * F.lit(4.0))
        .withColumn("ttf_s", F.col("top_term_fraction") * F.lit(4.0))
        .withColumn("tbf_s", F.col("top_bigram_fraction") * F.lit(4.0))
        .withColumn(
            "lm_c",
            F.coalesce(F.col("char_lm_logprob") + F.lit(6.0), F.lit(0.0)),
        )
    )


def _qr_trainable(d: DataFrame, labels: DataFrame | None = None) -> DataFrame:
    """Feature frame (localCheckpointed: the GD loop scans it ITERS
    times and the token pipeline above it must price ONCE) + model
    columns + the label.

    ``labels`` (doc_id, y with y DOUBLE ±1.0) swaps the weak-label
    bootstrap for EXTERNAL supervision — the deployment path the
    module note promises (curated positives, human judgments, an
    LLM-labeled seed set): rows join on doc_id and unlabeled docs drop
    from the TRAINING frame (scoring still covers every doc — the
    score is a literal projection over the full feature frame). Default
    ``None`` keeps the self-contained weak labels mirroring
    `_QR_LABEL_SQL`."""
    feats = _qr_model_cols(_qr_features(d).transform(barrier_eager))
    if labels is not None:
        return feats.join(labels.select("doc_id", "y"), "doc_id")
    return feats.withColumn(
        "y",
        F.when(
            (F.col("top_term_fraction") > 0.30)
            | (F.col("top_bigram_fraction") > 0.18)
            | (F.col("entropy") < _QR_ENTROPY_FLOOR),
            F.lit(-1.0),
        ).otherwise(F.lit(1.0)),
    )


def qr_model_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, svm_score): train q_quality_rules' weak-label linear SVM
    on ``docs``' OWN rule-feature frame and score that same frame — the
    composable form of the model-based quality filter the curated
    pipeline gates on (`plans.curation._curated_pool` stage 5). One
    eager feature checkpoint (the GD loop scans it SVM_ITERS times, so
    the upstream text pipeline prices once), driver-resident weights,
    and a literal-weight projection for the scores — identical
    mechanics to the registered q_quality_rules surface. DuckDB twin:
    `qr_chain_sql`'s ``{p}scores`` relation.

    An EMPTY ``docs`` frame short-circuits to an empty scores frame
    (training on nothing is undefined — `svm_weights` raises): a fully
    deduplicated-away or fully decontaminated pool is a legitimate
    pipeline state and must flow through as empty, exactly as the SQL
    twin does (NULL weights → no positive scores)."""
    from sentinela_py_spark.functions.linear_model import linear_score, svm_weights

    t = _qr_trainable(docs).coalesce(4)
    if t.isEmpty():
        return t.select("doc_id", F.lit(0.0).alias("svm_score"))
    w = svm_weights(t, _QR_FEATS)
    return t.select(
        "doc_id", F.round(linear_score(_QR_FEATS, w), 6).alias("svm_score")
    )


def _qr_model_weights(spark: SparkSession, sf_dir: str) -> list[float]:
    """The quality model's SVM weights, trained once per session and
    sf_dir. Training is deterministic (fixed descent schedule), so one
    training serves every bench rep and correctness run."""
    from sentinela_py_spark.functions.linear_model import svm_weights

    def build() -> list[float]:
        d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
        # the training view coalesces the (bytes-tiny: ~80 B/doc)
        # checkpointed feature frame so each of the ITERS aggregate jobs
        # is a handful of tasks, not a fleet of empty ones; at 10^8+
        # docs drop the coalesce — the per-job overhead is then
        # negligible next to the scan and the tree-aggregate wants the
        # parallelism
        return svm_weights(_qr_trainable(d).coalesce(4), _QR_FEATS)

    return memo("qr_model", spark, sf_dir, build)


def _qr_unigram(d: DataFrame) -> DataFrame:
    """Unigram arm of q_quality_rules: per-doc token counts, distinct
    terms, top term frequency and the decimal-summed Σ n_t·ln(n_t)
    entropy term — one shuffle on (doc_id, term), one on doc_id."""
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("n_t"))
    return tf.groupBy("doc_id").agg(
        F.sum("n_t").alias("n_tokens"),
        F.count("*").alias("n_distinct_terms"),
        F.max("n_t").alias("top_tf"),
        F.sum((F.col("n_t") * F.log("n_t")).cast("decimal(28,15)"))
        .cast("double")
        .alias("s_nlogn"),
    )


def _qr_bigram_counts(d: DataFrame) -> DataFrame:
    """(doc_id, bigram, n_b): the per-doc word-bigram count frame — the
    Spark twin of the oracle's qr_bg CTE, shared (r12) by the Gopher
    repetition aggregate and the word-LM model/scoring chain."""
    bigrams = d.select(
        "doc_id", F.explode(word_shingles(F.col("text"), k=2)).alias("bigram")
    )
    return bigrams.groupBy("doc_id", "bigram").agg(F.count("*").alias("n_b"))


def _qr_bigram(d: DataFrame, bg: DataFrame | None = None) -> DataFrame:
    """Bigram arm of q_quality_rules: top word-bigram frequency per doc
    (Gopher top-2-gram repetition rule input). ``bg`` reuses a prebuilt
    count frame (see `_qr_features`)."""
    if bg is None:
        bg = _qr_bigram_counts(d)
    return bg.groupBy("doc_id").agg(
        F.max("n_b").alias("top_bf"), F.sum("n_b").alias("n_bigrams")
    )


def _qr_wordlm(d: DataFrame, bg: DataFrame | None = None) -> DataFrame:
    """WORD-bigram LM arm of q_quality_rules (r12, r11 verdict #5):
    CCNet's actual perplexity scorer is a word-level LM (Wenzek et al.
    2020 train a 5-gram KenLM); until r12 the quality family scored
    char bigrams only, so the ppl tertiles bucketed a proxy of the
    signal they cite. Same frozen algebra as the char model — add-1
    smoothing, logp(w₂|w₁) = ln((cnt+1)/(ctx_cnt+V)) rounded 6dp at
    BUILD time, per-doc mean over bigram OCCURRENCES — but it rides the
    per-doc bigram COUNTS the Gopher repetition rule already computes
    (Σ n_b·logp / Σ n_b in DECIMAL — no second explode, no per-
    occurrence rows).

    Scale note: unlike the char model (|charset|² rows — broadcast at
    any corpus size) the word model is VOCABULARY-sized, so the scoring
    join is an equi-shuffle on bigram (the inverted-index shape; a
    100 TB deployment persists the model as a parquet table and buckets
    both sides) — never a broadcast, never a driver collect.

    Numeric discipline: the model stores INTEGER MICRO-logps
    (round(ln·10⁶) — a transcendental never sits on a .5 tie, the same
    safety the 6dp char-LM round rests on), the per-doc fold is pure
    BIGINT Σ n_b·logp_micro (exact, order-insensitive, no decimal
    casts), and the mean is ONE IEEE division of exactly-representable
    integers — emitted UNROUNDED, because rounding a rational quotient
    is where cross-engine ties live (measured at sf0.01: a doc mean of
    exactly −4.0773125 rounded −4.077313 under Spark's BigDecimal
    half-up but −4.077312 under DuckDB's double round)."""
    # lazy checkpoint: the per-doc bigram counts feed the model build,
    # the scoring join, AND (when the caller shares the frame — r12) the
    # Gopher repetition aggregate — unlike the char path (where
    # re-running a map-only ASCII explode beat materializing it), this
    # is a SHUFFLED aggregate with multiple consumers, and the A/B at
    # sf0.1 reads equal-to-better checkpointed (2.5 s → 1.5-2.5 s) while
    # folding the explode+shuffle work a 100 TB corpus would re-pay
    if bg is None:
        bg = _qr_bigram_counts(d).transform(barrier)
    wmodel = (
        bg.groupBy("bigram")
        .agg(F.sum("n_b").alias("cnt"))
        .withColumn("ctx", F.substring_index("bigram", " ", 1))
    )
    wctx = wmodel.groupBy("ctx").agg(F.sum("cnt").alias("ctx_cnt"))
    wv = wmodel.agg(F.count("*").alias("v"))
    wlogp = (
        wmodel.join(wctx, "ctx")
        .crossJoin(F.broadcast(wv))
        .select(
            "bigram",
            F.round(add1_logp(F.col("cnt"), F.col("ctx_cnt"), F.col("v")) * 1000000, 0)
            .cast("long")
            .alias("wlogp_micro"),
        )
    )
    return (
        bg.join(wlogp, "bigram")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.col("wlogp_micro") * F.col("n_b")).cast("double")
                / (F.sum("n_b") * 1000000).cast("double")
            ).alias("word_lm_logprob")
        )
    )


def _char_bigrams(text: Column) -> Column:
    """Character-bigram array of a text column — slice+zip_with (no
    per-element substr), naturally empty for 0/1-char docs."""
    chars = F.split(text, "")
    n_cb = F.greatest(F.size(chars) - 1, F.lit(0))
    return F.zip_with(
        F.slice(chars, 1, n_cb), F.slice(chars, 2, n_cb), lambda a, b: F.concat(a, b)
    )


def _qr_charlm(d: DataFrame) -> DataFrame:
    """Char-bigram LM arm of q_quality_rules: train the add-1-smoothed
    corpus model (|charset|² rows, broadcast), score each doc by the
    decimal-summed mean log-likelihood. Bigrams use the slice+zip_with
    idiom (no per-element substr, naturally empty for 0/1-char docs).
    The exploded bigram stream feeds both the model build and the
    scoring join; recomputing the map-only ASCII explode is CHEAPER than
    materializing 1M+ tiny rows (measured: a localCheckpoint here costs
    +30% — the opposite trade from q_decontamination's md5-heavy
    grams)."""
    cbg = d.select("doc_id", F.explode(_char_bigrams(F.col("text"))).alias("cb"))
    cmodel = (
        cbg.groupBy("cb")
        .agg(F.count("*").alias("cnt"))
        .withColumn("ctx", F.substring("cb", 1, 1))
    )
    cctx = cmodel.groupBy("ctx").agg(F.sum("cnt").alias("ctx_cnt"))
    cv = cmodel.agg(F.count("*").alias("v"))
    clogp = (
        cmodel.join(cctx, "ctx")
        .crossJoin(F.broadcast(cv))
        .select(
            "cb",
            F.round(
                add1_logp(F.col("cnt"), F.col("ctx_cnt"), F.col("v")), 6
            ).alias("logp"),
        )
    )
    return (
        cbg.join(F.broadcast(clogp), "cb")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("logp").cast("decimal(20,6)")).cast("double") / F.count("*"), 6
            ).alias("char_lm_logprob")
        )
    )


def _arm_on_documents(fn):
    def arm(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(ensure_min_partitions(load_table(spark, sf_dir, "documents")))

    return arm


def _qr_model_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prices the full UN-MEMOIZED model path — feature build +
    checkpoint + the ITERS gradient-descent passes (the `training` arm
    pattern: the memo serves the headline, the arm measures the build).
    Returns the trained weights as one row."""
    from sentinela_py_spark.functions.linear_model import svm_weights

    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    w = svm_weights(_qr_trainable(d).coalesce(4), _QR_FEATS)
    return spark.createDataFrame(
        [tuple(w)], ", ".join(f"w{j} double" for j in range(len(w)))
    )


def _qr_ppl_hist_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prices the r11 histogram-cutoff pass standalone: char-LM scores
    (the arm re-pays the shared scan, per the arm contract) → per-lang
    min/max → 64-bin counts → interpolated tertile cutoffs
    (`functions.hist.hist_quantile_est`). The headline rides a
    checkpointed slim frame instead, so this row bounds the sketch's
    worst-case cost."""
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    slim = _qr_charlm(d).join(d.select("doc_id", "lang"), "doc_id").select(
        "lang", "char_lm_logprob"
    )
    stats = slim.groupBy("lang").agg(
        F.min("char_lm_logprob").alias("lo"), F.max("char_lm_logprob").alias("hi")
    )
    return hist_quantile_est(
        slim, ["lang"], "char_lm_logprob", stats, {"c33h": 1.0 / 3, "c67h": 2.0 / 3}
    )


register_arms(
    "q_quality_rules",
    unigram=_arm_on_documents(_qr_unigram),
    bigram=_arm_on_documents(_qr_bigram),
    charlm=_arm_on_documents(_qr_charlm),
    model=_qr_model_arm,
    ppl_hist=_qr_ppl_hist_arm,
    wordlm=_arm_on_documents(_qr_wordlm),
)


register_arms(
    "q_decontamination",
    exact=_decon_exact_arm,
    bloom=_decon_bloom_arm,
    fuzzy=_decon_fuzzy_arm,
)
register_arms(
    "q_ngram_jaccard_pairs",
    jaccard=_method_arm("q_ngram_jaccard_pairs", "jaccard"),
    span=_method_arm("q_ngram_jaccard_pairs", "span"),
    intra=_method_arm("q_ngram_jaccard_pairs", "intra"),
)
register_arms(
    "q_dedup_digests",
    exact=_method_arm("q_dedup_digests", "exact"),
    fingerprint=_method_arm("q_dedup_digests", "fingerprint"),
    winnow=_method_arm("q_dedup_digests", "winnow"),
)


@register(
    "q_css_extract",
    oracle="""
    SELECT doc_id,
           'Doc ' || doc_id AS title,
           '2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-'
                   || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T12:00:00' AS published_time,
           '/articles/' || doc_id AS url,
           trim(regexp_replace(substr(text, 1, 40), '[^a-zA-Z0-9 ]', '', 'g')) AS lead_text,
           'read' AS link_text
    FROM documents
    ORDER BY doc_id
    """,
    survey_ref=(
        "M16 CSS select_one extraction over stored HTML (scraper.py:475-554): tolerant "
        "selector repair + :first-child fallback + attr/text extraction, Arrow mapInPandas"
    ),
    tags=("text", "pandas-udf", "scrape"),
)
def q_css_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's scrape-field extraction replayed over STORED HTML:
    article pages are synthesized JVM-side (format_string — deterministic
    from doc_id + a sanitized text snippet), then the pure-Python CSS
    engine (sources/htmlselect.py) parses each page ONCE inside Arrow
    ``mapInPandas`` and extracts every field from the same tree. The
    selector set deliberately exercises the tolerance contract: a
    malformed attribute selector (missing ']' — repaired via
    normalize_selector_query) and a failing ``:first-child`` (parent
    fallback). The oracle reconstructs each expected field arithmetically,
    so the whole parse→select→extract path is value-hash-checked."""
    from sentinela_py_spark.sources.htmlselect import extract_fields

    d = load_table(spark, sf_dir, "documents")
    snippet = F.trim(F.regexp_replace(F.substring("text", 1, 40), "[^a-zA-Z0-9 ]", ""))
    html = F.format_string(
        '<html><head><meta property="article:published_time" content="2024-%02d-%02dT12:00:00"/>'
        "<title>Doc %d</title></head>"
        '<body><article class="post" id="doc-%d"><h2>Doc %d</h2>'
        '<a href="/articles/%d">read</a>'
        '<div class="content"><p>%s</p></div></article></body></html>',
        F.col("doc_id") % 12 + 1,
        F.col("doc_id") % 28 + 1,
        F.col("doc_id"),
        F.col("doc_id"),
        F.col("doc_id"),
        F.col("doc_id"),
        snippet,
    )
    pages = ensure_min_partitions(d.select("doc_id", html.alias("html")))
    return extract_fields(
        pages,
        "html",
        {
            "title": ("title", None),
            # malformed on purpose: missing closing bracket -> repaired
            "published_time": ("meta[property='article:published_time'", "content"),
            "url": ("article a", "href"),
            "lead_text": ("div.content > *:first-child", None),
            # h2 is the first child, so :first-child fails for <a> and the
            # parent-query fallback ("article > a") resolves it
            "link_text": ("article > a:first-child", None),
        },
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE tokenizer inference (operators/bpe.py) — driver-checked encode arm.
# ---------------------------------------------------------------------------

# FIXED merge table (rank, left, right, count) — a literal tokenizer
# artifact, chosen to exercise multi-level rank-order replay on the
# driver corpus's vocabulary: 'spark' assembles through three chained
# merges (sp → spa → spark), 'join' through two, 'bat' consumes the
# rank-2 'at' merge, and 'the'/'er'/'at' interact inside words like
# 'the'/'order'/'batch'. Counts are placeholders (encode ignores them).
_BPE_FIXED_MERGES: list[tuple[int, str, str, int]] = [
    (0, "t", "h", 0),
    (1, "th", "e", 0),
    (2, "a", "t", 0),
    (3, "e", "r", 0),
    (4, "s", "p", 0),
    (5, "sp", "a", 0),
    (6, "r", "k", 0),
    (7, "spa", "rk", 0),
    (8, "j", "o", 0),
    (9, "i", "n", 0),
    (10, "jo", "in", 0),
    (11, "b", "at", 0),
]


def _bpe_encode_word_sql(var: str) -> str:
    """DuckDB expression tokenizing one word with _BPE_FIXED_MERGES.

    The symbol sequence is serialized as chr(1)||sym||chr(2) per symbol —
    symbols never contain either sentinel, so a merge (a, b) is EXACTLY
    the substring chr(1)a chr(2)chr(1)b chr(2) and ``replace()`` (which
    scans left-to-right over non-overlapping occurrences, resuming AFTER
    each replacement) reproduces the leftmost-greedy merge rule of
    operators/bpe.py. Replays run in rank order, so later merges see
    earlier merges' symbols — e.g. rank 11 (b, at) only fires where
    rank 2 already produced 'at'."""
    expr = f"regexp_replace({var}, '(.)', chr(1)||'\\1'||chr(2), 'g')"
    for _, a, b, _ in _BPE_FIXED_MERGES:
        pat = f"chr(1)||'{a}'||chr(2)||chr(1)||'{b}'||chr(2)"
        expr = f"replace({expr}, {pat}, chr(1)||'{a}{b}'||chr(2))"
    return f"string_split(trim({expr}, chr(1)||chr(2)), chr(2)||chr(1))"


# Tokenizer-fertility quality band: chars/token of healthy fixture text
# under _BPE_FIXED_MERGES sits at ~1.42 median (measured 1.26-1.97 at
# sf0.01); text compressing far outside the band is degenerate for this
# tokenizer (boilerplate/repetition compresses too well, noise/foreign
# script too poorly) — the CCNet/Gopher-style fertility filter.
BPE_CPT_LO = 1.30
BPE_CPT_HI = 1.60


@register(
    "q_bpe_encode",
    oracle=f"""
    SELECT doc_id,
           array_to_string(toks, chr(31)) AS bpe_tokens,
           len(toks) AS n_tokens,
           CASE WHEN len(toks) = 0 THEN NULL
                ELSE floor(CAST(n_chars AS DOUBLE) * 1000000.0 / len(toks) + 0.5) / 1000000.0
                END AS chars_per_token,
           CASE WHEN len(toks) = 0 THEN FALSE
                ELSE floor(CAST(n_chars AS DOUBLE) * 1000000.0 / len(toks) + 0.5) / 1000000.0
                       BETWEEN {BPE_CPT_LO} AND {BPE_CPT_HI} END AS fertility_keep
    FROM (
      SELECT doc_id, n_chars,
             flatten(list_transform(
               list_filter(string_split(COALESCE(text, ''), ' '), w -> len(w) > 0),
               w -> {_bpe_encode_word_sql('w')}
             )) AS toks
      FROM documents
    )
    ORDER BY doc_id
    """,
    survey_ref=(
        "tokenize: BPE encode — broadcast-merge-table leftmost-greedy replay "
        "(operators/bpe.py bpe_encode, the map-only inference path of a "
        "Sennrich BPE tokenizer); oracle = chained "
        "sentinel-delimited replace() per word in rank order; + tokenizer-"
        "fertility quality signal (chars/token band — the CCNet/Gopher-style "
        "filter a curation pass applies after tokenization)"
    ),
    tags=("text", "tokenize", "curation"),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE subword encoding of every document under a FIXED literal merge
    table (the trained-tokenizer surface: training learns the table once;
    encode replays it corpus-wide, map-only, no shuffle). Tokens are
    re-joined with the unit separator (0x1f — absent from the corpus) so
    the value-hash comparison covers token identity AND order; n_tokens
    is the sequence length a packing/budgeting stage would consume.

    ``chars_per_token`` is the tokenizer-FERTILITY quality signal and
    ``fertility_keep`` the filter verdict — text far outside the band
    compresses abnormally for this tokenizer and is dropped by
    CCNet/Gopher-style curation. The ratio is quantized to 6dp via
    ``floor(x·10⁶ + 0.5)/10⁶``, NOT round(): exact 7th-decimal halves
    are reachable from integer ratios (641/640 = 1.0015625) and Spark's
    HALF_UP-on-shortest-string disagrees with DuckDB's scaled-binary
    round there — the same hazard functions/kmeans.py documents; the
    floor form runs three IEEE-exact ops on identical operands. Both
    engines yield NULL ratio and a False verdict for zero-token docs
    (the division is guarded on both sides, never evaluated)."""
    from sentinela_py_spark.operators.bpe import bpe_encode

    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    enc = bpe_encode(d, _BPE_FIXED_MERGES, text_col="text", out_col="toks")
    n_tokens = F.size("toks")
    cpt = F.when(
        n_tokens > 0,
        F.floor(
            F.col("n_chars").cast("double") * F.lit(1e6) / n_tokens.cast("double")
            + F.lit(0.5)
        )
        / F.lit(1e6),
    )
    keep = F.when(
        n_tokens > 0, (cpt >= BPE_CPT_LO) & (cpt <= BPE_CPT_HI)
    ).otherwise(F.lit(False))
    return enc.select(
        "doc_id",
        F.concat_ws("\x1f", F.col("toks")).alias("bpe_tokens"),
        n_tokens.alias("n_tokens"),
        cpt.alias("chars_per_token"),
        keep.alias("fertility_keep"),
    ).orderBy("doc_id")
