"""Deterministic mixture sampling: temperature-weighted per-group rates.

The data-mixing step of a pretraining pipeline: given a corpus spanning
sources/languages of wildly different sizes, sample each group g with
probability derived from (n_g)^alpha — alpha=1 keeps natural proportions,
alpha=0 equalizes groups, values in between (0.3 is common for
multilingual mixes) up-weight the tail without flooding the head.

Membership is md5-threshold per ROW (the same content-keyed Bernoulli as
plans/curation.py::q_train_split): stable across runs, engines,
partitionings and cluster sizes — `df.sample()` is none of those. The
rate table is one tiny aggregate, broadcast into a map-only filter, so
the whole mix is a single corpus scan at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sentinela_py_spark.barrier import barrier

__all__ = [
    "md5_uniform",
    "md5_uniform_sql",
    "temperature_rates",
    "mixture_sample",
    "dsir_log_weights",
    "gumbel_topk",
    "DSIR_BUCKETS",
]

_HEX8 = float(16**8)


def md5_uniform(key_col: str) -> F.Column:
    """u(key) in [0, 1): the first 8 md5 hex chars of the stringified key
    scaled by 16^8 — THE engine's content-keyed uniform variate, the one
    definition every md5-threshold Bernoulli must share (mixture
    sampling here, `functions.kmeans.training_sample`, and the
    `q_train_split`-family oracles' ``('0x'||substr(md5(..),1,8))::BIGINT
    / 4294967296.0`` twin). Deterministic across runs, engines,
    partitionings and cluster sizes."""
    return (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast(
            "double"
        )
        / _HEX8
    )


def md5_uniform_sql(id_expr: str) -> str:
    """The DuckDB rendering of `md5_uniform` — parenthesized, so callers
    can compare it against a threshold directly. The '0x'||substr(md5..)
    idiom is engine-pair-sensitive (it must yield the SAME variate as the
    Spark conv(substring(md5..)) definition above, bit for bit); every
    oracle that needs the variate renders through this ONE helper instead
    of repeating the literal (`functions.kmeans.training_sample_sql`, the
    curation mixture oracles)."""
    return (
        f"(CAST(concat('0x', substr(md5(CAST({id_expr} AS VARCHAR)), 1, 8)) AS BIGINT)"
        " / 4294967296.0)"
    )


def temperature_rates(df: DataFrame, group_col: str, alpha: float, budget: int) -> DataFrame:
    """(group, n, rate): per-group acceptance rates targeting ``budget``
    total rows in expectation, with group shares ∝ n_g^alpha.

    rate_g = min(1, budget · w_g / n_g) where w_g = n_g^alpha / Σ n^alpha.
    Rates cap at 1 (a group can't yield more rows than it has), so the
    realized expectation can undershoot the budget when small groups
    saturate — the standard behavior of temperature mixing."""
    counts = df.groupBy(F.col(group_col).alias("group")).agg(F.count("*").alias("n"))
    total_w = counts.agg(
        F.sum(F.pow(F.col("n").cast("double"), F.lit(float(alpha)))).alias("total_w")
    )
    return counts.crossJoin(F.broadcast(total_w)).select(
        "group",
        "n",
        F.least(
            F.lit(1.0),
            F.lit(float(budget))
            * F.pow(F.col("n").cast("double"), F.lit(float(alpha)))
            / F.col("total_w")
            / F.col("n"),
        ).alias("rate"),
    )


def mixture_sample(
    df: DataFrame,
    rates: DataFrame,
    group_col: str,
    key_col: str,
) -> DataFrame:
    """Keep each row iff u(key) < rate(group), where u is the first 8 md5
    hex chars of the row key scaled to [0, 1) — deterministic,
    content-keyed, and resumable. ``rates`` is (group, rate) (e.g. from
    `temperature_rates`); it broadcasts, so the sample is one map-only
    pass over the corpus."""
    u = md5_uniform(key_col)
    return (
        df.join(
            F.broadcast(rates.select(F.col("group").alias(group_col), "rate")),
            group_col,
        )
        .filter(u < F.col("rate"))
        .drop("rate")
    )


# --- DSIR: Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169) --- hashed-n-gram importance weights toward a target
# distribution, then Gumbel top-k resampling. Where temperature mixing
# reweights GROUPS by size alone, DSIR reweights individual DOCUMENTS by
# how target-like their content is — the published method for "select
# raw web data that looks like the high-quality reference corpus".

DSIR_BUCKETS = 512


def _md5_bucket(gram: Column, buckets: int) -> Column:
    """Hash a gram into one of ``buckets`` bins — md5-derived so DuckDB
    reproduces it bit-for-bit (`('0x'||substr(md5(g),1,8))::BIGINT %
    B`). md5 keeps the whole path cross-engine checkable; the 100 TB
    deployment swaps in `_xx_bucket` via ``gram_hash="xxhash64"`` on
    `dsir_log_weights` (r10 — the docstring's promised fast path) and
    keeps the md5 oracle twin on a sample."""
    return (
        F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long") % buckets
    )


def _xx_bucket(gram: Column, buckets: int) -> Column:
    """The DEPLOYMENT bucketing: xxhash64 is a single JVM intrinsic
    (codegen'd, no hex string materialized) where md5 allocates a
    32-char string per gram. Honest measurement (warm, min-of-3,
    local[32]): 1.18× end-to-end at sf0.01 and 1.04× at sf0.1 — on a
    warm many-core box the shuffle + per-doc aggregation dominate and
    the hash swap is a map-side constant factor; it matters most where
    the explode is the bottleneck (CPU-saturated executors, wide rows),
    and it is free to take since the weights are equally valid. pmod
    because xxhash64 is signed. Bucket assignment differs from
    `_md5_bucket` — both are uniform hashes into B bins, two
    equally-valid draws of the paper's random hashing: when the
    bucketing is COLLISION-FREE the weights are exactly equal
    (test-pinned — each bucket then holds one gram, so both paths sum
    identical lr terms), and at fixture scale, where buckets collide,
    the Gumbel top-k selections agree statistically (overlap pinned).
    DuckDB has no xxhash64, so oracle-compared paths stay on md5."""
    return F.pmod(F.xxhash64(gram), F.lit(buckets)).cast("long")


def dsir_log_weights(
    docs: DataFrame,
    target_pred: Column,
    buckets: int = DSIR_BUCKETS,
    gram_hash: str = "md5",
) -> DataFrame:
    """(id, log_w): per-document importance log-weights log p̂(x)/q̂(x)
    under two add-1-smoothed hashed-n-gram bag models — p̂ fit on the
    rows where ``target_pred`` holds (the target/reference slice), q̂ on
    the WHOLE corpus (the raw distribution). Features are unigrams ∪
    word-bigrams hashed into ``buckets`` bins (the paper's hashed n-gram
    generative model; bucketing caps model size at B counts however
    large the vocabulary).

    Determinism/scale shape: one gram explode → bucket map; corpus
    bucket counts are ONE B-row aggregate broadcast back; the per-doc
    weight is Σ_b c_doc[b]·lr[b] with lr rounded to 6dp and the products
    summed as DECIMAL(28,15) — order-insensitive, bit-identical in
    DuckDB. No driver collect anywhere: totals ride a one-row broadcast
    cross join.

    ``gram_hash``: ``"md5"`` (default) is the oracle-checkable bucketing
    DuckDB replays bit-for-bit; ``"xxhash64"`` is the 100 TB deployment
    path (`_xx_bucket` — one codegen'd intrinsic per gram instead of a
    32-char hex string allocation, the dominant per-row cost of the
    explode). Weights are exactly equal whenever the bucketing is
    collision-free and agree statistically under collisions (both
    test-pinned); the bench's `dsir_fast` arm prices the hash swap."""
    from sentinela_py_spark.functions.text_stats import (
        add1_logp,
        tokens,
        word_shingles,
    )

    if gram_hash not in ("md5", "xxhash64"):
        raise ValueError(f"gram_hash must be md5|xxhash64, got {gram_hash!r}")
    bucket_of = _md5_bucket if gram_hash == "md5" else _xx_bucket
    grams = docs.select(
        F.col("doc_id"),
        F.explode(
            F.concat(tokens(F.col("text")), word_shingles(F.col("text"), k=2))
        ).alias("gram"),
        target_pred.cast("long").alias("is_t"),
    )
    bc = grams.select(
        "doc_id", bucket_of(F.col("gram"), buckets).alias("bucket"), "is_t"
    ).transform(barrier)  # scanned twice: corpus counts + per-doc counts
    raw = bc.groupBy("bucket").agg(
        F.count("*").alias("nq"), F.sum("is_t").alias("nt")
    )
    tot = raw.agg(F.sum("nq").alias("tq"), F.sum("nt").alias("tt"))
    # importance log-ratio: a difference of two add-1-smoothed bag
    # likelihoods — the SAME smoothing kernel as the quality LMs (r13,
    # one definition: functions.text_stats.add1_logp)
    lr = raw.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            add1_logp(F.col("nt"), F.col("tt"), buckets)
            - add1_logp(F.col("nq"), F.col("tq"), buckets),
            6,
        ).alias("lr"),
    )
    dcnt = bc.groupBy("doc_id", "bucket").agg(F.count("*").alias("c"))
    return dcnt.join(F.broadcast(lr), "bucket").groupBy("doc_id").agg(
        F.round(
            F.sum((F.col("c") * F.col("lr")).cast("decimal(28,15)")).cast("double"), 6
        ).alias("log_w")
    )


def gumbel_topk(weighted: DataFrame, k: int) -> DataFrame:
    """Top-``k`` rows under perturbed log-weights — sampling WITHOUT
    replacement ∝ softmax(log_w) via the Gumbel-top-k trick: key =
    −ln(−ln u) + log_w with u the content-keyed md5 uniform (shifted by
    half a step so u ∈ (0,1) and both logs stay finite), take the k
    largest keys. Deterministic across runs/engines/partitionings; ties
    break on id after 6dp rounding. The plan is a TakeOrdered top-k —
    never a global sort of the corpus."""
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(_HEX8)
    key = F.round(F.round(-F.log(-F.log(u)), 6) + F.col("log_w"), 6)
    return (
        weighted.select("doc_id", key.alias("gkey"))
        .orderBy(F.col("gkey").desc(), F.col("doc_id"))
        .limit(k)
    )
