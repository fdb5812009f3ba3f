"""Skew guard for LSH band/bucket self-joins.

The reference has nothing like it (single-process, row-at-a-time —
SURVEY §4.1). AQE's skew-join split (enabled in session.py) handles
moderate skew in ordinary joins; inside one LSH bucket the candidate
pairs grow quadratically, so the only answer is to bound the bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Registered-query default for the hot-bucket guard below: far above any
# sf0.01/sf0.1 fixture bucket (so the DuckDB oracles see identical rows
# while the guard stays armed), low enough that a degenerate bucket's
# within-task pair output is bounded at ~0.5M rows instead of b²/2.
DEFAULT_MAX_BUCKET_SIZE = 1024


def cap_buckets(
    df: DataFrame,
    bucket_cols: list[str],
    cap: int,
    order_cols: list[str] | None = None,
    rebalance: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Bound every ``bucket_cols`` group to at most ``cap`` rows — the
    skew guard for LSH band/bucket SELF-joins, where one degenerate
    bucket of b rows (a boilerplate template repeated across the corpus,
    empty/near-empty texts, a hot shingle set) otherwise produces b²/2
    candidate pairs INSIDE A SINGLE TASK. Salting cannot help there:
    within-bucket pair count is inherently quadratic, so the only scale
    answer is to bound b itself.

    Rows kept are the ``cap`` smallest by ``xxhash64(order_cols)`` — a
    deterministic uniform sample, invariant to partitioning, so capped
    results are reproducible across runs and cluster layouts. The
    per-bucket cost is one window sort, O(b log b) per bucket (spillable
    within a task), versus the O(b²) join blow-up it prevents.

    Returns ``(kept, overflow_audit)``. The audit frame — one row per
    truncated bucket with columns ``bucket_cols + [bucket_size, n_kept,
    n_dropped]`` — is the explicit accounting that makes truncation
    never silent: callers surface it as a metric / side output. Both
    frames are lazy views over ``df``; a caller evaluating both should
    checkpoint the upstream pipeline (the registered queries evaluate
    only ``kept``, and only when the cap actually bites does the audit
    have rows).

    Recall impact: capping a bucket at c keeps c·(c−1)/2 of its b·(b−1)/2
    within-bucket pairs — pairs wholly inside a degenerate bucket are
    sampled, pairs whose rows sit in healthy buckets are untouched. For
    dedup that is the desired trade: a 10⁴-row bucket is one template and
    any c of its rows suffice to identify the cluster's survivor.
    """
    if not order_cols:
        order_cols = [c for c in df.columns if c not in bucket_cols][:1] or bucket_cols
    w = Window.partitionBy(*bucket_cols)
    ranked = df.withColumn(
        "__rn", F.row_number().over(w.orderBy(F.xxhash64(*order_cols), *order_cols))
    ).withColumn("__sz", F.count("*").over(w))
    kept = ranked.filter(F.col("__rn") <= cap).drop("__rn", "__sz")
    # The window leaves `kept` hash-partitioned BY BUCKET, and AQE sizes
    # partitions by BYTES — with a small bucket-key space (16-bucket demo
    # configs, a few hot bands) or a byte-small capped frame it coalesces
    # the exchange down to one/few partitions, so the CPU-dense candidate
    # join every caller builds on top (higher-order-function cosine /
    # per-pair scoring — cost ∝ pairs, not bytes) runs near-single-task:
    # measured 5-7× on q_embedding_neardup at sf0.1. The explicit
    # round-robin repartition is exempt from AQE coalescing and restores
    # even parallelism. Pass ``rebalance=False`` for deployments whose
    # capped frame has a wide key space AND feeds a join aligned with the
    # bucket partitioning (the SMJ then reuses the window's exchange,
    # which the rebalance would otherwise discard).
    if rebalance:
        kept = kept.repartition(df.sparkSession.sparkContext.defaultParallelism)
    audit = (
        ranked.filter(F.col("__sz") > cap)
        .groupBy(*bucket_cols)
        .agg(F.max("__sz").alias("bucket_size"))
        .select(
            *bucket_cols,
            "bucket_size",
            F.least(F.col("bucket_size"), F.lit(cap)).alias("n_kept"),
            (F.col("bucket_size") - cap).alias("n_dropped"),
        )
    )
    return kept, audit


