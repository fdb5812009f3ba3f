"""Scale-out join strategies: bucketed co-located joins and skew salting.

None of this exists in the reference (single-process, row-at-a-time —
SURVEY §4.1); these are the Spark-native mechanisms the engine relies on
at 100 TB, made concrete and testable:

- **Bucketing** pre-shuffles a table ONCE at write time
  (``bucketBy(n, key)``); two tables bucketed on the join key by the same
  bucket count then join with zero Exchange on either side — the
  recurring-join answer (fact tables joined every run should never pay
  the shuffle twice).
- **Salting** splits a hot key across ``n_salts`` sub-keys so one
  executor doesn't receive the whole key's rows. AQE's skew-join split
  (enabled in session.py) handles moderate skew automatically; explicit
  salting is the deterministic fallback for extreme single-key skew
  (e.g. the empty-string URL, the null portal).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame, table_name: str, bucket_key: str, n_buckets: int = 32, sort_cols: list[str] | None = None
) -> None:
    """Persist as a bucketed (+ optionally sorted) managed table. Joins
    and aggregations on ``bucket_key`` between same-bucketed tables then
    plan without any Exchange (verified in tests/test_scale.py)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_key)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def salt_column(n_salts: int, *distinct_cols: str | Column) -> Column:
    """Deterministic salt in [0, n_salts): xxhash64 of row-distinguishing
    columns (NOT the join key — the point is to spread one key's rows)."""
    return F.pmod(F.xxhash64(*distinct_cols), F.lit(n_salts)).cast("int")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    distinct_cols: list[str] | None = None,
) -> DataFrame:
    """Equi-join resilient to a pathologically hot key.

    The big side gets a deterministic salt from row-distinguishing
    columns; the small side is replicated ``n_salts`` times (explode of a
    literal range — cost: |small| × n_salts rows, which is why the salted
    side must be the small one). The join key becomes (key, salt), so a
    hot key's rows spread over ``n_salts`` reducers. Result is identical
    to the unsalted join (asserted in tests)."""
    distinct_cols = distinct_cols or [c for c in big.columns if c != key][:1]
    if not distinct_cols:
        raise ValueError("big side needs at least one non-key column to derive a salt")
    b = big.withColumn("__salt", salt_column(n_salts, *distinct_cols))
    s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = b.join(s, on=[key, "__salt"], how="inner")
    return out.drop("__salt")


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


def write_partitioned(
    df: DataFrame,
    path: str,
    target_file_rows: int | None = None,
) -> None:
    """Persist with hive-style directory partitioning — the physical
    layout SURVEY §4.1 maps the reference's secondary indexes onto:
    `articles` partitioned by (portal_name, published_date) makes the
    period/portal scans (F1/S5) partition-PRUNED reads instead of index
    lookups, and MERGE-style rewrites touch only the affected partitions.

    ``target_file_rows`` bounds rows per output file: rows are clustered
    per partition value (one write task per directory, no small-files
    spray from N tasks) and the writer splits any hot partition's task
    output every ``target_file_rows`` rows via ``maxRecordsPerFile`` —
    right-sized files with no extra pass over the input."""
    partition_cols = ["portal_name", "published_date"]
    out = df
    writer_opts: dict[str, str] = {}
    if target_file_rows:
        out = df.repartition(*[F.col(c) for c in partition_cols])
        writer_opts["maxRecordsPerFile"] = str(int(target_file_rows))
    out.write.options(**writer_opts).mode("overwrite").partitionBy(*partition_cols).parquet(path)
