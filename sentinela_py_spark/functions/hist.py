"""Equi-width histogram percentile sketch — the fixed-memory quantile
path, factored out of q_price_percentiles (r11) so the CCNet perplexity
tertiles reuse ONE definition instead of a second copy of the algebra.

State is ``HIST_BINS`` longs per group versus the exact quantile's
distinct-value→count map (Spark's exact `percentile` buffers that map
per group and funnels the dominant group through a single
final-aggregation task — the skew bound the ppl-tertile site documents).
Built engine-neutrally (unlike `approx_percentile`, whose KLL/GK sketch
layout is JVM-private): min/max pass → bin counts → cumulative walk with
linear interpolation inside the landing bin, identical double algebra on
the Spark and DuckDB sides, so the ESTIMATE is oracle-checked including
its binning error (the same contract as the HLL and Bloom arms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HIST_BINS = 64


def _width():
    return F.when(
        F.col("hi") > F.col("lo"), (F.col("hi") - F.col("lo")) / HIST_BINS
    ).otherwise(F.lit(1.0))


def hist_quantile_est(
    values: DataFrame,
    group_cols: list[str],
    val_col: str,
    stats: DataFrame,
    qs: dict[str, float],
) -> DataFrame:
    """``HIST_BINS``-bin equi-width histogram estimate of the ``qs`` quantiles
    of ``val_col`` per ``group_cols`` group. ``stats`` carries the
    per-group ``lo``/``hi`` (ride them on the caller's existing exact
    aggregation — the histogram then costs ONE extra scan, the bin
    counts). NULL values are excluded (matching exact `percentile` /
    `quantile_cont` semantics); a group with no non-null values gets
    NULL estimates (the cums guard — element_at(counts, 0) would throw
    otherwise). Returns group_cols + one 4-decimal column per qs
    entry."""
    spark = values.sparkSession
    width = _width()
    binned = (
        values.filter(F.col(val_col).isNotNull())
        .join(F.broadcast(stats), group_cols)
        .select(
            *group_cols,
            F.least(
                F.floor((F.col(val_col) - F.col("lo")) / width),
                F.lit(HIST_BINS - 1),
            ).cast("int").alias("bin"),
        )
        .groupBy(*group_cols, "bin")
        .agg(F.count("*").alias("cnt"))
    )
    bin_ids = spark.range(HIST_BINS).select(F.col("id").cast("int").alias("bin"))
    dense = (
        stats.crossJoin(F.broadcast(bin_ids))
        .join(binned, [*group_cols, "bin"], "left")
        .select(
            *group_cols, "bin", F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt")
        )
    )
    hist = dense.groupBy(*group_cols).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("bin", "cnt"))), lambda x: x["cnt"]
        ).alias("counts")
    )
    cums = F.transform(
        F.sequence(F.lit(1), F.lit(HIST_BINS)),
        lambda i: F.aggregate(
            F.slice(F.col("counts"), F.lit(1), i),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ),
    )

    def est(q: float) -> F.Column:
        total = F.element_at(F.col("cums"), HIST_BINS)
        r = F.greatest(
            F.ceil(F.lit(q) * total).cast("long"), F.lit(1).cast("long")
        )
        pos = F.array_position(
            F.transform(F.col("cums"), lambda c: c >= r), F.lit(True)
        ).cast("int")
        cum_before = F.when(pos == 1, F.lit(0).cast("long")).otherwise(
            F.element_at(F.col("cums"), pos - 1)
        )
        cnt_b = F.element_at(F.col("counts"), pos)
        raw = F.col("lo") + width * (
            (pos - 1).cast("double")
            + (r - cum_before).cast("double") / cnt_b.cast("double")
        )
        # empty-group guard: no non-null values → NULL estimate (CASE
        # short-circuits, so element_at(counts, 0) is never evaluated).
        # Degenerate-group guard (hi == lo — all values equal): the
        # interpolation would otherwise return lo + r/cnt under the 1.0
        # width fallback, pushing a single-valued group's estimate up to
        # lo + 1 and flipping every >=-cutoff comparison downstream
        # (e.g. a one-value lang bucketing 'tail' under hist vs 'head'
        # under exact — r11 ADVICE). The only consistent estimate for a
        # constant distribution is lo itself; mirrored in hist_est_sql
        # so the algebra stays identical across engines.
        return F.when(
            total > 0,
            F.when(F.col("hi") > F.col("lo"), F.round(raw, 4)).otherwise(
                F.round(F.col("lo"), 4)
            ),
        )

    return (
        hist.withColumn("cums", cums)
        .join(stats, group_cols)
        .select(*group_cols, *[est(q).alias(name) for name, q in qs.items()])
    )


def hist_cums_sql(
    src: str,
    group_col: str,
    val_col: str,
    prefix: str = "",
) -> str:
    """DuckDB CTE chain ``{p}stats/{p}binned/{p}hist/{p}cums`` mirroring
    `hist_quantile_est` over the ``src`` relation — the same double
    algebra, so both engines bin and interpolate identically. NULL
    values never reach the bin counts (the WHERE mirrors the Spark-side
    isNotNull filter)."""
    p = prefix
    return f"""{p}stats AS (
      SELECT {group_col}, MIN({val_col}) AS lo, MAX({val_col}) AS hi
      FROM {src} GROUP BY 1
    ),
    {p}binned AS (
      SELECT v.{group_col},
             CAST(LEAST(FLOOR((v.{val_col} - s.lo) /
               (CASE WHEN s.hi > s.lo THEN (s.hi - s.lo) / {HIST_BINS}.0 ELSE 1.0 END)),
               {HIST_BINS - 1}) AS INT) AS bin,
             COUNT(*) AS cnt
      FROM {src} v JOIN {p}stats s USING ({group_col})
      WHERE v.{val_col} IS NOT NULL
      GROUP BY 1, 2
    ),
    {p}hist AS (
      SELECT d.{group_col},
             list(CAST(d.cnt AS BIGINT) ORDER BY d.bin) AS counts
      FROM (
        SELECT s.{group_col}, g.i AS bin, COALESCE(b.cnt, 0) AS cnt
        FROM {p}stats s
        CROSS JOIN (SELECT UNNEST(generate_series(0, {HIST_BINS - 1})) AS i) g
        LEFT JOIN {p}binned b ON b.{group_col} = s.{group_col} AND b.bin = g.i
      ) d GROUP BY 1
    ),
    {p}cums AS (
      SELECT {group_col}, counts,
             list_transform(generate_series(1, {HIST_BINS}),
                            i -> CAST(list_sum(counts[1:i]) AS BIGINT)) AS cums
      FROM {p}hist
    )"""


def hist_est_sql(q: float) -> str:
    """The per-quantile estimate expression over a joined ``{p}cums`` ×
    ``{p}stats`` row (``counts``/``cums`` columns in scope, lo/hi via
    alias ``s``) — the SQL twin of `hist_quantile_est`'s ``est``,
    including the empty-group NULL guard and the degenerate-group
    (hi == lo → lo) short-circuit."""
    r = f"GREATEST(CAST(CEIL({q!r} * cums[{HIST_BINS}]) AS BIGINT), 1)"
    pos = f"list_position(list_transform(cums, c -> c >= {r}), true)"
    cb = f"(CASE WHEN {pos} = 1 THEN 0 ELSE cums[{pos} - 1] END)"
    width = f"(CASE WHEN s.hi > s.lo THEN (s.hi - s.lo) / {HIST_BINS}.0 ELSE 1.0 END)"
    return (
        f"(CASE WHEN cums[{HIST_BINS}] > 0 THEN "
        "CASE WHEN s.hi > s.lo THEN "
        f"ROUND(s.lo + {width} * (CAST({pos} - 1 AS DOUBLE)"
        f" + CAST({r} - {cb} AS DOUBLE) / CAST(counts[{pos}] AS DOUBLE)), 4)"
        " ELSE ROUND(s.lo, 4) END"
        f" ELSE NULL END)"
    )
