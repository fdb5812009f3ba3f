"""Relational query surface over the driver's TPC-H-ish tables.

Each query re-expresses one or more operators from SURVEY.md §2 (reference
file:line cited per query) as an idiomatic Catalyst-optimized DataFrame
plan, with a DuckDB oracle for the driver's correctness gate.

Numeric discipline: double sums are not associative, so any aggregate the
oracle hash-compares is computed in DECIMAL (exact, order-insensitive) and
cast back to DOUBLE at the end — both engines then produce bit-identical
values regardless of partitioning / shuffle order. This is also the right
call at 100 TB: decimal sums cost little and make results reproducible
across cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sentinela_py_spark.plans.registry import (
    method_arm as _method_arm,
    register,
    register_arms,
    sorted_arm,
)
from sentinela_py_spark.tables import load_table


def _dec(col: str | F.Column) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# Aggregation core
# ---------------------------------------------------------------------------


@register(
    "q_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    survey_ref="A3,A7 (aggregator.py:92-170 scoring aggregation shape); TPC-H Q1",
    tags=("agg", "flagship"),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: grouped multi-aggregate pricing summary (map-side partial
    agg + single shuffle on the group keys; decimal-exact sums)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    charge = disc_price * (1 + _dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(_dec("l_discount")).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q_conditional_agg",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN l_returnflag = 'R'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS returned_revenue,
           CAST(SUM(CASE WHEN l_discount > 0.05
                    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS high_discount_amount,
           CAST(SUM(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS bulk_lines,
           COUNT(*) AS total_lines
    FROM lineitem
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    survey_ref="M10,M13 (aggregator.py:66-89 context adjust; conditional column algebra)",
    tags=("agg",),
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """when/otherwise column algebra inside aggregates — the Spark form of
    the reference's per-match conditional score adjustments."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", _dec("l_extendedprice")).otherwise(F.lit(0)))
            .cast("double")
            .alias("returned_revenue"),
            F.sum(
                F.when(F.col("l_discount") > 0.05, _dec("l_extendedprice") * _dec("l_discount")).otherwise(F.lit(0))
            )
            .cast("double")
            .alias("high_discount_amount"),
            F.sum(F.when(F.col("l_quantity") >= 25, 1).otherwise(0)).alias("bulk_lines"),
            F.count("*").alias("total_lines"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q_grouping_totals",
    oracle="""
    SELECT 'rollup' AS gset, l_returnflag AS k1, l_linestatus AS k2,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS agg_val,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube' AS gset, o_orderstatus AS k1, o_orderpriority AS k2,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS agg_val,
           COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY gset, k1 NULLS FIRST, k2 NULLS FIRST
    """,
    survey_ref="§2.4 superset (rollup AND cube grouping sets as first-class)",
    tags=("agg",),
)
def q_grouping_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (hierarchical subtotals, lineitem) and CUBE (all grouping
    sets, orders) in one result — each arm's subtotal rows come free from
    its partial-aggregation pipeline, no extra shuffle per level."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    rollup = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("agg_val"), F.count("*").alias("n"))
        .select(
            F.lit("rollup").alias("gset"),
            F.col("l_returnflag").alias("k1"),
            F.col("l_linestatus").alias("k2"),
            "agg_val",
            "n",
        )
    )
    cube = (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.sum(_dec("o_totalprice")).cast("double").alias("agg_val"), F.count("*").alias("n"))
        .select(
            F.lit("cube").alias("gset"),
            F.col("o_orderstatus").alias("k1"),
            F.col("o_orderpriority").alias("k2"),
            "agg_val",
            "n",
        )
    )
    return rollup.unionByName(cube).orderBy(
        "gset", F.col("k1").asc_nulls_first(), F.col("k2").asc_nulls_first()
    )


# ---------------------------------------------------------------------------
# Filters / scans / sorts / limits
# ---------------------------------------------------------------------------


@register(
    "q_period_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
      AND o_orderpriority = '1-URGENT'
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    survey_ref=(
        "S5,F1,O1 (mongo_article_repository.py:44-75 period scan); "
        "O2,O5 (infrastructure/extraction.py:69-73 sort+limit; global top-k)"
    ),
    tags=("scan", "filter", "sort", "limit"),
)
def q_period_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + period scan with a global top-k — the reference's
    `list_by_period` composed with its sort+limit. Both predicates push
    down to the parquet scan (PushedFilters); the limit executes as
    per-partition TakeOrdered + driver merge, no full sort shuffle. Unique
    key breaks ties deterministically."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-04-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderpriority") == "1-URGENT")
        )
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "q_alias_coalesce_projection",
    oracle="""
    SELECT c_custkey AS customer_id,
           COALESCE(NULLIF(TRIM(c_name), ''), 'unknown') AS display_name,
           COALESCE(c_acctbal, 0.0) AS balance,
           CASE WHEN c_acctbal < 0 THEN 'debtor'
                WHEN c_acctbal < 5000 THEN 'regular' ELSE 'premium' END AS tier
    FROM customer
    ORDER BY customer_id
    """,
    survey_ref="F8,F10 (infrastructure/extraction.py:115-147 alias coalescing projection)",
    tags=("projection",),
)
def q_alias_coalesce_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's alias-tolerant reader, done once as a projection:
    coalesce across candidate fields + when/otherwise routing."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("customer_id"),
        F.coalesce(F.nullif(F.trim("c_name"), F.lit("")), F.lit("unknown")).alias("display_name"),
        F.coalesce(F.col("c_acctbal"), F.lit(0.0)).alias("balance"),
        F.when(F.col("c_acctbal") < 0, "debtor")
        .when(F.col("c_acctbal") < 5000, "regular")
        .otherwise("premium")
        .alias("tier"),
    ).orderBy("customer_id")


# ---------------------------------------------------------------------------
# Joins (+ geo distance: SURVEY §2.8 M5 / §2.3 J7 — haversine_distance_km,
# geoutils.py:12-60; coords synthesized deterministically from keys since
# the driver tables carry no geography — folded into q_revenue_per_nation's
# distance arm, r11)
# ---------------------------------------------------------------------------

_LAT_SQL = "(CAST(({k} * 13) % 17000 AS DOUBLE) / 100.0 - 85.0)"
_LON_SQL = "(CAST(({k} * 31) % 35000 AS DOUBLE) / 100.0 - 175.0)"


def _haversine_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distance arm of q_revenue_per_nation (r11 fold — former
    q_haversine_supplier_nation, semantics unchanged): haversine
    supplier→nation-centroid distances in the shared union shape."""
    from sentinela_py_spark.functions.geo import haversine_km

    def lat(k: F.Column) -> F.Column:
        return ((k * 13) % 17000).cast("double") / 100.0 - 85.0

    def lon(k: F.Column) -> F.Column:
        return ((k * 31) % 35000).cast("double") / 100.0 - 175.0

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey",
        lat(F.col("s_suppkey")).alias("slat"), lon(F.col("s_suppkey")).alias("slon"),
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name",
        lat(F.col("n_nationkey")).alias("nlat"), lon(F.col("n_nationkey")).alias("nlon"),
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.lit("distance").alias("method"),
            F.col("n_name").alias("nation"),
            F.lit(None).cast("string").alias("region"),
            F.lit(None).cast("string").alias("region_head"),
            F.lit(None).cast("double").alias("revenue"),
            F.lit(None).cast("long").alias("n_lines"),
            "s_suppkey",
            F.round(
                haversine_km(F.col("slat"), F.col("slon"), F.col("nlat"), F.col("nlon")), 4
            ).alias("dist_km"),
        )
    )


@register(
    "q_revenue_per_nation",
    oracle=f"""
    WITH heads AS (
      SELECT n_regionkey, MIN(n_nationkey) AS head_key
      FROM nation GROUP BY n_regionkey
    ),
    hs AS (
      SELECT s_suppkey, s_nationkey,
             {_LAT_SQL.format(k='s_suppkey')} AS slat, {_LON_SQL.format(k='s_suppkey')} AS slon
      FROM supplier
    ),
    hn AS (
      SELECT n_nationkey, n_name,
             {_LAT_SQL.format(k='n_nationkey')} AS nlat, {_LON_SQL.format(k='n_nationkey')} AS nlon
      FROM nation
    )
    SELECT 'revenue' AS method,
           n.n_name AS nation, r.r_name AS region, h2.n_name AS region_head,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines,
           CAST(NULL AS BIGINT) AS s_suppkey, CAST(NULL AS DOUBLE) AS dist_km
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey  = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    JOIN heads h     ON n.n_regionkey = h.n_regionkey
    JOIN nation h2   ON h.head_key = h2.n_nationkey
    GROUP BY n.n_name, r.r_name, h2.n_name
    UNION ALL
    SELECT 'distance' AS method,
           n_name AS nation, CAST(NULL AS VARCHAR) AS region,
           CAST(NULL AS VARCHAR) AS region_head,
           CAST(NULL AS DOUBLE) AS revenue, CAST(NULL AS BIGINT) AS n_lines,
           s_suppkey,
           ROUND(6371.0 * 2.0 * ATAN2(
             SQRT(POW(SIN(RADIANS(nlat - slat) / 2.0), 2)
                  + COS(RADIANS(slat)) * COS(RADIANS(nlat))
                    * POW(SIN(RADIANS(nlon - slon) / 2.0), 2)),
             SQRT(1.0 - (POW(SIN(RADIANS(nlat - slat) / 2.0), 2)
                  + COS(RADIANS(slat)) * COS(RADIANS(nlat))
                    * POW(SIN(RADIANS(nlon - slon) / 2.0), 2)))), 4) AS dist_km
    FROM hs JOIN hn ON hs.s_nationkey = hn.n_nationkey
    ORDER BY method, revenue DESC, nation, s_suppkey
    """,
    survey_ref=(
        "J3 (aggregator.py:34-49 catalog enrichment join) + A3 + J5 "
        "(catalog.py:208-251 state-capital self-join on uf — the region_head "
        "column; folded former q_region_head_nation) + M5/J7 distance arm "
        "(r11 fold of former q_haversine_supplier_nation: haversine_distance_km, "
        "geoutils.py:12-60 + aggregator.py:369-376 distance join)"
    ),
    tags=("join", "agg", "self", "geo", "flagship"),
)
def q_revenue_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-dimension joins, two method-tagged arms:

    - ``revenue``: star join — big fact × small dims. nation/region (and
      customer at low SF) go broadcast — no shuffle for the dimension
      sides; lineitem⋈orders is the only shuffle exchange, and AQE
      handles skew. The ``region_head`` column is the J5 self equi-join
      attaching each group's designated head row — the reference's
      state-capital enrichment (every city gets its UF capital), folded
      in from the former q_region_head_nation: both the head aggregate
      and the head-name lookup stay broadcast, so the fold adds zero
      shuffles;
    - ``distance`` (r11 fold — former q_haversine_supplier_nation,
      SURVEY §8 fold map #2): the M5/J7 haversine join, supplier point →
      its nation centroid (coords derived deterministically from keys).
      Pure column algebra — whole-stage codegen, the SAME broadcast
      25-row nation dim as the revenue arm; rounded to 4 dp so libm
      last-ulp differences between JVM and DuckDB vanish."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    heads = n.groupBy("n_regionkey").agg(F.min("n_nationkey").alias("head_key"))
    head_names = n.select(
        F.col("n_nationkey").alias("head_key"), F.col("n_name").alias("region_head")
    )
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(heads), "n_regionkey")
        .join(F.broadcast(head_names), "head_key")
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            "region_head",
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"), F.count("*").alias("n_lines"))
        .select(
            F.lit("revenue").alias("method"),
            "nation", "region", "region_head", "revenue", "n_lines",
            F.lit(None).cast("long").alias("s_suppkey"),
            F.lit(None).cast("double").alias("dist_km"),
        )
    )
    return (
        rev.unionByName(_haversine_arm(spark, sf_dir))
        .orderBy("method", F.col("revenue").desc(), "nation", "s_suppkey")
    )


# sorted_arm: the dedicated builders re-pay the headline's final ORDER
# BY so COMPARABLE_ARM ratios compare like-for-like plans (r11 ADVICE).
register_arms(
    "q_revenue_per_nation",
    revenue=_method_arm("q_revenue_per_nation", "revenue"),
    distance=sorted_arm(_haversine_arm, "method", "nation", "s_suppkey"),
)


@register(
    "q_customer_existence",
    oracle="""
    SELECT 'anti' AS probe, c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT 'semi' AS probe, c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    ORDER BY probe, c_custkey
    """,
    survey_ref="J6 (ingestion_router.py:36-42 duplicate anti-join) + its semi-join twin",
    tags=("join", "anti", "semi"),
)
def q_customer_existence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both existence-probe forms in one result, each arm tagged — the
    scalable replacement for the reference's per-row `exists()` probe (one
    join instead of N point lookups). The probe side is pre-filtered
    (urgent orders only) so the predicate pushes into the scan before the
    join; every customer has *some* order in the driver data, so the
    unfiltered anti-join would be vacuous. Catalyst reuses the same
    build side for both the left-anti and left-semi arms."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(F.lit("anti").alias("probe"), "c_custkey", "c_name")
    )
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select(F.lit("semi").alias("probe"), "c_custkey", "c_name")
    )
    return anti.unionByName(semi).orderBy("probe", "c_custkey")


# ---------------------------------------------------------------------------
# Windows
# ---------------------------------------------------------------------------


@register(
    "q_top1_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn = 1
    ORDER BY o_custkey
    """,
    survey_ref="A4,W1,O5 (aggregator.py:193-276 primary-city top-1 with multi-key tie-break)",
    tags=("window",),
)
def q_top1_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's primary-city selection: deterministic argmax via a
    multi-key ordered window + row_number()==1."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy("o_custkey")
    )


@register(
    "q_supplier_rank_in_nation",
    oracle="""
    SELECT s_suppkey, s_name, n_name AS nation, s_acctbal,
           DENSE_RANK() OVER (PARTITION BY n_name ORDER BY s_acctbal DESC) AS bal_rank
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    ORDER BY nation, bal_rank, s_suppkey
    """,
    survey_ref="W1 superset (ranking family exposed first-class)",
    tags=("window",),
)
def q_supplier_rank_in_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    w = W.partitionBy("n_name").orderBy(F.col("s_acctbal").desc())
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"), "s_acctbal")
        .withColumn("bal_rank", F.dense_rank().over(W.partitionBy("nation").orderBy(F.col("s_acctbal").desc())))
        .orderBy("nation", "bal_rank", "s_suppkey")
    )


@register(
    "q_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
    FROM orders
    WHERE o_custkey <= 200
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    survey_ref="§2.5 superset (frame-spec aggregation exposed first-class)",
    tags=("window",),
)
def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_total"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Set operations / dedup
# ---------------------------------------------------------------------------


@register(
    "q_union_dedup",
    oracle="""
    SELECT DISTINCT o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      UNION ALL
      SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    )
    ORDER BY o_custkey
    """,
    survey_ref="§2.7, A8 (servico_coleta_noticias.py:143-166 in-run union+dedup)",
    tags=("setop", "dedup"),
)
def q_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of overlapping batches then first-wins dedup — the reference's
    in-run URL dedup across daily scans."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = o.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    return a.unionAll(b).distinct().orderBy("o_custkey")


# ---------------------------------------------------------------------------
# Explode / nested data (the report sink shape)
# ---------------------------------------------------------------------------


# (the former q_exploded_word_report demo was retired to keep the registry at
# the driver's 50-entry window: K5's explode→report shape stays verified by
# the golden-CSV pytest and the q_media_frames explode; its slot now holds
# q_decontamination in plans/textops.py — a first-class LLM-pipeline op.)


# ---------------------------------------------------------------------------
# Scalar function surface (string / date / math / json)
# ---------------------------------------------------------------------------


@register(
    "q_string_normalize",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('budget', 900.0, 925.0), ('mid', 925.0, 950.0),
             ('high', 950.0, 975.0), ('premium', 975.0, 1000.0)
    )
    SELECT p_partkey,
           LOWER(TRIM(p_type)) AS type_norm,
           regexp_replace(LOWER(p_name), ' +', '_', 'g') AS name_slug,
           LENGTH(p_name) AS name_len,
           UPPER(SUBSTRING(p_brand, 1, 5)) AS brand_prefix,
           CONCAT(p_brand, '#', CAST(p_size AS VARCHAR)) AS brand_size,
           b.band AS price_band
    FROM part p LEFT JOIN bands b
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    ORDER BY p_partkey
    """,
    survey_ref=(
        "M1,M2,M15 (normalization.py:77-129 text normalization scalar family); "
        "+ range join (non-equi): fact × interval dimension, broadcast nested-loop "
        "(folded former q_price_band_parts — frees a registry slot)"
    ),
    tags=("scalar", "string", "join", "range"),
)
def q_string_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-normalization family + interval/range join: each part
    also lands in the price band whose [lo, hi) interval contains it (NULL
    outside every band — LEFT join keeps the projection total). The band
    dim is tiny and explicitly broadcast, so the non-equi condition
    executes as a BroadcastNestedLoopJoin — each partition scans its parts
    once against 4 in-memory rows; no shuffle, and the pattern holds at
    100 TB because cost is |fact| × |bands|, never |fact|²."""
    p = load_table(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("budget", 900.0, 925.0), ("mid", 925.0, 950.0),
         ("high", 950.0, 975.0), ("premium", 975.0, 1000.0)],
        ["band", "lo", "hi"],
    )
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
            "left",
        )
        .select(
            "p_partkey",
            F.lower(F.trim("p_type")).alias("type_norm"),
            F.regexp_replace(F.lower("p_name"), " +", "_").alias("name_slug"),
            F.length("p_name").alias("name_len"),
            F.upper(F.substring("p_brand", 1, 5)).alias("brand_prefix"),
            F.concat(F.col("p_brand"), F.lit("#"), F.col("p_size").cast("string")).alias("brand_size"),
            F.col("band").alias("price_band"),
        )
        .orderBy("p_partkey")
    )


# Deterministic HyperLogLog (m=256 buckets, b=8): the scale path for
# COUNT(DISTINCT) — per-group state shrinks from the full key set to 256
# bytes of bucket maxima, mergeable across partitions. Built from the same
# md5 integers every other sketch here uses, so — unlike
# approx_count_distinct, whose HLL++ layout is JVM-private — the estimate
# (including its error) is bit-reproducible on both engines: 1/2^M terms
# are exact powers of two folded in sorted bucket order, and the one libm
# call (ln, small-range correction) sits behind a 4dp round.
_HLL_M = 256
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)  # standard alpha_m for m >= 128


# The date-part/HLL relations of the former q_date_parts (r11: folded
# into q_datetime_parse_cascade's `parts` arm — SURVEY §8 fold map #3):
# the CTE chain and the final per-(yr, mo) select, composed into the
# fold target's UNION ALL oracle.
_DP_CTES = f"""dp_base AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
             CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
             o_orderdate, o_custkey, o_totalprice,
             CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM orders
    ),
    dp_bucks AS (
      SELECT yr, mo, h % {_HLL_M} AS bucket,
             MAX(CASE WHEN h // {_HLL_M} = 0 THEN 53
                      ELSE 53 - len(bin(h // {_HLL_M})) END) AS mx
      FROM dp_base GROUP BY 1, 2, 3
    ),
    dp_hll AS (
      SELECT yr, mo,
             list_reduce(list(CAST(1.0 AS DOUBLE) / CAST(1::BIGINT << CAST(mx AS INT) AS DOUBLE)
                              ORDER BY bucket), (a, b) -> a + b)
               + ({_HLL_M} - COUNT(*)) AS s,
             {_HLL_M} - COUNT(*) AS v
      FROM dp_bucks GROUP BY 1, 2
    )"""

_DP_SELECT = f"""
    SELECT g.yr, g.mo, g.first_order_iso, g.n_orders, g.n_customers, g.month_revenue,
           ROUND(CASE WHEN CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M} / h.s <= {2.5 * _HLL_M} AND h.v > 0
                      THEN {_HLL_M} * ln({_HLL_M}.0 / h.v)
                      ELSE CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M} / h.s END, 4) AS n_customers_hll
    FROM (
      SELECT yr, mo,
             strftime(MIN(o_orderdate), '%Y-%m-%dT%H:%M:%S') AS first_order_iso,
             COUNT(*) AS n_orders,
             COUNT(DISTINCT o_custkey) AS n_customers,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS month_revenue
      FROM dp_base GROUP BY 1, 2
    ) g JOIN dp_hll h USING (yr, mo)"""


def _date_parts_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parts arm of q_datetime_parse_cascade (r11 fold — former
    q_date_parts, semantics unchanged): date-part grouping + ISO
    serialization, with an exact per-group COUNT(DISTINCT) riding the
    same shuffle (the A9 distinct-state-set semantics) AND its
    deterministic-HLL estimate beside it (`n_customers_hll`). At 100 TB
    the exact distinct's two-phase expansion shuffles every (group, key)
    pair; the HLL keeps 256 bucket maxima per group — constant state,
    one shuffle — at ~6.5% standard error (1.04/√m), and the column pair
    IS the accuracy audit."""
    o = load_table(spark, sf_dir, "orders")
    yr, mo = F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    exact = (
        o.groupBy(yr, mo)
        .agg(
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").alias("first_order_iso"),
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum(_dec("o_totalprice")).cast("double").alias("month_revenue"),
        )
    )
    h = F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10).cast("long")
    rem = F.expr(f"h div {_HLL_M}")
    rho = F.when(rem == 0, 53).otherwise(53 - F.length(F.bin(rem)))
    bucks = (
        o.select(yr, mo, h.alias("h"))
        .select("yr", "mo", (F.col("h") % _HLL_M).alias("bucket"), rho.alias("mx"))
        .groupBy("yr", "mo", "bucket")
        .agg(F.max("mx").alias("mx"))
    )
    terms = F.transform(
        F.array_sort(F.collect_list(F.struct("bucket", "mx"))),
        lambda x: F.lit(1.0)
        / F.call_function("shiftleft", F.lit(1).cast("long"), x["mx"].cast("int")).cast("double"),
    )
    hll = bucks.groupBy("yr", "mo").agg(
        (
            F.aggregate(terms, F.lit(0.0), lambda a, b: a + b)
            + (F.lit(_HLL_M) - F.count("*"))
        ).alias("s"),
        (F.lit(_HLL_M) - F.count("*")).alias("v"),
    )
    e_raw = F.lit(_HLL_ALPHA) * F.lit(_HLL_M * _HLL_M) / F.col("s")
    est = F.when(
        (e_raw <= 2.5 * _HLL_M) & (F.col("v") > 0),
        F.lit(_HLL_M) * F.log(F.lit(float(_HLL_M)) / F.col("v")),
    ).otherwise(e_raw)
    return (
        exact.join(hll, ["yr", "mo"])
        .select(
            "yr", "mo", "first_order_iso", "n_orders", "n_customers", "month_revenue",
            F.round(est, 4).alias("n_customers_hll"),
        )
        .orderBy("yr", "mo")
    )


@register(
    "q_event_buckets",
    oracle="""
    SELECT 'tumbling' AS kind, date_trunc('hour', ts) AS ws, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding' AS kind, ws, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM (
      SELECT event_type, value,
             CAST(to_timestamp(CAST(floor(epoch(ts) / 300) * 300 - o * 300 AS BIGINT)) AS TIMESTAMP) AS ws
      FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS o)
    )
    GROUP BY ws, event_type
    UNION ALL
    SELECT 'json' AS kind, CAST(NULL AS TIMESTAMP) AS ws, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(props->>'k' AS INT)) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY event_type
    ORDER BY kind, ws ASC NULLS FIRST, event_type
    """,
    survey_ref=(
        "T6 (tumbling + sliding window aggs — batch twins of the streaming superset, "
        "both arms over one scan); §1.2 nested maps/structs — 'json' arm sums a "
        "get_json_object field from the raw payload (folded former q_events_json_extract)"
    ),
    tags=("agg", "window", "time", "json"),
)
def q_event_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling and sliding time buckets over the event stream table in
    one result, each arm tagged — identical logic runs under Structured
    Streaming with a watermark (streaming/).

    The sliding arm uses 10-minute windows sliding every 5: each event
    lands in exactly two overlapping windows (window/slide = 2 replicas —
    the replication factor IS width/slide, which is why wide-and-fine
    sliding windows are expensive at scale and tumbling + rollup is often
    the better shape). The oracle derives the same window starts
    arithmetically.

    The 'json' arm (ws NULL) sums a field extracted from the raw JSON
    payload column JVM-side via get_json_object — the reference's `raw`
    audit subtree access (§1.2 nested maps/structs)."""
    e = load_table(spark, sf_dir, "events")
    tumbling = (
        e.groupBy(F.date_trunc("hour", "ts").alias("ws"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(_dec("value")).cast("double").alias("value_sum"))
        .select(F.lit("tumbling").alias("kind"), "ws", "event_type", "n", "value_sum")
    )
    win = F.window("ts", "10 minutes", "5 minutes")
    sliding = (
        e.groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(_dec("value")).cast("double").alias("value_sum"))
        .select(
            F.lit("sliding").alias("kind"),
            F.col("w.start").alias("ws"),
            "event_type",
            "n",
            "value_sum",
        )
    )
    json_arm = (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.get_json_object("props", "$.k").cast("int")).cast("double").alias("value_sum"),
        )
        .select(
            F.lit("json").alias("kind"),
            F.lit(None).cast("timestamp").alias("ws"),
            "event_type",
            "n",
            "value_sum",
        )
    )
    return (
        tumbling.unionByName(sliding)
        .unionByName(json_arm)
        .orderBy("kind", F.col("ws").asc_nulls_first(), "event_type")
    )


@register(
    "q_user_sessions",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM gaps
    GROUP BY user_id
    ORDER BY user_id
    """,
    survey_ref="T1-T3 analog (sessionization over the event stream)",
    tags=("window", "time"),
)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: lag + threshold + sum — the batch twin of
    streaming session windows."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # Interval comparison, not epoch casts: TIMESTAMP - TIMESTAMP yields a
    # day-time interval for both TIMESTAMP and TIMESTAMP_NTZ inputs, so the
    # plan survives testdata timestamp-encoding drift (r2's NTZ regression).
    new_sess = F.when(
        prev.isNull() | ((F.col("ts") - prev) > F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    return (
        e.withColumn("new_session", new_sess)
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.7 — exposed natively: the reference only has
# implicit union/dedup, e.g. servico_coleta_noticias.py:143-166 first-wins
# union and build_cache.py:176-181 source union)
# ---------------------------------------------------------------------------


@register(
    "q_customer_setops",
    oracle="""
    SELECT 'intersect' AS op, custkey FROM (
      SELECT o_custkey AS custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-07-01'
      INTERSECT
      SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-07-01'
    )
    UNION ALL
    SELECT 'except' AS op, custkey FROM (
      SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-07-01'
      EXCEPT
      SELECT o_custkey AS custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-07-01'
    )
    UNION ALL
    SELECT 'churned' AS op, custkey FROM (
      SELECT o_custkey AS custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
      EXCEPT
      SELECT o_custkey AS custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    )
    ORDER BY op, custkey
    """,
    survey_ref=(
        "§2.7 set ops: INTERSECT (active both sides of cutoff), EXCEPT (churned at "
        "cutoff), year-over-year EXCEPT (churned buyers) — reference has only implicit unions"
    ),
    tags=("setop",),
)
def q_customer_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The native set-op family in one result, each arm tagged:

    - ``intersect``: customers active both before and after the cutoff —
      Catalyst plans an aggregate-free left-semi after dedup, one shuffle
      on custkey.
    - ``except``: EXCEPT DISTINCT via ``subtract`` (left-anti after
      dedup; ``exceptAll().distinct()`` would wrongly keep keys whose
      multiplicity merely exceeds the right side's).
    - ``churned``: the same subtract over two year windows."""
    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-07-01").cast("timestamp")

    def keys(pred):
        return o.filter(pred).select(F.col("o_custkey").alias("custkey"))

    late = keys(F.col("o_orderdate") >= cut)
    early = keys(F.col("o_orderdate") < cut)
    y95 = keys(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    y96 = keys(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    arms = [
        late.intersect(early).select(F.lit("intersect").alias("op"), "custkey"),
        early.subtract(late).select(F.lit("except").alias("op"), "custkey"),
        y95.subtract(y96).select(F.lit("churned").alias("op"), "custkey"),
    ]
    out = arms[0]
    for arm in arms[1:]:
        out = out.unionByName(arm)
    return out.orderBy("op", "custkey")


# q_haversine_supplier_nation was folded into q_revenue_per_nation as
# the `distance` arm (r11, SURVEY §8 fold map #2) — `_haversine_arm` /
# `_LAT_SQL`/`_LON_SQL` (defined above the fold target) carry its
# semantics unchanged.


# ---------------------------------------------------------------------------
# Datetime parsing cascade (SURVEY §2.8 M6/M7 — scraper.py:556-718 multi-
# format parse incl. PT month names; extraction.py:134-147 epoch-0 default)
# and last-writer-wins dedup (§2.4 A6 — extraction_result_store.py:151-184)
# ---------------------------------------------------------------------------


def _pt_rewrite_sql(expr: str) -> str:
    from sentinela_py_spark.functions.datetimes import PT_MONTHS

    out = f"lower({expr})"
    for i, name in enumerate(PT_MONTHS, start=1):
        out = f"replace({out}, ' de {name} de ', '/{i:02d}/')"
    return out


def _cascade_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cascade arm of q_datetime_parse_cascade as a DEDICATED
    builder (the bench arm must not pay the parts arm's HLL expression
    construction — the r4 union-build-cost rule): round-trip format +
    try_to_timestamp cascade, method-tagged in the union shape."""
    from sentinela_py_spark.functions.datetimes import PT_MONTHS, parse_datetime_cascade
    from sentinela_py_spark.tables import ensure_min_partitions

    o = ensure_min_partitions(load_table(spark, sf_dir, "orders"))
    pt_month = F.element_at(
        F.array(*[F.lit(m) for m in PT_MONTHS]), F.month("o_orderdate")
    )
    raw = (
        F.when(F.col("o_orderkey") % 4 == 0, F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"))
        .when(F.col("o_orderkey") % 4 == 1, F.date_format("o_orderdate", "dd/MM/yyyy HH:mm"))
        .when(
            F.col("o_orderkey") % 4 == 2,
            F.concat(
                F.date_format("o_orderdate", "dd"),
                F.lit(" de "),
                pt_month,
                F.lit(" de "),
                F.date_format("o_orderdate", "yyyy"),
            ),
        )
        .otherwise(F.lit("sem data"))
    )
    return (
        o.select("o_orderkey", raw.alias("raw_ts"))
        .withColumn("parsed_ts", parse_datetime_cascade(F.col("raw_ts")))
        .select(
            F.lit("cascade").alias("method"),
            "o_orderkey",
            "raw_ts",
            "parsed_ts",
            F.lit(None).cast("int").alias("yr"),
            F.lit(None).cast("int").alias("mo"),
            F.lit(None).cast("string").alias("first_order_iso"),
            F.lit(None).cast("long").alias("n_orders"),
            F.lit(None).cast("long").alias("n_customers"),
            F.lit(None).cast("double").alias("month_revenue"),
            F.lit(None).cast("double").alias("n_customers_hll"),
        )
    )


@register(
    "q_datetime_parse_cascade",
    oracle=f"""
    WITH raw AS (
      SELECT o_orderkey,
             CASE CAST(o_orderkey % 4 AS INT)
               WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S')
               WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y %H:%M')
               WHEN 2 THEN strftime(o_orderdate, '%d') || ' de ' ||
                           (['janeiro','fevereiro','março','abril','maio','junho','julho',
                             'agosto','setembro','outubro','novembro','dezembro'])[CAST(month(o_orderdate) AS INT)]
                           || ' de ' || strftime(o_orderdate, '%Y')
               ELSE 'sem data'
             END AS raw_ts
      FROM orders
    ),
    {_DP_CTES}
    SELECT 'cascade' AS method, o_orderkey, raw_ts,
           COALESCE(
             try_strptime(raw_ts, '%Y-%m-%dT%H:%M:%S'),
             try_strptime(raw_ts, '%d/%m/%Y %H:%M'),
             try_strptime({_pt_rewrite_sql('raw_ts')}, '%d/%m/%Y'),
             TIMESTAMP '1970-01-01 00:00:00') AS parsed_ts,
           CAST(NULL AS INT) AS yr, CAST(NULL AS INT) AS mo,
           CAST(NULL AS VARCHAR) AS first_order_iso,
           CAST(NULL AS BIGINT) AS n_orders, CAST(NULL AS BIGINT) AS n_customers,
           CAST(NULL AS DOUBLE) AS month_revenue,
           CAST(NULL AS DOUBLE) AS n_customers_hll
    FROM raw
    UNION ALL
    SELECT 'parts' AS method, CAST(NULL AS BIGINT) AS o_orderkey,
           CAST(NULL AS VARCHAR) AS raw_ts, CAST(NULL AS TIMESTAMP) AS parsed_ts,
           yr, mo, first_order_iso, n_orders, n_customers, month_revenue,
           n_customers_hll
    FROM ({_DP_SELECT})
    ORDER BY method, o_orderkey, yr, mo
    """,
    survey_ref=(
        "M6/M7 datetime cascade (ISO | BR | PT month names | epoch-0 default); "
        "+ parts arm (r11 fold of former q_date_parts): M6,M7,M17 "
        "(scraper.py:556-718 datetime parsing; ISO serialization); A9 "
        "distinct-set count (normalization.py:146-168); + deterministic "
        "HyperLogLog sketch next to the exact COUNT(DISTINCT) — the 100 TB "
        "distinct-count path"
    ),
    tags=("scalar", "datetime", "agg", "sketch"),
)
def q_datetime_parse_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime surface, two method-tagged arms over orders:

    - ``cascade``: round-trip — format each order date into one of 4
      shapes (ISO / BR / PT month-name / unparseable), then recover it
      through the built-in try_to_timestamp cascade. All codegen — the
      M6/M7 semantics without a single UDF;
    - ``parts`` (r11 fold — former q_date_parts, SURVEY §8 fold map #3):
      per-(yr, mo) date-part grouping with ISO serialization, exact
      COUNT(DISTINCT) and the deterministic-HLL estimate beside it (see
      `_date_parts_arm`)."""
    cascade = _cascade_arm(spark, sf_dir)
    parts = _date_parts_arm(spark, sf_dir).select(
        F.lit("parts").alias("method"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("string").alias("raw_ts"),
        F.lit(None).cast("timestamp").alias("parsed_ts"),
        "yr", "mo", "first_order_iso", "n_orders", "n_customers",
        "month_revenue", "n_customers_hll",
    )
    return cascade.unionByName(parts).orderBy("method", "o_orderkey", "yr", "mo")


register_arms(
    "q_datetime_parse_cascade",
    cascade=sorted_arm(_cascade_arm, "method", "o_orderkey"),
    parts=sorted_arm(_date_parts_arm, "yr", "mo"),
)


@register(
    "q_event_last_state",
    oracle="""
    SELECT user_id, event_type, ts AS last_ts, value AS last_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    ORDER BY user_id, event_type
    """,
    survey_ref="A6 span dedup last-writer-wins (extraction_result_store.py:151-184) / K7 versioned store",
    tags=("window", "dedup"),
)
def q_event_last_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins per (user, event_type): the replace-on-append
    store semantics as a ranking window; one shuffle on the state key."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("ts").alias("last_ts"), F.col("value").alias("last_value"))
        .orderBy("user_id", "event_type")
    )


@register(
    "q_asof_last_view",
    oracle="""
    SELECT user_id, event_id AS click_id, ts AS click_ts,
           last_view_id, last_view_ts
    FROM (
      SELECT user_id, event_id, ts, event_type,
             LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_id,
             LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_ts
      FROM events
    )
    WHERE event_type = 'click'
    ORDER BY user_id, click_id
    """,
    survey_ref="custom operator (no reference analog): as-of join as a window composition",
    tags=("window", "asof", "join"),
)
def q_asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click gets the user's most recent strictly-prior
    view. Spark has no ASOF JOIN primitive; the idiomatic rendering is an
    ignore-nulls last() over a rows-preceding frame — ONE shuffle on the
    partition key versus the O(n²) theta-join a naive `b.ts <= a.ts` would
    plan. The same shape serves trades-vs-quotes style enrichment at any
    scale (frame state is O(1) per row)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    view_id = F.last(
        F.when(F.col("event_type") == "view", F.col("event_id")), ignorenulls=True
    ).over(w)
    view_ts = F.last(
        F.when(F.col("event_type") == "view", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        e.select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            view_id.alias("last_view_id"),
            view_ts.alias("last_view_ts"),
        )
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            "last_view_id",
            "last_view_ts",
        )
        .orderBy("user_id", "click_id")
    )


# Deterministic fixed-memory percentile sketch: a 64-bin equi-width
# histogram per group (min/max pass → bin counts → cumulative walk with
# linear interpolation inside the landing bin). The scale path for
# percentiles — state is 64 longs per group versus the exact quantile's
# full sorted group — built engine-neutrally (unlike approx_percentile,
# whose KLL/GK sketch layout is JVM-private), so the estimate is
# oracle-checked INCLUDING its binning error, like the HLL and Bloom arms.
# r11: the algebra (Spark AND SQL sides) moved to functions/hist.py so
# the CCNet ppl-tertile cutoffs (plans/textops.py) reuse ONE definition.
from sentinela_py_spark.functions.hist import (  # noqa: E402
    hist_cums_sql as _hist_cums_sql,
    hist_est_sql as _hist_est_sql,
    hist_quantile_est as _hist_quantile_est,
)

_HIST_SQL = _hist_cums_sql("orders", "o_orderpriority", "o_totalprice")


@register(
    "q_price_percentiles",
    oracle=f"""
    WITH {_HIST_SQL}
    SELECT e.o_orderpriority, e.p50, e.p90, e.p99, e.n,
           {_hist_est_sql(0.5)} AS p50_hist,
           {_hist_est_sql(0.9)} AS p90_hist,
           {_hist_est_sql(0.99)} AS p99_hist
    FROM (
      SELECT o_orderpriority,
             ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
             ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
             ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99,
             COUNT(*) AS n
      FROM orders GROUP BY o_orderpriority
    ) e
    JOIN cums USING (o_orderpriority)
    JOIN stats s USING (o_orderpriority)
    ORDER BY o_orderpriority
    """,
    survey_ref=(
        "§2.4 superset: exact percentiles (data-quality profiling agg) + 64-bin "
        "histogram percentile sketch beside them — the fixed-memory 100 TB path, "
        "oracle-checked including its binning error"
    ),
    tags=("agg", "percentile", "sketch"),
)
def q_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per group (Spark `percentile`
    == DuckDB `quantile_cont`; 4dp rounding absorbs interpolation ulps) —
    and the 64-bin equi-width histogram ESTIMATE of the same quantiles
    beside them (`*_hist` columns). Exact quantiles need the full sorted
    group; the histogram holds 64 longs per group and two scans (min/max,
    then counts), which is what survives 100 TB. The estimate interpolates
    linearly inside the landing bin of the cumulative walk; the paired
    columns are the accuracy audit."""
    o = load_table(spark, sf_dir, "orders")
    # min/max ride the exact-percentile aggregation (same group keys) so
    # the histogram costs ONE extra scan (the bin counts), not two
    exact = _price_exact(o)
    hist = _price_hist_est(spark, o, exact.select("o_orderpriority", "lo", "hi"))
    return (
        exact.join(hist, "o_orderpriority")
        .select(
            "o_orderpriority", "p50", "p90", "p99", "n",
            "p50_hist", "p90_hist", "p99_hist",
        )
        .orderBy("o_orderpriority")
    )


def _price_exact(o: DataFrame) -> DataFrame:
    """Exact arm of q_price_percentiles (+ the min/max the histogram
    reuses when both arms run together)."""
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
        F.count("*").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


def _price_hist_est(spark: SparkSession, o: DataFrame, stats: DataFrame) -> DataFrame:
    """Histogram arm of q_price_percentiles: 64-bin equi-width counts per
    group (``stats`` carries lo/hi), cumulative walk, linear interpolation
    inside the landing bin (`functions.hist.hist_quantile_est` — the one
    shared definition). Returns (o_orderpriority, p50/p90/p99_hist)."""
    return _hist_quantile_est(
        o,
        ["o_orderpriority"],
        "o_totalprice",
        stats,
        {"p50_hist": 0.5, "p90_hist": 0.9, "p99_hist": 0.99},
    )


def _price_exact_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _price_exact(load_table(spark, sf_dir, "orders")).select(
        "o_orderpriority", "p50", "p90", "p99", "n"
    )


def _price_hist_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    stats = o.groupBy("o_orderpriority").agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    return _price_hist_est(spark, o, stats)


register_arms("q_price_percentiles", exact=_price_exact_arm, hist=_price_hist_arm)


@register(
    "q_customer_spend_quartiles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, total,
           NTILE(4) OVER (ORDER BY total DESC, o_custkey) AS quartile
    FROM spend
    ORDER BY quartile, o_custkey
    """,
    survey_ref="§2.5 superset: NTILE bucketing (first-class ranking family)",
    tags=("window",),
)
def q_customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend quartiles via NTILE over a deterministic (total, key) order —
    ties broken by key so bucket assignment is engine-independent.

    Scale note: an unpartitioned window funnels all rows through one
    task; the input here is already one-row-per-customer (post-agg), so
    it's |customers|, not |orders|. For quartiles over a truly huge key
    space, switch to percentile thresholds + a map-side bucket join."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).cast("double").alias("total")
    )
    w = W.orderBy(F.col("total").desc(), F.col("o_custkey"))
    return (
        spend.withColumn("quartile", F.ntile(4).over(w))
        .select("o_custkey", "total", "quartile")
        .orderBy("quartile", "o_custkey")
    )


@register(
    "q_click_attribution",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id AS user_id, c.ts AS click_ts,
           COUNT(v.event_id) AS n_prior_views,
           MAX(v.ts) AS last_view_ts,
           (COUNT(v.event_id) > 0) AS attributed
    FROM events c LEFT JOIN events v
      ON v.user_id = c.user_id
     AND v.event_type = 'view'
     AND v.ts >= c.ts - INTERVAL 60 MINUTE AND v.ts < c.ts
    WHERE c.event_type = 'click'
    GROUP BY c.event_id, c.user_id, c.ts
    ORDER BY click_id
    """,
    survey_ref=(
        "event-time interval join + interval anti complement (attributed=false rows are "
        "the NOT EXISTS set) — J6 family over event time; batch only, as the "
        "reference has no event time (SURVEY T6)"
    ),
    tags=("join", "range", "anti", "events"),
)
def q_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution interval join, outer form: every click, with the views
    by the same user in the preceding hour when they exist. The equi-key
    (user_id) makes this a hash join with the time range as a post-join
    residual — one shuffle on user_id, per-user state bounded by the hour
    window; the identical plan runs unbounded as a watermarked
    stream-stream join (see the streaming twin). Rows with
    ``attributed = false`` ARE the interval anti-join (clicks with no
    qualifying prior view) — the outer join covers both directions without
    a second probe of the events table."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").alias("c")
    v = ev.filter(F.col("event_type") == "view").alias("v")
    return (
        c.join(
            v,
            (F.col("v.user_id") == F.col("c.user_id"))
            & (F.col("v.ts") >= F.col("c.ts") - F.expr("INTERVAL 60 MINUTES"))
            & (F.col("v.ts") < F.col("c.ts")),
            "left_outer",
        )
        .groupBy(
            F.col("c.event_id").alias("click_id"),
            F.col("c.user_id").alias("user_id"),
            F.col("c.ts").alias("click_ts"),
        )
        .agg(F.count("v.event_id").alias("n_prior_views"), F.max("v.ts").alias("last_view_ts"))
        .withColumn("attributed", F.col("n_prior_views") > 0)
        .orderBy("click_id")
    )


@register(
    "q_trailing_7d_spend",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing_spend
    FROM orders
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    survey_ref="window RANGE frame (time-interval): W1 family superset",
    tags=("window", "range-frame"),
)
def q_trailing_7d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval window frame: each order's trailing-7-day spend for
    its customer. ``rangeBetween`` over epoch seconds is the Spark
    rendering of SQL's RANGE INTERVAL frame — peers with equal order
    timestamps aggregate together on both engines, so the decimal-exact
    sum is order-insensitive and hash-stable. One shuffle on o_custkey."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-7 * 86400, 0)
    )
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .over(w)
            .cast("double")
            .alias("trailing_spend"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


