"""City-mention scoring aggregation and primary-city selection.

Pure DataFrame algebra over the exploded match rows produced by
matching.py — context-UF confidence adjustment (reference
aggregator.py:66-89), per-city score aggregation (aggregator.py:92-170)
and the 6-stage deterministic primary selection with suppression audit
(aggregator.py:193-276). One shuffle for the (article, city) groupBy, one
window over the per-article city sets; the city catalog joins broadcast.

Float-tolerance tie-breaking (ε=1e-6, reference aggregator.py:30-31) is
reproduced by banding scores to 6 decimals before ordering, which makes
the cascade deterministic across partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from sentinela_py_spark.functions.geo import haversine_km

CONTEXT_MATCH_BONUS = 0.3  # reference aggregator.py:11
CONTEXT_MISMATCH_PENALTY = 0.7  # reference aggregator.py:12
SCORE_DECIMALS = 6  # ε=1e-6 banding, reference aggregator.py:13,30-31


def adjust_context(matches: DataFrame, catalog: DataFrame) -> DataFrame:
    """Left-join the catalog (broadcast) to resolve each match's city UF /
    canonical name, then apply the context bonus/penalty.

    Adds: ``city_uf``, ``city_name``, ``adjusted_confidence``,
    ``context_status`` ('match' | 'mismatch' | null).
    """
    cat = F.broadcast(
        catalog.select(
            F.col("ibge_id").alias("_cat_id"),
            F.col("name").alias("_cat_name"),
            F.col("uf").alias("_cat_uf"),
        )
    )
    df = matches.join(cat, matches.city_id == F.col("_cat_id"), "left")
    base_conf = F.coalesce(F.col("confidence"), F.col("score"), F.lit(0.0))
    city_uf = F.coalesce(F.col("_cat_uf"), F.col("uf"))
    has_context = F.col("context_uf").isNotNull() & city_uf.isNotNull()
    status = F.when(~has_context, F.lit(None).cast("string")).otherwise(
        F.when(F.col("context_uf") == city_uf, "match").otherwise("mismatch")
    )
    adjusted = (
        F.when(status == "match", base_conf + CONTEXT_MATCH_BONUS)
        .when(status == "mismatch", F.greatest(base_conf - CONTEXT_MISMATCH_PENALTY, F.lit(0.0)))
        .otherwise(base_conf)
    )
    return (
        df.withColumn(
            "city_name",
            F.coalesce(F.col("_cat_name"), F.col("name"), F.col("surface"), F.col("city_id")),
        )
        .withColumn("city_uf", city_uf)
        .withColumn("confidence", base_conf)
        .withColumn("context_status", status)
        .withColumn("adjusted_confidence", adjusted)
        .drop("_cat_id", "_cat_name", "_cat_uf")
    )


def aggregate_city_mentions(adjusted: DataFrame) -> DataFrame:
    """Per (article, city): score = Σ adjusted_confidence, occurrence and
    signal counters, full match structs retained (reference
    aggregator.py:92-170). Rows without city_id are excluded here and
    surface as 'missing_candidate' suppressions (collect_unresolved)."""
    return (
        adjusted.filter(F.col("city_id").isNotNull())
        .groupBy("url", "city_id")
        .agg(
            F.first("city_name").alias("name"),
            F.first("city_uf", ignorenulls=True).alias("uf"),
            F.sum("adjusted_confidence").alias("score"),
            F.count("*").alias("occurrences"),
            F.sum(F.col("admin_marker").cast("int")).alias("admin_markers"),
            F.sum(F.coalesce(F.col("title_boost"), F.lit(0.0))).alias("title_boost_sum"),
            F.sum(F.when(F.col("context_status") == "match", 1).otherwise(0)).alias(
                "context_matches"
            ),
            F.sum(F.when(F.col("context_status") == "mismatch", 1).otherwise(0)).alias(
                "context_mismatches"
            ),
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "field",
                        "surface",
                        "start",
                        "end",
                        "method",
                        "score",
                        "title_boost",
                        "admin_marker",
                        "context_uf",
                        "confidence",
                        "adjusted_confidence",
                    )
                )
            ).alias("matches"),
        )
    )


def _banded(col: str) -> Column:
    return F.round(F.col(col), SCORE_DECIMALS)


def select_primary_city(aggregated: DataFrame) -> DataFrame:
    """Rank each article's cities through the reference's 6-stage cascade
    (score → admin_markers → title_boost_sum → fewer context_mismatches →
    occurrences → city_id) and derive the suppression audit.

    Output adds ``rank`` (1 = primary) and, for rank>1, ``suppression``
    struct {reason, rule} naming the first stage that eliminated the city
    (reference aggregator.py:193-257)."""
    part = W.partitionBy("url")
    ordering = [
        _banded("score").desc(),
        F.col("admin_markers").desc(),
        _banded("title_boost_sum").desc(),
        F.col("context_mismatches").asc(),
        F.col("occurrences").desc(),
        F.col("city_id").asc(),
    ]
    w = part.orderBy(*ordering)

    df = aggregated.withColumn("rank", F.row_number().over(w))

    # Stage-wise survivor maxima: a city's elimination rule is the first
    # cascade stage where it falls short of the surviving set's optimum.
    s1 = F.max(_banded("score")).over(part)
    in1 = _banded("score") == s1
    s2 = F.max(F.when(in1, F.col("admin_markers"))).over(part)
    in2 = in1 & (F.col("admin_markers") == s2)
    s3 = F.max(F.when(in2, _banded("title_boost_sum"))).over(part)
    in3 = in2 & (_banded("title_boost_sum") == s3)
    s4 = F.min(F.when(in3, F.col("context_mismatches"))).over(part)
    in4 = in3 & (F.col("context_mismatches") == s4)
    s5 = F.max(F.when(in4, F.col("occurrences"))).over(part)
    in5 = in4 & (F.col("occurrences") == s5)

    rule = (
        F.when(~in1, F.struct(F.lit("lower_score").alias("reason"), F.lit("score").alias("rule")))
        .when(~in2, F.struct(F.lit("tie_break").alias("reason"), F.lit("admin_marker").alias("rule")))
        .when(~in3, F.struct(F.lit("tie_break").alias("reason"), F.lit("title_boost").alias("rule")))
        .when(~in4, F.struct(F.lit("tie_break").alias("reason"), F.lit("context_uf").alias("rule")))
        .when(~in5, F.struct(F.lit("tie_break").alias("reason"), F.lit("occurrences").alias("rule")))
        .otherwise(F.struct(F.lit("tie_break").alias("reason"), F.lit("city_id").alias("rule")))
    )
    return df.withColumn(
        "suppression", F.when(F.col("rank") > 1, rule).otherwise(F.lit(None).cast("struct<reason:string,rule:string>"))
    )


def collect_unresolved(adjusted: DataFrame) -> DataFrame:
    """Matches without a resolved city → 'missing_candidate' suppression
    entries (reference aggregator.py:279-297)."""
    return adjusted.filter(F.col("city_id").isNull()).select(
        F.col("url"),
        F.lit(None).cast("string").alias("city_id"),
        F.col("surface").alias("name"),
        F.col("uf"),
        F.coalesce(F.col("confidence"), F.col("score"), F.lit(0.0)).alias("score"),
        F.lit(1).alias("occurrences"),
        F.lit("missing_candidate").alias("reason"),
        F.lit("candidate_id").alias("rule"),
    )


def enrich_primary_with_distance(
    primary: DataFrame, catalog: DataFrame
) -> DataFrame:
    """Attach catalog context and the haversine distance from the primary
    city to its state capital (reference aggregator.py:299-380 + J5/J7).

    ``catalog`` must carry ``coords`` struct and ``state_capital`` struct
    (with nested coords) — build_catalog_df derives state_capital via the
    self-join on uf when absent."""
    cat = F.broadcast(
        catalog.select(
            F.col("ibge_id").alias("_cid"),
            F.col("region").alias("region"),
            F.col("coords").alias("coords"),
            F.col("bbox").alias("bbox"),
            F.col("state_capital").alias("state_capital"),
        )
    )
    df = primary.join(cat, primary.city_id == F.col("_cid"), "left").drop("_cid")
    return df.withColumn(
        "distance_from_state_capital_km",
        haversine_km(
            F.col("coords.lat"),
            F.col("coords.lon"),
            F.col("state_capital.coords.lat"),
            F.col("state_capital.coords.lon"),
        ),
    )


def with_state_capital(catalog: DataFrame) -> DataFrame:
    """State-capital self-join on uf (reference catalog.py:208-251, J5):
    every city row gains a ``state_capital`` summary struct."""
    capitals = catalog.filter(F.col("capital") == True).select(  # noqa: E712
        F.col("uf").alias("_uf"),
        F.struct(
            F.col("ibge_id"), F.col("name"), F.col("uf"), F.col("coords"), F.col("bbox")
        ).alias("state_capital"),
    )
    return catalog.join(F.broadcast(capitals), catalog.uf == F.col("_uf"), "left").drop("_uf")
