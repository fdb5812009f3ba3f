"""Geo-enrichment job: the reference's full batch pipeline as ONE
DataFrame composition.

Reference dataflow (jobs/geo_enrichment_job.py:91-259 delegating to
geo_cli.py:170-339 and packages/@farol/geo-enrichment/service.py:39-67):
pending scan → dictionary match → signals → disambiguation → score
aggregation → primary selection → catalog/capital/distance enrichment →
upsert. Here each stage is the corresponding operator module, glued
lazily — Catalyst sees a single plan, so filters prune into the scan and
every dimension join broadcasts (SURVEY §3.3 "one DataFrame pipeline").

Output mirrors the reference's ``geo_enrichment`` payload per article:
primary city (+catalog context +distance-to-capital), ranked mentioned
cities, and the suppression audit (eliminated + unresolved mentions).
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sentinela_py_spark.operators.cityagg import (
    adjust_context,
    aggregate_city_mentions,
    collect_unresolved,
    enrich_primary_with_distance,
    select_primary_city,
    with_state_capital,
)
from sentinela_py_spark.operators.matching import explode_matches, match_articles


def geo_enrichment(
    articles: DataFrame,
    catalog: DataFrame,
    catalog_entries: Iterable[Mapping[str, Any]],
) -> DataFrame:
    """One row per enriched article:

    - ``primary_city`` struct: id/name/uf/region/coords/bbox/state_capital
      + ``distance_from_state_capital_km`` (J3/J5/J7)
    - ``mentioned_cities``: rank-ordered array over the A4 cascade
    - ``suppressed``: eliminated cities with {reason, rule} + unresolved
      surfaces as ``missing_candidate`` entries (A5)
    """
    catalog_entries = list(catalog_entries)
    matched = match_articles(articles, catalog_entries, body_col="body")
    adjusted = adjust_context(
        explode_matches(matched), catalog.select("ibge_id", "name", "uf")
    )
    ranked = select_primary_city(aggregate_city_mentions(adjusted))

    full_cat = with_state_capital(catalog)
    primary = enrich_primary_with_distance(
        ranked.filter(F.col("rank") == 1), full_cat
    ).select(
        "url",
        F.struct(
            F.col("city_id"),
            F.col("name"),
            F.col("uf"),
            F.col("region"),
            F.col("coords"),
            F.col("bbox"),
            F.col("state_capital"),
            F.col("score"),
            F.col("occurrences"),
        ).alias("primary_city"),
        F.col("distance_from_state_capital_km"),
    )

    mentioned = (
        ranked.groupBy("url")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("rank"),
                        F.col("city_id"),
                        F.col("name"),
                        F.col("uf"),
                        F.col("score"),
                        F.col("occurrences"),
                    )
                )
            ).alias("mentioned_cities")
        )
    )

    eliminated = ranked.filter(F.col("rank") > 1).select(
        F.col("url"),
        F.col("city_id"),
        F.col("name"),
        F.col("uf"),
        F.col("score"),
        F.col("occurrences"),
        F.col("suppression.reason").alias("reason"),
        F.col("suppression.rule").alias("rule"),
    )
    suppressed = (
        eliminated.unionByName(collect_unresolved(adjusted))
        .groupBy("url")
        .agg(
            F.collect_list(
                F.struct("city_id", "name", "uf", "score", "occurrences", "reason", "rule")
            ).alias("suppressed")
        )
    )

    return (
        primary.join(mentioned, "url", "left")
        .join(suppressed, "url", "left")
        .withColumn("suppressed", F.coalesce(F.col("suppressed"), F.array()))
    )
