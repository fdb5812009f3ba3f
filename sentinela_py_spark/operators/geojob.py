"""Geo-enrichment job: the reference's full batch pipeline as ONE
DataFrame composition.

Reference dataflow (jobs/geo_enrichment_job.py:91-259 delegating to
geo_cli.py:170-339 and packages/@farol/geo-enrichment/service.py:39-67):
pending scan → dictionary match → signals → disambiguation → score
aggregation → primary selection → catalog/capital/distance enrichment →
upsert. Here each stage is the corresponding operator module, glued
lazily — Catalyst sees a single plan, so filters prune into the scan and
every dimension join broadcasts (SURVEY §3.3 "one DataFrame pipeline").
The one eager barrier sits after the matcher UDF, whose rows feed both
the ranking and the unresolved audit; one ``groupBy("url")`` then
builds all four output columns.

Output mirrors the reference's ``geo_enrichment`` payload per article:
primary city (+catalog context +distance-to-capital), ranked mentioned
cities, and the suppression audit (eliminated + unresolved mentions).
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sentinela_py_spark.barrier import barrier_eager
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
    # Both the ranked and the unresolved rows read the match rows: the
    # barrier runs the matcher UDF once instead of once per consumer.
    adjusted = adjust_context(
        explode_matches(matched), catalog.select("ibge_id", "name", "uf")
    ).transform(barrier_eager)
    ranked = enrich_primary_with_distance(
        select_primary_city(aggregate_city_mentions(adjusted)),
        with_state_capital(catalog),
    )

    # Each row carries the output entries it contributes to, NULL where
    # it contributes none; one groupBy then builds every output column.
    rank = F.col("rank")
    ranked_rows = ranked.select(
        "url",
        F.when(
            rank == 1,
            F.struct(
                "city_id", "name", "uf", "region", "coords", "bbox",
                "state_capital", "score", "occurrences",
            ),
        ).alias("primary_city"),
        F.when(rank == 1, F.col("distance_from_state_capital_km")).alias(
            "distance_from_state_capital_km"
        ),
        F.struct("rank", "city_id", "name", "uf", "score", "occurrences").alias(
            "mentioned"
        ),
        F.when(
            rank > 1,
            F.struct(
                "city_id", "name", "uf", "score", "occurrences",
                F.col("suppression.reason").alias("reason"),
                F.col("suppression.rule").alias("rule"),
            ),
        ).alias("eliminated"),
    )
    unresolved = collect_unresolved(adjusted)
    unresolved_rows = unresolved.select(
        "url",
        F.struct(*unresolved.columns[1:])
        .cast(ranked_rows.schema["eliminated"].dataType)
        .alias("eliminated"),
    )

    return (
        ranked_rows.unionByName(unresolved_rows, allowMissingColumns=True)
        .groupBy("url")
        .agg(
            F.first("primary_city", ignorenulls=True).alias("primary_city"),
            F.first("distance_from_state_capital_km", ignorenulls=True).alias(
                "distance_from_state_capital_km"
            ),
            F.array_sort(F.collect_list("mentioned")).alias("mentioned_cities"),
            F.collect_list("eliminated").alias("suppressed"),
        )
        .filter(F.col("primary_city").isNotNull())
    )
