"""End-to-end geo enrichment: articles → automaton match → signals →
scoring → primary selection → catalog/capital/distance enrichment, one
composed plan (reference GeoEnrichmentJob semantics)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import types as T

from sentinela_py_spark.functions.geo import EARTH_RADIUS_KM
from sentinela_py_spark.operators.geojob import geo_enrichment

COORDS = T.StructType([T.StructField("lat", T.DoubleType()), T.StructField("lon", T.DoubleType())])
BBOX = T.StructType(
    [
        T.StructField("south", T.DoubleType()),
        T.StructField("west", T.DoubleType()),
        T.StructField("north", T.DoubleType()),
        T.StructField("east", T.DoubleType()),
    ]
)
CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("ibge_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("uf", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("coords", COORDS),
        T.StructField("bbox", BBOX),
        T.StructField("capital", T.BooleanType()),
    ]
)

CATALOG_ROWS = [
    ("2408102", "Natal", "RN", "Nordeste", (-5.79, -35.21), (-6.0, -35.4, -5.6, -35.0), True),
    ("2403251", "Cruzeta", "RN", "Nordeste", (-6.41, -36.78), (-6.6, -37.0, -6.2, -36.6), False),
    ("3550308", "São Paulo", "SP", "Sudeste", (-23.55, -46.63), (-23.8, -46.8, -23.3, -46.4), True),
]

ENTRIES = [
    {"ibge_id": i, "name": n, "uf": u} for (i, n, u, *_rest) in CATALOG_ROWS
]

ARTICLES = [
    (
        "https://n/geo1",
        "Prefeitura de Cruzeta anuncia obras",
        "A prefeitura de Cruzeta (RN) iniciou obras. Natal recebeu o anúncio.",
    ),
    ("https://n/geo2", "Sem cidades aqui", "Texto neutro sem municípios."),
]


@pytest.fixture(scope="module")
def enriched_df(spark):
    catalog = spark.createDataFrame(CATALOG_ROWS, schema=CATALOG_SCHEMA)
    articles = spark.createDataFrame(ARTICLES, ["url", "title", "body"])
    return geo_enrichment(articles, catalog, ENTRIES)


@pytest.fixture(scope="module")
def enriched(enriched_df):
    return {r["url"]: r for r in enriched_df.collect()}


def test_primary_city_and_distance(enriched):
    row = enriched["https://n/geo1"]
    p = row["primary_city"]
    # Cruzeta: title + body mentions beat Natal's single mention
    assert p["city_id"] == "2403251"
    assert p["region"] == "Nordeste"
    assert p["state_capital"]["name"] == "Natal"
    # haversine Cruzeta -> Natal (reference formula, R=6371)
    lat1, lon1, lat2, lon2 = map(math.radians, (-6.41, -36.78, -5.79, -35.21))
    a = (
        math.sin((lat2 - lat1) / 2) ** 2
        + math.cos(lat1) * math.cos(lat2) * math.sin((lon2 - lon1) / 2) ** 2
    )
    expected = EARTH_RADIUS_KM * 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))
    assert row["distance_from_state_capital_km"] == pytest.approx(expected, rel=1e-9)


def test_mentioned_and_suppressed(enriched):
    row = enriched["https://n/geo1"]
    ranked = [(m["rank"], m["name"]) for m in row["mentioned_cities"]]
    assert ranked == [(1, "Cruzeta"), (2, "Natal")]
    sup = {s["name"]: s for s in row["suppressed"]}
    assert "Natal" in sup and sup["Natal"]["reason"] in ("lower_score", "tie_break")


def test_article_without_cities_absent(enriched):
    # no primary row is produced for an article with no resolvable mention
    assert "https://n/geo2" not in enriched


def test_matcher_udf_not_in_output_plan(enriched_df):
    # the matcher UDF runs once, behind the barrier, instead of once per
    # consumer of its rows
    plan = enriched_df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
