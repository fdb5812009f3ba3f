"""Extraction-service batch E2E (§3.3): NER + pattern city mentions →
gazetteer disambiguation → key-promoted aggregation → person branch →
versioned reprocessing loop (mirrors the reference's
tests/test_extraction_service_app.py flow on DataFrames)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentinela_py_spark.operators.extraction_job import (
    aggregate_mentions,
    city_mentions,
    city_pattern_spans,
    extraction_batch,
    mark_processed,
)
from sentinela_py_spark.operators.ingest import pending_by_version, upsert_by_key

CATALOG = [
    {"ibge_id": "2408102", "name": "Natal", "uf": "RN"},
    {"ibge_id": "2403251", "name": "Cruzeta", "uf": "RN"},
    {"ibge_id": "3550308", "name": "São Paulo", "uf": "SP"},
]

ARTICLES = [
    (
        "https://n/e1",
        "Prefeito de Cruzeta anuncia obras",
        "O prefeito de Cruzeta visitou Natal-RN. A cidade de Cruzeta cresce.",
    ),
    ("https://n/e2", "Maria Silva fala", "Sem cidades aqui."),
]


@pytest.fixture(scope="module")
def articles(spark):
    return spark.createDataFrame(ARTICLES, ["url", "title", "body"])


def test_city_pattern_spans_offsets():
    text = "O prefeito de Cruzeta visitou Natal-RN."
    spans = {(s["surface"], s["uf_surface"]) for s in city_pattern_spans(text)}
    assert ("Cruzeta", None) in spans
    assert ("Natal", "RN") in spans
    natal = next(s for s in city_pattern_spans(text) if s["surface"] == "Natal")
    assert text[natal["start"] : natal["end"]] == "Natal"


def test_mentions_resolution_and_key_promotion(spark, articles):
    from sentinela_py_spark.operators.ner import heuristic_person_engine

    out = extraction_batch(articles, CATALOG, engine=heuristic_person_engine)
    cities = out["cities"].filter(F.col("url") == "https://n/e1").collect()
    by_key = {r["mention_key"]: r for r in cities}
    # Cruzeta: title pattern + body pattern + bare 'Cruzeta'? — aggregated
    # under the promoted city_id key
    assert "2403251" in by_key
    cruzeta = by_key["2403251"]
    assert cruzeta["occurrences"] >= 2
    assert cruzeta["label"] == "Cruzeta"
    # Natal carries the explicit -RN signal → resolved despite the
    # ambiguous-surface whitelist
    assert "2408102" in by_key
    assert by_key["2408102"]["occurrences"] == 1
    # first-seen order: the title mention (Cruzeta) precedes Natal
    assert cruzeta["first_seen"] < by_key["2408102"]["first_seen"]


def test_person_branch_and_processed_markers(spark, articles):
    from sentinela_py_spark.operators.ner import heuristic_person_engine

    out = extraction_batch(
        articles, CATALOG, engine=heuristic_person_engine,
        ner_version="n2", gazetteer_version="g3",
    )
    people = {r["canonical_name"] for r in out["people"].collect()}
    assert "Maria Silva" in people
    processed = {r["url"]: r for r in out["processed"].collect()}
    assert processed["https://n/e1"]["ner_version"] == "n2"
    assert processed["https://n/e1"]["gazetteer_version"] == "g3"


def test_versioned_reprocessing_loop(spark, articles):
    """Process → upsert markers → nothing pending; version bump → all
    pending again (T4)."""
    store = articles.select(
        "url",
        F.lit(None).cast("boolean").alias("ner_done"),
        F.lit(None).cast("string").alias("ner_version"),
        F.lit(None).cast("string").alias("gazetteer_version"),
    )
    assert pending_by_version(store, "v1", "v1").count() == 2

    markers = mark_processed(articles, "v1", "v1")
    store2 = upsert_by_key(store, markers, ["url"])
    assert pending_by_version(store2, "v1", "v1").count() == 0
    # NER version bump invalidates everything
    assert pending_by_version(store2, "v2", "v1").count() == 2


def test_uf_hint_is_the_earliest_signal_whatever_the_row_order(spark):
    # u1: one surface whose mentions carry RN at 5 and PB at 40 (pass 1);
    # u2: two surfaces promoted to one city id, RN seen first (pass 2)
    rows = [
        ("u1", "Natal", None, 5, "RN", "pattern_city_uf", 0.9),
        ("u1", "Natal", None, 40, "PB", "pattern_city_uf", 0.9),
        ("u2", "Cidade do Natal", "2408102", 5, "RN", "pattern_city_uf", 0.9),
        ("u2", "Natal", "2408102", 40, "PB", "pattern_city_uf", 0.9),
    ]
    schema = (
        "url string, surface string, resolved_city_id string, start int, "
        "uf_surface string, source_method string, confidence double"
    )
    for ordered in (rows, rows[::-1]):
        resolved = spark.createDataFrame(ordered, schema).coalesce(1)
        got = {r["url"]: r["uf_hint"] for r in aggregate_mentions(resolved).collect()}
        assert got == {"u1": "RN", "u2": "RN"}
