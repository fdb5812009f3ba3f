"""NER adapter (U1), person branch (J8/M2/M3), metrics (K9/A7)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from sentinela_py_spark.functions.metrics import observe_counts, observe_ingest
from sentinela_py_spark.operators.ner import (
    heuristic_person_engine,
    load_engine,
    noop_engine,
    person_dimension,
    person_occurrences,
)

ARTICLES = [
    (
        "https://ex.com/a1",
        "O prefeito Carlos Alberto de Souza visitou a escola. Maria Silva aprovou.",
    ),
    ("https://ex.com/a2", "Nada para extrair aqui."),
    ("https://ex.com/a3", None),
]


@pytest.fixture(scope="module")
def articles(spark):
    return spark.createDataFrame(ARTICLES, ["url", "body"])


def test_noop_engine_default(monkeypatch, articles):
    monkeypatch.delenv("EXTRACTION_NER_FACTORY", raising=False)
    assert load_engine() is noop_engine
    assert person_occurrences(articles, noop_engine).count() == 0


def test_factory_loading(monkeypatch):
    monkeypatch.setenv(
        "EXTRACTION_NER_FACTORY", "sentinela_py_spark.operators.ner:heuristic_person_engine"
    )
    assert load_engine() is heuristic_person_engine


def test_person_occurrences_branch(articles):
    occ = person_occurrences(articles, heuristic_person_engine).collect()
    # no spans from a body without names, nor from a null body
    assert {r["url"] for r in occ} == {"https://ex.com/a1"}
    by_name = {r["canonical_name"]: r for r in occ}
    # reference normalization capitalizes connectors too ("de" -> "De"),
    # normalization.py:101-115
    carlos = by_name["Carlos Alberto De Souza"]
    # deterministic J8 identity: sha2 of the canonical name
    assert carlos["person_id"] == hashlib.sha256(b"Carlos Alberto De Souza").hexdigest()
    # M3: containing sentence
    assert carlos["sentence"] == "O prefeito Carlos Alberto de Souza visitou a escola."
    assert by_name["Maria Silva"]["sentence"] == "Maria Silva aprovou."
    assert carlos["confidence"] == 0.9


def test_person_dimension(articles):
    dim = person_dimension(person_occurrences(articles, heuristic_person_engine)).collect()
    names = {r["canonical_name"]: r["n_occurrences"] for r in dim}
    assert names == {"Carlos Alberto De Souza": 1, "Maria Silva": 1}


def test_observe_metrics(spark):
    df = spark.createDataFrame(
        [("p1", "t", "u1"), ("p1", "", "u2"), ("p2", None, "u3")],
        ["portal_name", "title", "url"],
    )
    observed, metrics = observe_ingest(df)
    observed.count()
    s = metrics.summary()
    assert s["seen"] == 3 and s["empty_title"] == 2
    assert "elapsed_ms_total" in s

    observed2, m2 = observe_counts(df.filter(F.col("title") == "t"))
    observed2.count()
    assert m2.summary()["rows"] == 1
