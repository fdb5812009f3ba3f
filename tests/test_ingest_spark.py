"""Ingestion dedup, period/city query, upsert emulation, alias
normalization, report sink, and canonical hashing — reference semantics
from mongo_article_repository.py, cli.py report, city_extraction_job.py."""

import datetime as dt
import hashlib
import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sentinela_py_spark.functions.hashing import canonical_sha256, canonical_sha256_udf
from sentinela_py_spark.operators.ingest import (
    list_by_period,
    new_articles,
    pending_by_version,
    upsert_by_key,
)
from sentinela_py_spark.operators.report import REPORT_COLUMNS, article_city_report
from sentinela_py_spark.schemas import ARTICLE
from sentinela_py_spark.sources.articles import normalize_article_aliases


def _article(url, portal="Portal Cidades", title="t", cities=None, published=None):
    return Row(
        portal_name=portal,
        title=title,
        url=url,
        content="corpo",
        summary=None,
        classification=None,
        published_at=published or dt.datetime(2024, 5, 2, 10, 0, 0),
        cities=cities or [],
        cities_extraction=None,
        geo_enriched=None,
        raw={},
    )


def _mention(city_id, label, uf, occurrences=1, sources=("automaton",)):
    return Row(
        identifier=city_id,
        city_id=city_id,
        label=label,
        uf=uf,
        occurrences=occurrences,
        sources=list(sources),
    )


@pytest.fixture(scope="module")
def store(spark):
    rows = [
        _article(
            "https://p/c1",
            cities=[_mention("2504009", "Campina Grande", "PB", 2)],
            published=dt.datetime(2024, 5, 2, 10, 0),
        ),
        _article("https://p/c2", published=dt.datetime(2024, 5, 3, 9, 0)),
        _article(
            "https://p/c3",
            portal="Outro Portal",
            cities=[_mention("2408102", "Natal", "RN")],
            published=dt.datetime(2024, 5, 2, 12, 0),
        ),
    ]
    return spark.createDataFrame(rows, schema=ARTICLE)


def test_new_articles_anti_join(spark, store):
    incoming = spark.createDataFrame(
        [
            _article("https://p/c1"),          # dup of stored
            _article("https://p/new1"),
            _article("https://p/new1"),        # in-run dup
            _article("https://p/new2"),
        ],
        schema=ARTICLE,
    )
    accepted = new_articles(incoming, store)
    urls = sorted(r["url"] for r in accepted.collect())
    assert urls == ["https://p/new1", "https://p/new2"]


def test_new_articles_survivor_independent_of_row_order(spark, store):
    rows = [
        ("Portal Cidades", "https://p/x", "first title", 1),
        ("Portal Cidades", "https://p/x", "second title", 7),
    ]
    kept = []
    for ordered in (rows, rows[::-1]):
        incoming = spark.createDataFrame(
            ordered, "portal_name string, url string, title string, item_idx int"
        ).coalesce(1)
        kept.append([tuple(r) for r in new_articles(incoming, store).collect()])
    assert len(kept[0]) == 1
    assert kept[0] == kept[1]


def test_list_by_period_with_city_filter(spark, store):
    rows = list_by_period(
        store, "Portal Cidades", dt.date(2024, 5, 1), dt.date(2024, 5, 31)
    ).collect()
    assert [r["url"] for r in rows] == ["https://p/c1", "https://p/c2"]

    by_city = list_by_period(
        store, "Portal Cidades", dt.date(2024, 5, 1), dt.date(2024, 5, 31), city="2504009"
    ).collect()
    assert [r["url"] for r in by_city] == ["https://p/c1"]

    none = list_by_period(
        store, "Portal Cidades", dt.date(2024, 6, 1), dt.date(2024, 6, 30)
    ).collect()
    assert none == []


def test_upsert_by_key_replaces_matching_rows(spark, store):
    updates = spark.createDataFrame(
        [
            _article(
                "https://p/c2",
                cities=[_mention("3550308", "São Paulo", "SP")],
                published=dt.datetime(2024, 5, 3, 9, 0),
            )
        ],
        schema=ARTICLE,
    )
    merged = upsert_by_key(store, updates, ["portal_name", "url"])
    assert merged.count() == 3
    c2 = merged.filter(F.col("url") == "https://p/c2").collect()[0]
    assert c2["cities"][0]["city_id"] == "3550308"


def test_alias_normalization_projection(spark):
    df = spark.createDataFrame(
        [("Titulo Velho", "corpo antigo", "2024-05-02T10:00:00", "fonte-x")],
        "titulo string, corpo string, published_at string, fonte string",
    )
    out = normalize_article_aliases(df)
    row = out.collect()[0]
    assert row["title"] == "Titulo Velho"
    assert row["content"] == "corpo antigo"
    assert row["source"] == "fonte-x"
    assert row["published_at"] == dt.datetime(2024, 5, 2, 10, 0)


def test_alias_normalization_bad_timestamp_defaults_epoch(spark):
    df = spark.createDataFrame([("t", "b", "not-a-date", "s")],
        "title string, body string, published_at string, source string")
    row = normalize_article_aliases(df).collect()[0]
    assert row["published_at"] == dt.datetime(1970, 1, 1, 0, 0)


def test_city_mention_alias_coalescing(spark):
    df = spark.createDataFrame(
        [("u", [Row(ibge_id="123", nome="Cidade X", uf="PB")])],
        "url string, cities array<struct<ibge_id:string,nome:string,uf:string>>",
    )
    out = normalize_article_aliases(df).collect()[0]
    c = out["cities"][0]
    assert c["identifier"] == "123" and c["city_id"] == "123"
    assert c["label"] == "Cidade X"
    assert c["occurrences"] == 1 and c["sources"] == []


def test_report_shape_and_explosion(spark, store):
    report = article_city_report(store)
    assert tuple(report.columns) == REPORT_COLUMNS
    rows = report.collect()
    assert len(rows) == 3  # one per article×city; city-less article kept
    with_city = [r for r in rows if r["cidade"]]
    assert {r["cidade"] for r in with_city} == {"Campina Grande", "Natal"}
    cg = next(r for r in with_city if r["cidade"] == "Campina Grande")
    assert cg["ocorrencias"] == "2" and cg["fontes"] == "automaton"
    assert cg["publicado_em"] == "2024-05-02T10:00:00"

    only_cities = article_city_report(store, include_without_cities=False)
    assert only_cities.count() == 2


def test_canonical_hash_matches_python_json(spark):
    payload = {"fields": {"b": 1, "a": [1, 2]}, "matches": [{"name": "Açu"}]}
    expected = hashlib.sha256(
        json.dumps(payload, ensure_ascii=False, sort_keys=True).encode()
    ).hexdigest()
    assert canonical_sha256(payload) == expected

    df = spark.createDataFrame([(payload["fields"],)], "payload struct<b:long,a:array<long>>")
    hashed = df.select(canonical_sha256_udf(F.col("payload"))).first()[0]
    assert hashed == canonical_sha256({"b": 1, "a": [1, 2]})


def test_pending_by_version(spark):
    df = spark.createDataFrame(
        [
            ("u1", None, None, None),
            ("u2", False, "v1", "g1"),
            ("u3", True, "v1", "g1"),
            ("u4", True, "v0", "g1"),
            ("u5", True, None, "g1"),  # done, but under no recorded version
        ],
        "url string, ner_done boolean, ner_version string, gazetteer_version string",
    )
    pending = {r["url"] for r in pending_by_version(df, "v1", "g1").collect()}
    assert pending == {"u1", "u2", "u4", "u5"}
