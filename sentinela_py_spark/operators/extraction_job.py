"""Extraction-service batch: the §3.3 worker flow as ONE composition.

Reference dataflow (sentinela/extraction/service.py:59-188 +
services/extraction/app.py:454-486): fetch pending by version → combined
text → NER → person branch (normalize + identity + sentence) → city
branch (NER spans ∪ deterministic patterns → gazetteer resolve →
disambiguate → confidence) → mention aggregation with key promotion →
mark processed.

Spark architecture: the Python-shaped steps (NER, regex spans with
offsets, sentence lookup) run in Arrow passes over the documents, and
everything after the span rows (gazetteer join, disambiguation,
aggregation, version bookkeeping) is DataFrame algebra. Text ships to
Python twice: ``city_mentions`` runs the city spans on the normalized
text, ``person_occurrences`` the person spans on the combined text. One
pass emitting both span kinds gave the same rows but saved only ~0.7
worker CPU-s per 24-article batch on 4 cores and added one Spark job,
so the two passes stay. The two-pass key-promotion aggregation follows
SURVEY §7.3.4: group by surface → resolve the id → re-group by the
promoted key.
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Iterator, Mapping
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from sentinela_py_spark.functions.textnorm import (
    extract_state_mentions,
    find_sentence_containing,
    normalize_article_text,
)
from sentinela_py_spark.operators.gazetteer import build_name_index, resolve_mentions
from sentinela_py_spark.operators.ner import NEREngine, load_engine

# M9 deterministic city patterns (reference extraction/gazetteer.py:85-107)
_NAME = r"[A-ZÀ-Ý][\wà-ÿ]+(?:[ -][A-ZÀ-Ý][\wà-ÿ]+)*"
_PATTERNS = (
    # Cidade-UF / Cidade/UF — captures the explicit UF signal
    (re.compile(rf"\b({_NAME})[-/]([A-Z]{{2}})\b"), "pattern_city_uf"),
    (re.compile(rf"\b[Pp]refeit[oa] (?:de|do|da) ({_NAME})"), "pattern_prefeito"),
    (re.compile(rf"\b[Mm]unic[ií]pio de ({_NAME})"), "pattern_municipio"),
)

MENTION_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("mention_id", LongType()),
        StructField("surface", StringType()),
        StructField("uf_surface", StringType()),
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("sentence", StringType()),
        StructField("ner_score", StringType()),  # str-encoded double, cast later
        StructField("source_method", StringType()),
        StructField("context_states", ArrayType(StringType())),
    ]
)


def city_pattern_spans(text: str) -> list[dict]:
    """Deterministic candidate mentions with offsets (M9) + UF split
    (M12: a trailing 2-letter token after -/ becomes the UF signal)."""
    out = []
    for rx, method in _PATTERNS:
        for m in rx.finditer(text):
            surface = m.group(1)
            uf = m.group(2) if m.re.groups >= 2 else None
            out.append(
                {
                    "surface": surface,
                    "uf_surface": uf,
                    "start": m.start(1),
                    "end": m.end(1),
                    "score": 1.0,
                    "method": method,
                }
            )
    return out


def city_mentions(
    articles: DataFrame,
    engine: NEREngine | None = None,
) -> DataFrame:
    """Span extraction pass: combined text (F9) → boilerplate strip (M1)
    → NER city spans (labels LOC/CITY/GPE) ∪ deterministic patterns (M9)
    with span-keyed dedup (service.py:138-152, patterns win on overlap
    because they carry the UF signal) → sentence (M3) + state context
    (M8/A9). One Arrow batch pass; offsets index the combined text."""
    eng = engine if engine is not None else load_engine()

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in MENTION_SCHEMA.fieldNames()}
            for url, title, body in zip(pdf["url"], pdf["title"], pdf["body"]):
                combined = "\n".join(p for p in (title, body) if p)
                text = normalize_article_text(combined)
                states = sorted(extract_state_mentions(text))
                spans: dict[tuple[int, int], dict] = {}
                for s in eng(text):
                    if s.get("label") not in ("LOC", "CITY", "GPE"):
                        continue
                    spans[(int(s.get("start", 0)), int(s.get("end", 0)))] = {
                        "surface": s.get("text"),
                        "uf_surface": None,
                        "start": int(s.get("start", 0)),
                        "end": int(s.get("end", 0)),
                        "score": float(s.get("score", 0.0)),
                        "method": s.get("method", "ner"),
                    }
                for p in city_pattern_spans(text):
                    spans[(p["start"], p["end"])] = p  # pattern wins on overlap
                for i, ((start, end), p) in enumerate(sorted(spans.items())):
                    rows["url"].append(url)
                    rows["mention_id"].append(i)
                    rows["surface"].append(p["surface"])
                    rows["uf_surface"].append(p["uf_surface"])
                    rows["start"].append(start)
                    rows["end"].append(end)
                    rows["sentence"].append(find_sentence_containing(text, start))
                    rows["ner_score"].append(repr(p["score"]))
                    rows["source_method"].append(p["method"])
                    rows["context_states"].append(states)
            if rows["url"]:
                # an empty frame would infer float64 columns, which Arrow
                # can't convert to the list<string> field
                yield pd.DataFrame(rows)

    return (
        articles.select("url", "title", "body")
        .mapInPandas(extract, MENTION_SCHEMA)
        .withColumn("ner_score", F.col("ner_score").cast("double"))
    )


def resolve_city_mentions(mentions: DataFrame, name_index: DataFrame) -> DataFrame:
    """Gazetteer resolve + disambiguate (J1/J4) and the final span
    confidence = extractor score × disambiguation confidence (M13,
    service.py:165-176 × disambiguation.py:41-44)."""
    resolved = resolve_mentions(mentions, name_index)
    return resolved.withColumn(
        "confidence", F.round(F.col("ner_score") * F.col("confidence"), 6)
    )


def _first_non_null(value: str, position: str) -> Column:
    """The non-null ``value`` at the smallest ``position``: min_by skips
    rows whose ordering is NULL, so the pick does not depend on row
    order the way ``first(ignorenulls=True)`` does."""
    return F.min_by(value, F.when(F.col(value).isNotNull(), F.col(position)))


def aggregate_mentions(resolved: DataFrame) -> DataFrame:
    """A1 mention aggregation with key promotion (service.py:205-278,
    §7.3.4): pass 1 groups by the surface key and resolves the best
    city_id seen for that surface; pass 2 re-groups by the promoted key
    (id when any mention of the surface resolved, else the surface).
    First-seen order is preserved via min(start): ``label`` is the
    earliest surface and ``uf_hint`` the earliest UF signal."""
    surface_key = F.lower(F.trim(F.col("surface")))
    p1 = (
        resolved.groupBy(F.col("url"), surface_key.alias("skey"))
        .agg(
            F.max("resolved_city_id").alias("cid"),
            F.count("*").alias("occurrences"),
            F.min_by("surface", F.col("start")).alias("label"),
            _first_non_null("uf_surface", "start").alias("uf_hint"),
            F.collect_set("source_method").alias("methods"),
            F.min("start").alias("first_seen"),
            F.max("confidence").alias("confidence"),
        )
    )
    key = F.coalesce(F.col("cid"), F.col("skey"))
    return (
        p1.groupBy(F.col("url"), key.alias("mention_key"))
        .agg(
            F.max("cid").alias("city_id"),
            F.sum("occurrences").alias("occurrences"),
            F.min_by("label", F.col("first_seen")).alias("label"),
            _first_non_null("uf_hint", "first_seen").alias("uf_hint"),
            F.array_distinct(F.flatten(F.collect_list("methods"))).alias("sources"),
            F.min("first_seen").alias("first_seen"),
            F.max("confidence").alias("confidence"),
        )
        .orderBy("url", "first_seen")
    )


def mark_processed(articles: DataFrame, ner_version: str, gazetteer_version: str) -> DataFrame:
    """Version bookkeeping rows for the upsert sink (T4 reprocessing gate;
    infrastructure/extraction.py:77-113). No wall-clock columns — the
    versions themselves are the idempotency signal (SURVEY §7.3.6)."""
    return articles.select(
        F.col("url"),
        F.lit(True).alias("ner_done"),
        F.lit(ner_version).alias("ner_version"),
        F.lit(gazetteer_version).alias("gazetteer_version"),
    )


def extraction_batch(
    articles: DataFrame,
    catalog_entries: Iterable[Mapping[str, Any]],
    engine: NEREngine | None = None,
    ner_version: str = "v1",
    gazetteer_version: str = "v1",
) -> dict[str, DataFrame]:
    """One worker batch end-to-end. Returns the three outputs the
    reference persists: aggregated city mentions per article (→ K3 cities
    writer), person occurrences (→ K6/K7 result store), and processed
    markers (→ T4 version gate)."""
    from sentinela_py_spark.operators.ner import person_occurrences

    spark = articles.sparkSession
    catalog_entries = list(catalog_entries)
    name_index = build_name_index(spark, catalog_entries)
    mentions = city_mentions(articles, engine)
    resolved = resolve_city_mentions(mentions, name_index)
    # person branch runs over the combined text (F9) like the city branch
    parts = F.filter(
        F.array(F.col("title"), F.col("body")),
        lambda c: F.length(F.coalesce(c, F.lit(""))) > 0,
    )
    combined = articles.withColumn("_combined", F.array_join(parts, "\n"))
    return {
        "cities": aggregate_mentions(resolved),
        "people": person_occurrences(combined, engine, text_col="_combined"),
        "processed": mark_processed(articles, ner_version, gazetteer_version),
    }
