"""NER engine adapter (U1) and the person extraction branch (J8/M2/M3).

Reference contract: a pluggable engine ``analyze(text) -> spans`` loaded
from an ``EXTRACTION_NER_FACTORY="module:callable"`` env var with a NoOp
default (sentinela/extraction/ner.py:9-13,
services/extraction/app.py:79-83,432-439,489-503); person occurrences are
normalized (normalization.py:93-129), given identity through an upsert
(uuid4 in-memory / serial in Postgres —
adapters/extraction_result_store.py:33-44,
infrastructure/extraction.py:171-207), and annotated with the containing
sentence (normalization.py:132-138).

Spark architecture:
- The engine runs inside an Arrow-batched pandas UDF: text batches in,
  ``array<struct>`` spans out. A model would be loaded once per executor
  (module-level lazy init), not per row.
- Person identity (J8) is ``sha2(canonical_name)`` — deterministic and
  cluster-reproducible where the reference's uuid4 is not (SURVEY §7.3.6);
  the id needs no dimension-table round-trip, so the "upsert-join"
  disappears into a column expression.
- Name normalization and sentence lookup run in the same UDF pass (they
  are Python-regex-shaped), so the per-document text is shipped to Python
  exactly once.
"""

from __future__ import annotations

import importlib
import os
import re
from collections.abc import Callable, Iterable, Iterator, Mapping
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sentinela_py_spark.functions.textnorm import (
    find_sentence_containing,
    normalize_person_name,
)
from sentinela_py_spark.schemas import PERSON_OCCURRENCE

NER_FACTORY_ENV = "EXTRACTION_NER_FACTORY"

# engine: text -> iterable of span mappings
NEREngine = Callable[[str], Iterable[Mapping[str, Any]]]


def noop_engine(text: str) -> list[dict]:
    """Default engine: no spans (reference NoOpNEREngine, ner.py:9-13)."""
    return []


_TITLECASE_RUN = re.compile(
    r"\b(?:[A-ZÀ-Ý][a-zà-ÿ]+)(?:\s+(?:d[aeo]s?|e)\s+[A-ZÀ-Ý][a-zà-ÿ]+|\s+[A-ZÀ-Ý][a-zà-ÿ]+)+\b"
)


def heuristic_person_engine(text: str) -> list[dict]:
    """Deterministic stand-in for a model NER: multi-token titlecase runs
    (connectors da/de/do/dos/e allowed) become PER spans with score 0.9.
    Used by tests and as the default demo factory; swap via
    EXTRACTION_NER_FACTORY for a real model."""
    return [
        {
            "label": "PER",
            "text": m.group(),
            "start": m.start(),
            "end": m.end(),
            "score": 0.9,
            "method": "heuristic_titlecase",
        }
        for m in _TITLECASE_RUN.finditer(text)
    ]


def load_engine(spec: str | None = None) -> NEREngine:
    """Resolve ``module:callable`` (env ``EXTRACTION_NER_FACTORY`` when
    ``spec`` is None) to an engine; missing spec → NoOp, mirroring the
    reference factory fallback (app.py:489-503)."""
    spec = spec if spec is not None else os.environ.get(NER_FACTORY_ENV, "")
    if not spec:
        return noop_engine
    module_name, _, attr = spec.partition(":")
    factory = getattr(importlib.import_module(module_name), attr)
    engine = factory() if not _is_engine(factory) else factory
    return engine


def _is_engine(obj: object) -> bool:
    # A factory returns an engine; an engine takes text directly. Mirror
    # the reference's duck-typing: callables named *_engine are engines.
    return callable(obj) and getattr(obj, "__name__", "").endswith("_engine")


def person_occurrences(
    articles: DataFrame,
    engine: NEREngine | None = None,
    text_col: str = "body",
) -> DataFrame:
    """Person branch of the extraction pipeline: NER spans → canonical
    name (M2) + containing sentence (M3) in one UDF pass, then the
    deterministic person id ``sha2(canonical_name)`` (J8) and confidence
    as a column expression. Output matches PERSON_OCCURRENCE minus the
    id, which is appended JVM-side."""
    eng = engine if engine is not None else load_engine()

    out_schema = _person_partial_schema()

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in out_schema.fieldNames()}
            for url, text in zip(pdf["url"], pdf[text_col]):
                text = text or ""
                for s in eng(text):
                    if s.get("label") != "PER":
                        continue
                    canonical, _aliases = normalize_person_name(s.get("text", ""))
                    if not canonical:
                        continue
                    rows["url"].append(url)
                    rows["canonical_name"].append(canonical)
                    rows["surface"].append(s.get("text"))
                    rows["start"].append(int(s.get("start", 0)))
                    rows["end"].append(int(s.get("end", 0)))
                    rows["sentence"].append(
                        find_sentence_containing(text, int(s.get("start", 0)))
                    )
                    rows["method"].append(s.get("method"))
                    rows["confidence"].append(float(s.get("score", 0.0)))
            yield pd.DataFrame(rows)

    partial = articles.select("url", text_col).mapInPandas(extract, out_schema)
    return partial.select(
        "url",
        F.sha2(F.col("canonical_name"), 256).alias("person_id"),
        "canonical_name",
        "surface",
        "start",
        "end",
        "sentence",
        "method",
        "confidence",
    )


def _person_partial_schema():
    from pyspark.sql.types import StructType

    return StructType([f for f in PERSON_OCCURRENCE.fields if f.name != "person_id"])


def person_dimension(occurrences: DataFrame) -> DataFrame:
    """Distinct person dimension from occurrences (the reference's person
    table upsert, extraction.py:171-207, as one aggregation — ids are
    content-derived so an upsert is a plain distinct)."""
    return (
        occurrences.groupBy("person_id", "canonical_name")
        .agg(F.count("*").alias("n_occurrences"), F.collect_set("surface").alias("surfaces"))
    )
