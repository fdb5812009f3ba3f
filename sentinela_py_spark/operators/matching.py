"""Spark adapter for the city-matching operator.

``match_articles`` attaches a ``matches`` array column to an article
DataFrame via an Arrow-batched pandas UDF that runs the broadcast
automaton per partition (reference dataflow: extractor.py feeding the
city-extraction/geo jobs). ``explode_matches`` flattens it to one row per
match for the downstream DataFrame algebra in cityagg.py.

Scale: the catalog ships as a real SparkContext.broadcast (once per
executor, not once per task closure); the automaton is rebuilt lazily
once per worker process; the scan is linear in text length per row,
embarrassingly parallel, no shuffle.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sentinela_py_spark.operators.citymatch import (
    KeywordAutomaton,
    build_city_automaton,
    extract_article_matches,
)

MATCH_STRUCT = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("city_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("uf", T.StringType()),
        T.StructField("surface", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("method", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("title_boost", T.DoubleType()),
        T.StructField("admin_marker", T.BooleanType()),
        T.StructField("context_uf", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
    ]
)

MATCHES_TYPE = T.ArrayType(MATCH_STRUCT)


def _match_udf(catalog_bcast):
    # The UDF closure captures only the Broadcast HANDLE — the catalog
    # payload ships once per executor via the torrent broadcast, not once
    # per task closure. The automaton itself is rebuilt lazily once per
    # worker process (cache survives across Arrow batches).
    cache: dict[str, KeywordAutomaton] = {}

    @F.pandas_udf(MATCHES_TYPE)
    def run(title: pd.Series, body: pd.Series, content: pd.Series) -> pd.Series:
        auto = cache.get("auto")
        if auto is None:
            auto = build_city_automaton(list(catalog_bcast.value))
            cache["auto"] = auto
        out = []
        for t, b, c in zip(title, body, content):
            article = {
                "title": None if t is None else t,
                "body": None if b is None else b,
                "content": None if c is None else c,
            }
            out.append(extract_article_matches(article, auto))
        return pd.Series(out)

    return run


def match_articles(
    articles: DataFrame,
    catalog: Iterable[Mapping[str, Any]],
    body_col: str | None = "body",
) -> DataFrame:
    """Add a ``matches`` column (array of match structs with signals)."""
    cols = dict(articles.dtypes)
    title = F.col("title") if "title" in cols else F.lit(None).cast("string")
    body = F.col(body_col) if body_col and body_col in cols else F.lit(None).cast("string")
    content = (
        F.col("content") if "content" in cols else F.lit(None).cast("string")
    )
    sc = articles.sparkSession.sparkContext
    udf = _match_udf(sc.broadcast(tuple(dict(e) for e in catalog)))
    return articles.withColumn("matches", udf(title, body, content))


def explode_matches(articles_with_matches: DataFrame) -> DataFrame:
    """One row per (article, match) — feeds the scoring aggregation."""
    return articles_with_matches.select(
        F.col("url"), F.explode("matches").alias("m")
    ).select("url", "m.*")
