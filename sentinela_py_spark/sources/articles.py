"""Article ingestion boundary: alias coalescing + timestamp parsing.

The reference coalesces legacy field aliases on every read
(title↔titulo, body↔corpo, published_at in three formats, fonte↔source —
sentinela/infrastructure/extraction.py:115-147; city mention aliases
city_id/ibge_id/id and label/name/nome — domain/entities/article.py:39-51).
The engine does it exactly once, here, as a projection producing the fixed
ARTICLE schema — downstream plans never see aliases (SURVEY.md §7.3.7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fallback formats tried in order by the reference repositories
# (infrastructure/extraction.py:134-147): ISO, ISO-with-space, date-only;
# default epoch 0 when nothing parses.
_TS_FORMATS = ("yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd")


def parse_published_at(col: Column) -> Column:
    """Multi-format timestamp parse with epoch-0 default (M7)."""
    attempts = [F.try_to_timestamp(col, F.lit(fmt)) for fmt in _TS_FORMATS]
    return F.coalesce(
        F.try_to_timestamp(col), *attempts, F.to_timestamp(F.lit("1970-01-01 00:00:00"))
    )


def _first_present(df: DataFrame, *names: str) -> Column:
    cols = [F.col(n) for n in names if n in df.columns]
    if not cols:
        return F.lit(None).cast("string")
    return F.coalesce(*cols) if len(cols) > 1 else cols[0]


def normalize_article_aliases(df: DataFrame) -> DataFrame:
    """Project any legacy-aliased article shape onto canonical columns.

    Accepts frames carrying any mix of (titulo|title), (corpo|body|content),
    (fonte|source), string or timestamp published_at. City-mention alias
    coalescing applies when a ``cities`` array of structs is present.
    """
    title = _first_present(df, "title", "titulo")
    content = _first_present(df, "content", "body", "corpo")
    source = _first_present(df, "source", "fonte")
    published = _first_present(df, "published_at", "publicado_em", "data_publicacao")
    published_ts = (
        F.col("published_at")
        if dict(df.dtypes).get("published_at") == "timestamp"
        else parse_published_at(published)
    )

    out = (
        df.withColumn("_title", title)
        .withColumn("_content", content)
        .withColumn("_source", source)
        .withColumn("_published_at", published_ts)
        .drop("title", "titulo", "content", "body", "corpo", "source", "fonte", "published_at")
        .withColumnRenamed("_title", "title")
        .withColumnRenamed("_content", "content")
        .withColumnRenamed("_source", "source")
        .withColumnRenamed("_published_at", "published_at")
    )
    if "cities" in out.columns:
        out = out.withColumn("cities", normalize_city_mentions(out))
    return out


def normalize_city_mentions(df: DataFrame) -> Column:
    """Coalesce city-mention aliases into the canonical CITY_MENTION shape
    (reference article.py:39-51: id read from city_id|ibge_id|id|identifier,
    label from label|name|nome). Field availability is taken from the
    frame's schema so legacy shapes project without analysis errors."""
    element = df.schema["cities"].dataType.elementType
    names = set(element.fieldNames()) if isinstance(element, T.StructType) else set()

    def pick(c: Column, *candidates: str) -> Column:
        cols = [c.getField(n) for n in candidates if n in names]
        if not cols:
            return F.lit(None).cast("string")
        return F.coalesce(*cols) if len(cols) > 1 else cols[0]

    def shape(c: Column) -> Column:
        occurrences = (
            pick(c, "occurrences").cast("int") if "occurrences" in names else F.lit(None).cast("int")
        )
        sources = (
            c.getField("sources").cast("array<string>")
            if "sources" in names
            else F.lit(None).cast("array<string>")
        )
        return F.struct(
            pick(c, "identifier", "city_id", "ibge_id", "id").alias("identifier"),
            pick(c, "city_id", "ibge_id", "id").alias("city_id"),
            pick(c, "label", "name", "nome").alias("label"),
            pick(c, "uf").alias("uf"),
            F.coalesce(occurrences, F.lit(1)).alias("occurrences"),
            F.coalesce(sources, F.array().cast("array<string>")).alias("sources"),
        )

    return F.transform(F.col("cities"), shape)
