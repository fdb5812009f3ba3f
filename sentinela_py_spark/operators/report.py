"""CSV article report (K5): one row per article × city mention.

Reproduces the reference CLI `report-articles` output
(sentinela/cli.py:459-542): fixed 12-column Portuguese header, cities
exploded, articles without cities optionally included with empty city
columns, published_at ISO-serialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REPORT_COLUMNS = (
    "portal",
    "titulo",
    "url",
    "conteudo",
    "publicado_em",
    "resumo",
    "classificacao",
    "cidade",
    "cidade_id",
    "uf",
    "ocorrencias",
    "fontes",
)


def article_city_report(articles: DataFrame, include_without_cities: bool = True) -> DataFrame:
    """Exploded report rows (reference cli.py:507-533). ``explode_outer``
    keeps city-less articles; the flag filters them like
    `--apenas-com-cidades`."""
    exploded = articles.withColumn("c", F.explode_outer("cities"))
    if not include_without_cities:
        exploded = exploded.filter(F.col("c").isNotNull())
    empty = F.lit("")
    return exploded.select(
        F.col("portal_name").alias("portal"),
        F.col("title").alias("titulo"),
        F.col("url"),
        F.col("content").alias("conteudo"),
        F.date_format("published_at", "yyyy-MM-dd'T'HH:mm:ss").alias("publicado_em"),
        F.coalesce(F.col("summary"), empty).alias("resumo"),
        F.coalesce(F.col("classification"), empty).alias("classificacao"),
        F.coalesce(F.col("c.label"), F.col("c.identifier"), empty).alias("cidade"),
        F.coalesce(F.col("c.city_id"), empty).alias("cidade_id"),
        F.coalesce(F.col("c.uf"), empty).alias("uf"),
        F.when(F.col("c").isNotNull(), F.col("c.occurrences").cast("string"))
        .otherwise(empty)
        .alias("ocorrencias"),
        F.when(F.col("c").isNotNull(), F.concat_ws(", ", F.col("c.sources")))
        .otherwise(empty)
        .alias("fontes"),
    )
