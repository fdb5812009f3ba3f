"""Ingestion and query operators over the articles table.

The reference's write path probes Mongo per row and relies on a unique
(portal_name, url) index (mongo_article_repository.py:27-42,
ingestion_router.py:32-43); its read path builds Mongo criteria documents
(mongo_article_repository.py:44-75). Here both become single declarative
plans: one anti-join replaces N existence probes, and the period/city
query is a filter Catalyst pushes into the parquet scan.

Scale: the anti-join shuffles on (portal_name, url) — at 100 TB, keep the
store partitioned by portal_name/date so the join prunes partitions; the
incoming batch side is tiny and broadcasts.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEDUP_KEYS = ("portal_name", "url")


def collapse_duplicate_ids(df: DataFrame, id_field: str, *content_keys: Column) -> DataFrame:
    """In-batch duplicate ids collapse to a DETERMINISTIC survivor: the
    row minimizing (``content_keys``, md5 of the remaining columns'
    JSON), NOT dropDuplicates' partition-order pick. A checkpoint replay
    of a batch carrying one id with two payloads must write the same
    accepted/rejected/store content as the first attempt or the
    epoch-overwrite replay guarantee is hollow. The id comes first; the
    other columns ride through untouched, in their original order."""
    others = [c for c in df.columns if c != id_field]
    surv_key = F.struct(
        *content_keys,
        F.md5(F.to_json(F.struct(*[F.col(c) for c in others]))),
    )
    return (
        df.groupBy(id_field)
        .agg(F.min_by(F.struct(*others), surv_key).alias("__r"))
        .select(id_field, *[F.col(f"__r.{c}").alias(c) for c in others])
    )


def dedup_incoming(incoming: DataFrame) -> DataFrame:
    """In-run dedup by URL (reference servico_coleta_noticias.py:143-154
    `seen_urls`). The reference keeps the first row it sees; a batch has
    no order that survives repartitioning, so the survivor is elected by
    content hash instead and a URL listed twice keeps the same row
    whatever the input order."""
    return collapse_duplicate_ids(incoming, "url").select(*incoming.columns)


def new_articles(incoming: DataFrame, existing: DataFrame) -> DataFrame:
    """Rows not already stored under (portal_name, url) — the J6 anti-join
    that replaces the reference's per-row `exists()` probe. The returned
    frame is also the 'accepted rows' feedback the HTTP sink reports
    (publications_api_sink.py:49-66)."""
    return dedup_incoming(incoming).join(
        existing.select(*DEDUP_KEYS).dropDuplicates(list(DEDUP_KEYS)),
        on=list(DEDUP_KEYS),
        how="left_anti",
    )


def ingest(incoming: DataFrame, existing: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Append-only ingestion (K1): returns (new_store, accepted_rows)."""
    fresh = new_articles(incoming, existing)
    return existing.unionByName(fresh, allowMissingColumns=True), fresh


def list_by_period(
    articles: DataFrame,
    portal_name: str,
    start: dt.date | dt.datetime,
    end: dt.date | dt.datetime,
    city: str | None = None,
) -> DataFrame:
    """Portal + period (+ optional city membership) query, ordered by
    published_at (reference mongo_article_repository.py:44-75 = S5/F1/F2/O1).

    Date inputs widen to day bounds exactly like the reference services
    (application/services.py:28-32): 00:00:00 .. 23:59:59.999999.
    """
    if isinstance(start, dt.date) and not isinstance(start, dt.datetime):
        start = dt.datetime.combine(start, dt.time.min)
    if isinstance(end, dt.date) and not isinstance(end, dt.datetime):
        end = dt.datetime.combine(end, dt.time.max)

    out = articles.filter(
        (F.col("portal_name") == portal_name)
        & F.col("published_at").between(F.lit(start), F.lit(end))
    )
    if city:
        # $or over legacy scalar / identifier / city_id (F2); the legacy
        # scalar form is folded into `identifier` at ingestion.
        out = out.filter(
            F.exists(
                F.col("cities"),
                lambda c: (c["identifier"] == city) | (c["city_id"] == city),
            )
        )
    return out.orderBy("published_at")


def upsert_by_key(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE-emulation for parquet-only storage (K3/K4/K6 sinks): rows in
    ``target`` whose key appears in ``updates`` are replaced, others kept.
    With Delta available this becomes a real MERGE INTO; the anti-join +
    union keeps identical semantics without the table format."""
    kept = target.join(updates.select(*keys).dropDuplicates(keys), on=keys, how="left_anti")
    return kept.unionByName(updates, allowMissingColumns=True)


def pending_by_version(
    articles: DataFrame, ner_version: str, gazetteer_version: str
) -> DataFrame:
    """Version-gated reprocessing predicate (S4/F3, reference
    infrastructure/extraction.py:58-75): not done, or produced by an older
    NER/gazetteer version. A missing version counts as another version,
    as Mongo's ``$ne`` matches a missing field."""
    c = F.col
    return articles.filter(
        c("ner_done").isNull()
        | (c("ner_done") == False)  # noqa: E712
        | ~c("ner_version").eqNullSafe(ner_version)
        | ~c("gazetteer_version").eqNullSafe(gazetteer_version)
    )
