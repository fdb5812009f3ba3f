"""Scrape REPLAY: the reference's full listing→article collection
semantics (S1–S3) run engine-side over STORED page HTML.

Reference behavior being replayed (infrastructure/scraper.py:77-151):
``soup.select(listing_article)`` iterates listing items; per item the
title and URL are extracted (item skipped, not failed, when either is
missing — scraper.py:93-97), the URL resolved against ``base_url`` via
urljoin (scraper.py:471-473), the summary taken when configured but
optional (scraper.py:100-108); per article the content selector falls
back to ``""`` with a ``content_missing`` flag and the date selector
parses through the portal format then the tolerant cascade
(scraper.py:123-147).

The one deliberate divergence: where the reference stamps
``datetime.utcnow()`` when the date is missing (scraper.py:135), replay
yields NULL — a deterministic engine must never synthesize wall-clock
values, and NULL keeps failed parses queryable (``date_missing``).

Spark architecture: fetching stays at the driver boundary by design
(SURVEY §7.1.8) — the engine consumes tables of already-landed
``(page_url, html)`` rows, e.g. the K8 audit dumps or a crawl archive.
Each page parses ONCE inside Arrow ``mapInPandas`` and all per-item
selectors run against that tree; listing items are emitted as exploded
rows, so a page with 50 articles costs one parse + 50 cheap subtree
extractions. The downstream join to article HTML is a plain equi-join on
url, and the output is exactly the articles-ingest shape, so the full
chain replay → dedup anti-join → append (K1/J6) is declarative."""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any, Mapping
from urllib.parse import urljoin

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from sentinela_py_spark.functions.datetimes import try_datetime_cascade
from sentinela_py_spark.sources.htmlselect import (
    extract_value,
    parse_html,
    select_all,
)

__all__ = [
    "replay_listing_pages",
    "replay_article_pages",
    "scrape_replay",
    "strptime_to_spark",
]

_STRPTIME_TO_SPARK = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%M": "mm",
    "%S": "ss",
    "%%": "%",
}


def strptime_to_spark(fmt: str) -> str:
    """Portal configs carry strptime ``date_format`` strings
    (reference portal_service_client.py:106); Spark wants
    DateTimeFormatter patterns.

    Literal runs are emitted as ONE quoted block: per-character quoting
    would render ``at`` as ``'a''t'``, which DateTimeFormatter reads as
    ``a't`` (`''` inside a quoted section is an escaped quote)."""
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if not lit:
            return
        run = "".join(lit)
        # letters are pattern tokens; # { } [ ] are DateTimeFormatter
        # reserved/optional-section markers — all must ride inside quotes
        # or they change parse semantics (e.g. [..] makes a section
        # optional) or throw "reserved character" at runtime
        if any(c.isalpha() or c in "#{}[]'" for c in run):
            out.append("'" + run.replace("'", "''") + "'")
        else:
            out.append(run)
        lit.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%":
            if i + 1 >= len(fmt):
                raise ValueError(f"trailing '%' in strptime format {fmt!r}")
            tok = fmt[i : i + 2]
            if tok not in _STRPTIME_TO_SPARK:
                raise ValueError(f"unsupported strptime directive {tok!r} in {fmt!r}")
            if tok == "%%":  # literal percent joins the surrounding run
                lit.append("%")
            else:
                flush()
                out.append(_STRPTIME_TO_SPARK[tok])
            i += 2
        else:
            lit.append(fmt[i])
            i += 1
    flush()
    return "".join(out)


def replay_listing_pages(
    pages: DataFrame,
    portal: Mapping[str, Any],
    html_col: str = "html",
) -> DataFrame:
    """Explode stored listing pages into listing items.

    Input: key columns + ``html_col``. Output: passthrough keys +
    ``item_idx`` (1-based document order, the reference's enumerate) +
    ``title``/``url``/``summary``. Items missing title or url are
    SKIPPED (reference scraper.py:93-97); a missing summary is NULL
    (optional selector, scraper.py:100-108); urls resolve against
    ``base_url`` with real urljoin semantics."""
    import pandas as pd

    sel = portal["selectors"]
    base_url = portal["base_url"]
    listing_q = sel["listing_article"]["query"]
    title_q = (sel["listing_title"]["query"], sel["listing_title"].get("attribute"))
    url_q = (sel["listing_url"]["query"], sel["listing_url"].get("attribute"))
    summary_sel = sel.get("listing_summary")
    summary_q = (
        (summary_sel["query"], summary_sel.get("attribute")) if summary_sel else None
    )

    key_cols = [c for c in pages.columns if c != html_col]
    schema = StructType(
        [pages.schema[c] for c in key_cols]
        + [
            StructField("item_idx", IntegerType()),
            StructField("title", StringType()),
            StructField("url", StringType()),
            StructField("summary", StringType()),
        ]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in key_cols}
            out.update({"item_idx": [], "title": [], "url": [], "summary": []})
            for row_i in range(len(pdf)):
                html = pdf[html_col].iloc[row_i]
                if html is None:
                    continue
                root = parse_html(html)
                for idx, element in enumerate(select_all(root, listing_q), start=1):
                    try:
                        title = extract_value(element, *title_q)
                        raw_url = extract_value(element, *url_q)
                    except ValueError:
                        continue  # reference: warn and skip the item
                    summary = None
                    if summary_q is not None:
                        try:
                            summary = extract_value(element, *summary_q)
                        except ValueError:
                            summary = None
                    for c in key_cols:
                        out[c].append(pdf[c].iloc[row_i])
                    out["item_idx"].append(idx)
                    out["title"].append(title)
                    out["url"].append(urljoin(base_url, raw_url))
                    out["summary"].append(summary)
            yield pd.DataFrame(out)

    return pages.mapInPandas(run, schema)


def _portal_date(col: Column, portal: Mapping[str, Any]) -> Column:
    """Portal strptime format first, tolerant cascade second
    (reference scraper.py:556-718 `_parse_datetime`)."""
    fmt = strptime_to_spark(portal.get("date_format", "%Y-%m-%d"))
    return F.coalesce(
        F.try_to_timestamp(F.trim(col), F.lit(fmt)), try_datetime_cascade(col)
    )


def replay_article_pages(
    articles_html: DataFrame,
    portal: Mapping[str, Any],
    html_col: str = "html",
) -> DataFrame:
    """Extract content + published_at from stored article pages.

    Missing content → empty string + ``content_missing`` true
    (reference scraper.py:123-128); unparseable/missing date →
    NULL + ``date_missing`` true (see module docstring on the utcnow
    divergence). Selector extraction parses each page once
    (``extract_fields`` batch path); date parsing is pure column algebra
    — portal format first, then the cascade."""
    from sentinela_py_spark.sources.htmlselect import extract_fields

    sel = portal["selectors"]
    extracted = extract_fields(
        articles_html,
        html_col,
        {
            "content_raw": (
                sel["article_content"]["query"],
                sel["article_content"].get("attribute"),
            ),
            "published_at_raw": (
                sel["article_date"]["query"],
                sel["article_date"].get("attribute"),
            ),
        },
    )
    published = _portal_date(F.col("published_at_raw"), portal)
    return extracted.select(
        *[c for c in extracted.columns if c not in ("content_raw", "published_at_raw")],
        F.coalesce(F.col("content_raw"), F.lit("")).alias("content"),
        F.col("content_raw").isNull().alias("content_missing"),
        published.alias("published_at"),
        (F.col("published_at_raw").isNull() | published.isNull()).alias("date_missing"),
    )


def scrape_replay(
    listing_pages: DataFrame,
    article_pages: DataFrame,
    portal: Mapping[str, Any],
    listing_html_col: str = "html",
    article_html_col: str = "html",
) -> DataFrame:
    """Full collection replay: listing items joined to their article
    pages by resolved url, producing the articles-ingest shape
    (portal_name/title/url/content/published_at/summary + audit flags).
    Articles whose page was never stored keep listing fields with NULL
    content (left join) — the replay analog of a failed article GET,
    which the reference skips with a warning (scraper.py:119-122) but a
    lake wants visible."""
    items = replay_listing_pages(listing_pages, portal, listing_html_col)
    pages = article_pages.withColumnRenamed(article_html_col, "__article_html")
    fields = replay_article_pages(
        items.join(pages, "url", "left"), portal, "__article_html"
    )
    return fields.select(
        F.lit(portal["name"]).alias("portal_name"),
        "title",
        "url",
        "content",
        "published_at",
        "summary",
        "item_idx",
        "content_missing",
        "date_missing",
    )
