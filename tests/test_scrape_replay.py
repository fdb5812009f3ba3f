"""S1–S3 scrape replay over stored HTML: listing explode, item skip
semantics, urljoin resolution, article content/date extraction with the
reference's tolerance contract, and the full composed replay."""

from __future__ import annotations

import datetime as dt

import pytest

from sentinela_py_spark.sources.htmlselect import parse_html, select_all
from sentinela_py_spark.sources.scrape_replay import (
    replay_article_pages,
    replay_listing_pages,
    scrape_replay,
    strptime_to_spark,
)

PORTAL = {
    "name": "diario",
    "base_url": "https://diario.example/news/",
    "listing_path_template": "/news?page={page}",
    "selectors": {
        "listing_article": {"query": "article.card", "attribute": None},
        "listing_title": {"query": "h2 a", "attribute": None},
        "listing_url": {"query": "h2 a", "attribute": "href"},
        "article_content": {"query": "div.content", "attribute": None},
        "article_date": {"query": "time", "attribute": "datetime"},
        "listing_summary": {"query": "p.summary", "attribute": None},
    },
    "headers": {},
    "date_format": "%d/%m/%Y",
}

LISTING_HTML = """
<html><body>
  <article class="card">
    <h2><a href="/a1">First story</a></h2>
    <p class="summary">sum one</p>
  </article>
  <article class="card">
    <h2><a href="https://other.example/abs">Absolute link</a></h2>
  </article>
  <article class="card">
    <h2><span>no anchor: item must be skipped</span></h2>
  </article>
  <article class="other">not a card</article>
</body></html>
"""

A1_HTML = """
<html><body>
  <time datetime="03/02/2024">3 de fevereiro</time>
  <div class="content">Body <b>one</b></div>
</body></html>
"""

ABS_HTML = """
<html><body>
  <time datetime="2024-02-04T10:00:00Z">iso fallback</time>
</body></html>
"""


class TestSelectAll:
    def test_document_order_and_scope(self):
        root = parse_html(LISTING_HTML)
        cards = select_all(root, "article.card")
        assert len(cards) == 3
        assert select_all(cards[0], "a")[0].attrs["href"] == "/a1"

    def test_nested_matches(self):
        root = parse_html("<div class='x'><div class='x'><p>i</p></div></div>")
        assert len(select_all(root, "div.x")) == 2


class TestStrptime:
    def test_common_directives(self):
        assert strptime_to_spark("%Y-%m-%d") == "yyyy-MM-dd"
        assert strptime_to_spark("%d/%m/%Y %H:%M:%S") == "dd/MM/yyyy HH:mm:ss"

    def test_literal_letters_quoted_as_one_run(self):
        # one quoted block: 'a''t' would mean literal a't to
        # DateTimeFormatter ('' = escaped quote inside a quoted section)
        assert strptime_to_spark("%Y at %H") == "yyyy' at 'HH"

    def test_literal_run_parses(self, spark):
        import pyspark.sql.functions as F

        fmt = strptime_to_spark("%d/%m/%Y at %H:%M")
        got = spark.range(1).select(
            F.try_to_timestamp(F.lit("03/02/2024 at 10:30"), F.lit(fmt)).alias("ts")
        ).collect()[0]["ts"]
        assert got == dt.datetime(2024, 2, 3, 10, 30)

    def test_unknown_directive_raises(self):
        with pytest.raises(ValueError, match="%q"):
            strptime_to_spark("%q")

    def test_trailing_percent_raises(self):
        with pytest.raises(ValueError, match="trailing"):
            strptime_to_spark("%Y%")

    def test_reserved_punctuation_quoted(self, spark):
        import pyspark.sql.functions as F

        # [ ] are optional-section markers in DateTimeFormatter — unquoted
        # they'd silently make the bracketed text optional
        fmt = strptime_to_spark("%d.%m.%Y [%H:%M]")
        assert fmt == "dd.MM.yyyy' ['HH:mm']'"
        got = spark.range(1).select(
            F.try_to_timestamp(F.lit("03.02.2024 [10:30]"), F.lit(fmt)).alias("ok"),
            F.try_to_timestamp(F.lit("03.02.2024 10:30"), F.lit(fmt)).alias("nobrackets"),
        ).collect()[0]
        assert got["ok"] == dt.datetime(2024, 2, 3, 10, 30)
        assert got["nobrackets"] is None  # brackets are literal, required


class TestListingReplay:
    def test_explode_skip_and_urljoin(self, spark):
        pages = spark.createDataFrame(
            [("p1", LISTING_HTML), ("p2", None)], ["page_url", "html"]
        )
        items = replay_listing_pages(pages, PORTAL).orderBy("item_idx").collect()
        # 3 cards; the anchor-less one is skipped, NULL page yields nothing
        assert [r["item_idx"] for r in items] == [1, 2]
        assert items[0]["url"] == "https://diario.example/a1"  # root-relative join
        assert items[1]["url"] == "https://other.example/abs"  # absolute preserved
        assert items[0]["title"] == "First story"
        assert items[0]["summary"] == "sum one"
        assert items[1]["summary"] is None  # optional selector missing -> NULL

    def test_summary_selector_absent_from_config(self, spark):
        portal = {**PORTAL, "selectors": {**PORTAL["selectors"], "listing_summary": None}}
        pages = spark.createDataFrame([("p1", LISTING_HTML)], ["page_url", "html"])
        items = replay_listing_pages(pages, portal).collect()
        assert all(r["summary"] is None for r in items)


class TestArticleReplay:
    def test_portal_format_then_cascade(self, spark):
        df = spark.createDataFrame(
            [("u1", A1_HTML), ("u2", ABS_HTML)], ["url", "html"]
        )
        rows = {r["url"]: r for r in replay_article_pages(df, PORTAL).collect()}
        # dd/MM/yyyy via the portal format
        assert rows["u1"]["published_at"] == dt.datetime(2024, 2, 3)
        assert rows["u1"]["content"] == "Bodyone"  # get_text(strip=True): stripped segments concatenated (bs4 semantics)
        assert not rows["u1"]["content_missing"] and not rows["u1"]["date_missing"]
        # ISO-Z falls through to the cascade; content selector missing -> ""
        assert rows["u2"]["published_at"] == dt.datetime(2024, 2, 4, 10, 0)
        assert rows["u2"]["content"] == "" and rows["u2"]["content_missing"]

    def test_missing_date_is_null_not_wallclock(self, spark):
        df = spark.createDataFrame([("u", "<html><p>nope</p></html>")], ["url", "html"])
        row = replay_article_pages(df, PORTAL).collect()[0]
        assert row["published_at"] is None and row["date_missing"]


@pytest.fixture(scope="module")
def replayed(spark):
    listings = spark.createDataFrame([("p1", LISTING_HTML)], ["page_url", "html"])
    articles = spark.createDataFrame(
        [("https://diario.example/a1", A1_HTML)], ["url", "html"]
    )
    return scrape_replay(listings, articles, PORTAL)


class TestComposedReplay:
    def test_end_to_end_shape(self, replayed):
        out = replayed.orderBy("item_idx").collect()
        assert [r["portal_name"] for r in out] == ["diario", "diario"]
        got = {r["url"]: r for r in out}
        a1 = got["https://diario.example/a1"]
        assert (a1["title"], a1["content"]) == ("First story", "Bodyone")
        assert a1["published_at"] == dt.datetime(2024, 2, 3)
        # article page never stored -> left join keeps the listing row
        missing = got["https://other.example/abs"]
        assert missing["content"] == "" and missing["content_missing"]
        assert missing["published_at"] is None and missing["date_missing"]

    def test_pages_keep_their_partitioning(self, replayed):
        # one page parses in well under a millisecond; a round-robin
        # repartition of the page tables only adds Python tasks
        plan = replayed._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" not in plan
