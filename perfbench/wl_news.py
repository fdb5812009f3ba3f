"""``news_enrich``: the reference's own article pipeline, once per
arriving batch.

Per batch: the stored portal pages → ``sources.scrape_replay`` →
``operators.ingest`` against the growing article store →
``operators.extraction_job.extraction_batch`` on the accepted articles →
``operators.geojob.geo_enrichment`` → ``operators.report``. Each step
persists its output under the run's work directory, as the reference
persists to its store between steps. One operation is one batch.

The generator writes ``N_BATCHES`` batches. The first ``SEEDED`` of them
arrived before the pass: set-up stores their articles' keys as the
article store, so the arriving batch's relisted urls meet a store that
already holds them. One pass runs the remaining batches."""

from __future__ import annotations

import json
import os

import gen_news
from layers import NEWS_STEPS

N_BATCHES = 2
SEEDED = 1
PER_BATCH = 30
NOMINAL_PASS_S = 20.0


class News:
    name = "news_enrich"
    nominal_pass_s = NOMINAL_PASS_S

    def __init__(self, work):
        self.work = work
        self.inputs = work.path("inputs")

    def generate(self, seed: int) -> None:
        self.truth = gen_news.generate(seed, self.inputs, N_BATCHES, PER_BATCH)

    def setup(self, spark) -> None:
        """Offline builds: the catalog dimension (loaded, completeness
        gated, cached) and its matcher entries, the stored pages, and the
        article store holding the keys of the seeded batches' articles."""
        from pyspark.sql import functions as F

        from sentinela_py_spark.sources.catalog import load_city_catalog

        path = os.path.join(self.inputs, "catalog.json")
        self.catalog = load_city_catalog(spark, path, ensure_complete=True).cache()
        self.catalog.count()
        with open(path) as f:
            self.entries = [
                {k: e[k] for k in ("ibge_id", "name", "uf", "alt_names") if k in e}
                for e in json.load(f)
            ]
        with open(os.path.join(self.inputs, "portals.json")) as f:
            self.portals = json.load(f)
        frames = {}
        for name in ("listing", "articles"):
            frames[name] = spark.read.parquet(os.path.join(self.inputs, f"{name}.parquet")).cache()
            frames[name].count()
        self.pages = [
            {
                p["name"]: tuple(
                    frames[name]
                    .filter((F.col("batch") == b) & (F.col("portal") == p["name"]))
                    .drop("batch", "portal")
                    for name in ("listing", "articles")
                )
                for p in self.portals
            }
            for b in range(N_BATCHES)
        ]
        self.store = self.work.fresh("news-store")
        seeded = frames["articles"].filter(F.col("batch") < SEEDED)
        seeded.select(F.col("portal").alias("portal_name"), "url").write.parquet(self.store)
        self.seeded_urls = {r["url"] for r in seeded.select("url").collect()}

    def run_pass(self, spark, spans, p: int) -> dict:
        from functools import reduce

        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from sentinela_py_spark.operators.extraction_job import extraction_batch
        from sentinela_py_spark.operators.geojob import geo_enrichment
        from sentinela_py_spark.operators.ingest import ingest
        from sentinela_py_spark.operators.ner import heuristic_person_engine
        from sentinela_py_spark.operators.report import article_city_report
        from sentinela_py_spark.sources.scrape_replay import scrape_replay

        out_dir = self.work.fresh(f"news-{p}")
        ops: list[float] = []
        self.accepted_counts: list[int] = []
        self.geo_paths: list[str] = []
        self.accepted: list = []
        self.scraped_rows = 0
        for b in range(SEEDED, N_BATCHES):
            batch = self.pages[b]
            bdir = os.path.join(out_dir, f"batch_{b:02d}")
            with spans.span("batch") as s_b:
                with spans.span("sources.scrape_replay"):
                    scraped = reduce(
                        DataFrame.unionByName,
                        [scrape_replay(*batch[portal["name"]], portal) for portal in self.portals],
                    ).localCheckpoint(eager=True)
                    self.scraped_rows += scraped.count()
                with spans.span("operators.ingest"):
                    _, fresh = ingest(scraped, spark.read.parquet(self.store))
                    fresh = fresh.localCheckpoint(eager=True)
                    fresh.write.mode("append").parquet(self.store)
                    n_fresh = fresh.count()
                articles = fresh.withColumnRenamed("content", "body")
                with spans.span("operators.extraction_job"):
                    ex = extraction_batch(articles, self.entries, engine=heuristic_person_engine)
                    for key, df in ex.items():
                        df.write.parquet(os.path.join(bdir, key))
                with spans.span("operators.geojob"):
                    geo_path = os.path.join(bdir, "geo")
                    geo_enrichment(articles, self.catalog, self.entries).write.parquet(geo_path)
                with spans.span("operators.report"):
                    cities = spark.read.parquet(os.path.join(bdir, "cities")).groupBy("url").agg(
                        F.collect_list(
                            F.struct(
                                F.col("label"),
                                F.col("mention_key").alias("identifier"),
                                F.col("city_id"),
                                F.col("uf_hint").alias("uf"),
                                F.col("occurrences"),
                                F.col("sources"),
                            )
                        ).alias("cities")
                    )
                    report = article_city_report(
                        fresh.join(cities, "url", "left").withColumn("classification", F.lit(None).cast("string"))
                    )
                    report.write.option("header", True).csv(os.path.join(bdir, "report"))
            ops.append(s_b.dur)
            self.accepted_counts.append(n_fresh)
            self.geo_paths.append(geo_path)
            self.accepted.append(articles)
        return {"ops": ops, "rows": self._listed()}

    def _listed(self) -> int:
        return sum(b["listed"] for b in self.truth["batches"][SEEDED:])

    def check(self, spark) -> list[str]:
        """Untimed: per arriving batch the accepted count equals the
        planted new urls, and every new article's primary city is the
        planted one."""
        failures = []
        want = [b["new"] for b in self.truth["batches"][SEEDED:]]
        if self.accepted_counts != want:
            failures.append(f"accepted per batch {self.accepted_counts} != planted new urls {want}")
        got = {}
        for path in self.geo_paths:
            for r in spark.read.parquet(path).select("url", "primary_city.city_id").collect():
                got[r["url"]] = r["city_id"]
        truth = {u: c for u, c in self.truth["primary"].items() if u not in self.seeded_urls}
        wrong = [u for u, cid in truth.items() if got.get(u) != cid]
        if wrong:
            u = wrong[0]
            failures.append(f"{len(wrong)}/{len(truth)} primary cities wrong, e.g. {u}: {got.get(u)} != {truth[u]}")
        return failures

    def traced_extras(self, spark, spans) -> None:
        """``operators.matching.match_articles`` materialized alone over
        the articles of each arriving batch, so geojob CPU can be read as
        a multiple of one matcher pass."""
        from pyspark.sql import functions as F

        from sentinela_py_spark.operators.matching import match_articles

        with spans.span("operators.matching"):
            for articles in self.accepted:
                match_articles(articles, self.entries).select(F.sum(F.size("matches"))).collect()

    def layer_metrics(self, spans, counts) -> dict:
        from harness import metric

        listed = self._listed()
        match_cpu = spans.cpu_total("operators.matching")
        out = {
            "sources.scrape_replay.rows_out": metric(self.scraped_rows, "count"),
            "operators.ingest.accept_ratio": metric(sum(self.accepted_counts) / listed, "ratio"),
            "operators.matching.busy_s": metric(spans.total("operators.matching"), "s"),
            "operators.matching.cpu_s": metric(match_cpu, "s"),
            "operators.matching.exec_cpu_s": metric(
                counts.get("operators.matching", {}).get("exec_cpu_s", 0), "s"
            ),
            "operators.geojob.match_cpu_ratio": metric(
                spans.cpu_total("operators.geojob") / match_cpu if match_cpu else 0.0, "ratio"
            ),
        }
        for step in NEWS_STEPS:
            c = counts.get(step, {})
            out[f"{step}.busy_s"] = metric(spans.total(step), "s")
            out[f"{step}.cpu_s"] = metric(spans.cpu_total(step), "s")
            out[f"{step}.exec_cpu_s"] = metric(c.get("exec_cpu_s", 0), "s")
            out[f"{step}.jobs"] = metric(c.get("jobs", 0), "count")
            out[f"{step}.stages"] = metric(c.get("stages", 0), "count")
        return out
