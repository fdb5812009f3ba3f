"""Streaming pipeline: availableNow drain of a JSON-lines news source
through the extraction foreachBatch, in-flight URL dedup, checkpoint
restart, and the ingest decontamination screen."""

import datetime as dt
import json

from pyspark.sql import functions as F

from sentinela_py_spark.operators.geojob import geo_enrichment

CATALOG = [
    {"ibge_id": "2408102", "name": "Natal", "uf": "RN"},
    {"ibge_id": "3550308", "name": "São Paulo", "uf": "SP"},
]

def test_geo_enrichment_is_pure_batch_logic(spark):
    from tests.test_geojob import CATALOG_ROWS, CATALOG_SCHEMA

    catalog = spark.createDataFrame(CATALOG_ROWS, schema=CATALOG_SCHEMA)
    batch = spark.createDataFrame(
        [("https://n/9", "Natal cresce", "Obras em Natal (RN).", dt.datetime(2024, 5, 2), "p", 1)],
        "url string, title string, body string, published_at timestamp, source string, enqueue_seq long",
    )
    out = geo_enrichment(batch, catalog, CATALOG).collect()
    assert len(out) == 1 and out[0]["primary_city"]["city_id"] == "2408102"


def test_stateful_url_dedup_across_batches(spark, tmp_path):
    """A URL re-enqueued in a LATER micro-batch must be suppressed by the
    keyed state (the queue's in-flight set), not just by per-batch
    dropDuplicates."""
    from sentinela_py_spark.schemas import NEWS_DOCUMENT
    from sentinela_py_spark.streaming.pipeline import stateful_url_dedup

    src = tmp_path / "stateful-src"
    src.mkdir()
    b1 = [
        {"url": "https://n/1", "title": "t1", "body": "b", "published_at": "2024-05-02T10:00:00.000Z", "source": "p", "enqueue_seq": 2},
        {"url": "https://n/1", "title": "t1-dup-in-batch", "body": "b", "published_at": "2024-05-02T10:00:00.000Z", "source": "p", "enqueue_seq": 5},
        {"url": "https://n/2", "title": "t2", "body": "b", "published_at": "2024-05-02T10:00:00.000Z", "source": "p", "enqueue_seq": 3},
    ]
    b2 = [
        {"url": "https://n/1", "title": "t1-replay", "body": "b", "published_at": "2024-05-02T10:30:00.000Z", "source": "p", "enqueue_seq": 9},
        {"url": "https://n/3", "title": "t3", "body": "b", "published_at": "2024-05-02T10:30:00.000Z", "source": "p", "enqueue_seq": 10},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(d) for d in b1))
    (src / "b2.json").write_text("\n".join(json.dumps(d) for d in b2))

    stream = (
        spark.readStream.schema(NEWS_DOCUMENT)
        .option("maxFilesPerTrigger", 1)  # force two micro-batches
        .json(str(src))
    )
    seen: list[tuple] = []

    q = (
        stateful_url_dedup(stream)
        .writeStream.foreachBatch(
            lambda df, _eid: seen.extend((r["url"], r["title"]) for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt-state"))
        .trigger(availableNow=True)
        .start()
    )
    # The applyInPandasWithState stream lingers after draining instead of
    # self-terminating under availableNow (the old bare awaitTermination
    # sat out its FULL 180 s bound every run — measured, r15 suite-time
    # work). Poll until both batches' rows have arrived and no data is
    # pending, then stop explicitly; the timeout stays as the failure
    # bound.
    import time as _time

    deadline = _time.monotonic() + 180
    while q.isActive and _time.monotonic() < deadline:
        if len({u for u, _ in seen}) >= 3 and not q.status["isDataAvailable"]:
            break
        _time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)

    urls = sorted(u for u, _ in seen)
    assert urls == ["https://n/1", "https://n/2", "https://n/3"]
    # first-wins within the batch: min enqueue_seq row survives
    assert ("https://n/1", "t1") in seen
    assert all(t not in ("t1-dup-in-batch", "t1-replay") for _, t in seen)


def test_first_by_enqueue_seq_min_across_arrow_chunks():
    """A URL group spanning multiple Arrow chunks must yield the row with
    the GLOBAL min enqueue_seq — keeping only the first chunk's candidate
    (the old behavior) would emit a chunk-order-dependent representative.
    Unit-level: this is exactly the chunk iterator shape
    applyInPandasWithState hands to the state function."""
    import pandas as pd

    from sentinela_py_spark.streaming.pipeline import first_by_enqueue_seq

    def chunk(*seqs):
        return pd.DataFrame({"url": ["u"] * len(seqs), "title": [f"seq{s}" for s in seqs], "enqueue_seq": list(seqs)})

    # min sits in a LATER chunk
    first = first_by_enqueue_seq(iter([chunk(7), pd.DataFrame(columns=["url", "title", "enqueue_seq"]), chunk(5, 2)]))
    assert first["title"].iloc[0] == "seq2"
    # min in the first chunk stays
    first = first_by_enqueue_seq(iter([chunk(1, 9), chunk(4)]))
    assert first["title"].iloc[0] == "seq1"
    # no enqueue_seq column -> first row seen
    pdf = pd.DataFrame({"url": ["a", "b"], "title": ["t1", "t2"]})
    assert first_by_enqueue_seq(iter([pdf]))["title"].iloc[0] == "t1"
    # all-empty iterator -> None
    assert first_by_enqueue_seq(iter([pd.DataFrame(columns=["url"])])) is None


def test_extraction_stream_end_to_end(spark, tmp_path):
    """§3.3 worker as a stream: one availableNow drain produces city
    mentions, person occurrences, and version markers via foreachBatch;
    a URL enqueued twice in the batch is processed once (in-flight
    dedup), and a restart on the same checkpoint with no new file calls
    the sink zero times."""
    from sentinela_py_spark.operators.ner import heuristic_person_engine
    from sentinela_py_spark.streaming.pipeline import run_extraction_stream

    src = tmp_path / "extract-src"
    src.mkdir()
    doc = {
        "url": "https://n/x1",
        "title": "Prefeito de Cruzeta anuncia obras",
        "body": "Maria Silva confirmou a visita a Natal-RN.",
        "published_at": "2024-05-02T10:00:00.000Z",
        "source": "p",
        "enqueue_seq": 1,
    }
    # the same URL re-enqueued in the same batch must be dropped
    docs = [doc, {**doc, "enqueue_seq": 2}]
    (src / "b1.json").write_text("\n".join(json.dumps(d) for d in docs))

    outputs: dict[str, list] = {"cities": [], "people": [], "processed": []}
    calls: list[int] = []

    def sink(frames, epoch_id):
        calls.append(epoch_id)
        for k in outputs:
            outputs[k].extend(frames[k].collect())

    def drain():
        q = run_extraction_stream(
            spark,
            str(src),
            str(tmp_path / "ckpt-extract"),
            [
                {"ibge_id": "2408102", "name": "Natal", "uf": "RN"},
                {"ibge_id": "2403251", "name": "Cruzeta", "uf": "RN"},
            ],
            sink,
            engine=heuristic_person_engine,
            ner_version="n1",
            gazetteer_version="g1",
        )
        assert q.awaitTermination(180), "stream did not drain"

    drain()
    city_keys = {r["mention_key"] for r in outputs["cities"]}
    assert {"2403251", "2408102"} <= city_keys
    assert "Maria Silva" in {r["canonical_name"] for r in outputs["people"]}
    # the duplicate URL was dropped: one version marker, not two
    assert [r["url"] for r in outputs["processed"]] == ["https://n/x1"]
    marker = outputs["processed"][0]
    assert marker["ner_version"] == "n1" and marker["gazetteer_version"] == "g1"

    # restart on the same checkpoint, nothing new landed: no batch runs
    calls.clear()
    drain()
    assert calls == []


def test_decontamination_stream_flags_eval_overlap(spark, tmp_path):
    """Bloom decontamination at ingest, one screen call per arriving
    file (epochs 0, 1) against a filter built once from the eval split:
    batch 1 mixes exact eval-doc copies (must be flagged — the filter has
    no false negatives) with synthetic unique docs; batch 2 is entirely
    clean. Flag decisions must be a SUPERSET of the exact 5-gram join's
    per batch (FP-only excess)."""
    import os

    from sentinela_py_spark.functions.bloom import eval_gram_bloom
    from sentinela_py_spark.functions.text_stats import word_shingles
    from sentinela_py_spark.streaming.pipeline import decontamination_screen_batch
    from sentinela_py_spark.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "1a"
    eval_docs = d.filter(is_eval)
    eval_rows = [(r["doc_id"], r["text"]) for r in eval_docs.collect()]
    assert eval_rows  # the md5 split must select some eval docs

    contaminated = [(10_000 + i, text) for i, (_id, text) in enumerate(eval_rows)]
    clean = [
        (20_000 + i, f"zq{i}x unique synthetic filler row number {i} with no overlap tokens qz{i}")
        for i in range(30)
    ]
    state = str(tmp_path / "state")
    bloom_row = eval_gram_bloom(eval_docs)
    for epoch, rows in enumerate((contaminated + clean[:10], clean[10:])):
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        decontamination_screen_batch(batch, bloom_row, epoch, state)

    flagged = {
        r["doc_id"]: r["n_hits"]
        for r in spark.read.parquet(os.path.join(state, "flagged")).collect()
    }
    accepted = {r["doc_id"] for r in spark.read.parquet(os.path.join(state, "accepted")).collect()}
    # every contaminated doc flagged (no false negatives), none accepted
    cont_ids = {i for i, _ in contaminated}
    assert cont_ids <= set(flagged)
    assert not (cont_ids & accepted)
    # exact-join superset check: every doc the exact screen flags is
    # Bloom-flagged, with at least as many gram hits
    batch = spark.createDataFrame(contaminated + clean[:10], "doc_id long, text string")
    grams = lambda df: df.select(  # noqa: E731
        "doc_id", F.explode(F.array_distinct(word_shingles(F.col("text"), k=5))).alias("g")
    )
    exact = {
        r["doc_id"]: r["n"]
        for r in grams(batch)
        .join(grams(eval_docs).select(F.col("g")).distinct(), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(exact) <= set(flagged)
    assert all(flagged[i] >= n for i, n in exact.items())
    # clean batch 2: everything accepted unless a (deterministic) Bloom
    # FP fires; with m=2^16 over the tiny eval gram set that is rare —
    # allow at most 2 of 20
    b2_ids = {i for i, _ in clean[10:]}
    assert len(b2_ids & accepted) >= len(b2_ids) - 2


def test_decontamination_screen_duplicate_survivor_is_deterministic(spark, tmp_path):
    """A micro-batch carrying ONE doc_id with TWO texts must write the
    same accepted content however the batch is ordered or partitioned —
    the survivor is min-md5(text) per id, not dropDuplicates' partition-
    order pick, or a checkpoint replay could write different content
    than the first attempt (r5 ADVICE)."""
    import os

    from sentinela_py_spark.functions.bloom import bloom_build
    from sentinela_py_spark.streaming.pipeline import decontamination_screen_batch

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine",
    ]
    # pick the md5-min text explicitly so the assertion is self-contained
    import hashlib

    want = min(texts, key=lambda t: hashlib.md5(t.encode()).hexdigest())
    bloom_row = bloom_build(
        spark.createDataFrame([("nope-never-matches",)], "key string")
    )
    for tag, rows in (("fwd", [(7, texts[0]), (7, texts[1])]),
                      ("rev", [(7, texts[1]), (7, texts[0])])):
        state = str(tmp_path / f"state-{tag}")
        batch = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
        decontamination_screen_batch(batch, bloom_row, epoch_id=0, state_dir=state)
        got = spark.read.parquet(os.path.join(state, "accepted")).collect()
        assert [(r["doc_id"], r["text"]) for r in got] == [(7, want)], tag
