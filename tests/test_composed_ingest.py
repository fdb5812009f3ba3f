"""The composed streaming-ingest flagship: ONE stream runs all three
ingest screens per micro-batch (decontamination → MinHash dedup →
embedding dedup), chained in a single foreachBatch — the streaming twin
of the batch `plans.curation._curated_pool` composition. Pins:

- end-to-end screen routing (each defect class caught by ITS screen,
  reasons queryable in that screen's own state);
- store hygiene (contaminated/duplicate content never enters the band
  store or vector index);
- stream ≡ batch parity (streaming the corpus in epochs with ascending
  ids keeps exactly the rows one composed batch over everything keeps);
- crash-replay determinism (re-running an epoch reproduces its first
  attempt bit for bit — every store read excludes the live epoch).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sentinela_py_spark.streaming.pipeline import (
    composed_ingest_batch,
    run_composed_ingest_stream,
)

DIM = 64
THRESHOLD = 0.9

EVAL_TEXT = "carbon dioxide capture requires novel sorbent materials at industrial scale"

UNIQ = [
    "spark shuffles partition data across the executor fleet tonight",
    "catalyst rewrites logical plans into efficient physical operators",
    "arrow batches stream pandas frames between jvm and python",
    "watermarks bound state growth for late arriving event data",
    "broadcast joins ship the small side to every executor core",
]


def _e(i: int) -> list[float]:
    v = [0.0] * DIM
    v[i] = 1.0
    return v


# (doc_id, text, embedding) — ids ascend in stream order, so the
# incremental min-id survivor matches the single-batch min-id survivor.
BATCH1 = [
    (1, UNIQ[0], _e(0)),   # accepted
    (2, EVAL_TEXT, _e(1)),  # decontam: verbatim eval content
    (3, UNIQ[0], _e(2)),   # minhash: exact text copy of 1 (within batch)
    (4, UNIQ[1], _e(0)),   # embedding: exact vector copy of 1 (within batch)
    (5, UNIQ[2], _e(3)),   # accepted
]
BATCH2 = [
    (10, UNIQ[0], _e(4)),  # minhash: text dup vs corpus doc 1
    (11, UNIQ[3], _e(0)),  # embedding: vector dup vs corpus doc 1
    (12, EVAL_TEXT, _e(5)),  # decontam again (filter is permanent)
    (13, UNIQ[4], _e(6)),  # accepted
]
ACCEPT_IDS = {1, 5, 13}


def _eval_docs(spark):
    return spark.createDataFrame([(9000, EVAL_TEXT)], "doc_id long, text string")


def _bloom_row(spark):
    from sentinela_py_spark.functions.bloom import bloom_build
    from sentinela_py_spark.functions.text_stats import word_shingles

    grams = _eval_docs(spark).select(
        F.explode(F.array_distinct(word_shingles(F.col("text"), k=5))).alias("key")
    )
    return bloom_build(grams).localCheckpoint(eager=True)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>"
    )


def _read_ids(spark, path) -> set[int]:
    return {r["doc_id"] for r in spark.read.parquet(path).select("doc_id").collect()}


def _write_json(path, rows) -> None:
    with open(path, "w") as f:
        for doc_id, text, emb in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text, "embedding": emb}) + "\n")


def _drain(spark, src, tmp_path, state) -> None:
    q = run_composed_ingest_stream(
        spark, str(src), str(tmp_path / "ckpt"), state,
        eval_docs=_eval_docs(spark),
        schema="doc_id long, text string, embedding array<double>",
        threshold=THRESHOLD,
    )
    assert q.awaitTermination(300), "stream did not drain"


def test_composed_stream_routes_each_defect_to_its_screen(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_json(src / "b1.json", BATCH1)
    _write_json(src / "b2.json", BATCH2)
    state = str(tmp_path / "state")
    _drain(spark, src, tmp_path, state)

    # composed accepted: survivors of ALL screens, with every input column
    accepted = spark.read.parquet(os.path.join(state, "accepted"))
    # every input column survives (plus the epoch partition directory)
    assert {"doc_id", "text", "embedding"} <= set(accepted.columns)
    assert _read_ids(spark, os.path.join(state, "accepted")) == ACCEPT_IDS

    # each defect class lands in ITS screen's state with the right reason
    flagged = _read_ids(spark, os.path.join(state, "decontam", "flagged"))
    assert flagged == {2, 12}
    mh = {
        r["doc_id"]: (r["matched_doc"], r["reason"])
        for r in spark.read.parquet(os.path.join(state, "minhash", "rejected"))
        .select("doc_id", "matched_doc", "reason").collect()
    }
    assert mh == {3: (1, "within_batch"), 10: (1, "vs_corpus")}
    em = {
        r["doc_id"]: (r["matched_vec"], r["reason"])
        for r in spark.read.parquet(os.path.join(state, "embedding", "rejected"))
        .select("doc_id", "matched_vec", "reason").collect()
    }
    assert em == {4: (1, "within_batch"), 11: (1, "vs_corpus")}

    # store hygiene: the band store and vector index hold ONLY composed
    # survivors — no contaminated or duplicate content ever entered them
    assert _read_ids(spark, os.path.join(state, "minhash", "bands")) <= ACCEPT_IDS | {4, 11}
    # (4/11 pass the text screen, so their bands are stored; vectors are not:)
    idx = {
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(state, "embedding", "index"))
        .select("vec_id").collect()
    }
    assert idx == ACCEPT_IDS


def test_composed_stream_equals_composed_batch(spark, tmp_path):
    """Stream ≡ batch parity: streaming the corpus in two epochs (ids
    ascending) accepts exactly the rows ONE composed batch over all rows
    accepts — incremental vs-corpus rejection and single-batch min-id
    survivor election agree when arrival order matches id order.

    The stream is restarted between its two files: the first drain sees
    only BATCH1, then BATCH2 lands and a second drain on the SAME
    checkpoint processes only the new file, as epoch 1, against the
    corpus state the first drain persisted."""
    state = str(tmp_path / "batch-state")
    out = composed_ingest_batch(
        _df(spark, BATCH1 + BATCH2), _bloom_row(spark), 0, state, threshold=THRESHOLD
    )
    assert {r["doc_id"] for r in out.select("doc_id").collect()} == ACCEPT_IDS

    src = tmp_path / "src"
    src.mkdir()
    state2 = str(tmp_path / "stream-state")
    _write_json(src / "b1.json", BATCH1)
    _drain(spark, src, tmp_path, state2)
    assert _read_ids(spark, os.path.join(state2, "accepted")) == {1, 5}
    _write_json(src / "b2.json", BATCH2)
    _drain(spark, src, tmp_path, state2)
    acc = spark.read.parquet(os.path.join(state2, "accepted"))
    # BATCH1 was not re-read: its survivors stay epoch 0, BATCH2's are epoch 1
    assert {(r["doc_id"], r["epoch"]) for r in acc.collect()} == {(1, 0), (5, 0), (13, 1)}
    mh = {
        r["doc_id"]: r["reason"]
        for r in spark.read.parquet(os.path.join(state2, "minhash", "rejected")).collect()
    }
    assert mh == {3: "within_batch", 10: "vs_corpus"}


def test_composed_replay_reproduces_first_attempt(spark, tmp_path):
    """Crash-replay: epoch 1's writes landed but its offset never
    committed; the re-run must reproduce the first attempt exactly (no
    self-matching against its own epoch's store writes, same survivor
    rows bit for bit)."""
    state = str(tmp_path / "state")
    bloom = _bloom_row(spark)
    composed_ingest_batch(_df(spark, BATCH1), bloom, 0, state, threshold=THRESHOLD)

    def snapshot():
        rows = spark.read.parquet(os.path.join(state, "accepted")).collect()
        return sorted((r["doc_id"], r["text"], tuple(r["embedding"])) for r in rows)

    composed_ingest_batch(_df(spark, BATCH2), bloom, 1, state, threshold=THRESHOLD)
    first = snapshot()
    composed_ingest_batch(_df(spark, BATCH2), bloom, 1, state, threshold=THRESHOLD)
    assert snapshot() == first
    assert {d for d, _, _ in first} == ACCEPT_IDS


def test_failed_deferred_write_fails_the_batch(spark, tmp_path, monkeypatch):
    """A screen's store write that fails on the shared write pool must
    fail the whole batch, so foreachBatch never commits offsets over a
    missing write."""
    from sentinela_py_spark.streaming import pipeline

    real_write = pipeline.write_epoch_partition
    minhash_accepted = os.path.join("minhash", "accepted")

    def failing_write(df, path, epoch_id):
        if path.endswith(minhash_accepted):
            raise OSError("minhash store unavailable")
        return real_write(df, path, epoch_id)

    monkeypatch.setattr(pipeline, "write_epoch_partition", failing_write)
    with pytest.raises(OSError, match="minhash store unavailable"):
        composed_ingest_batch(
            _df(spark, BATCH1), _bloom_row(spark), 0, str(tmp_path / "state"),
            threshold=THRESHOLD,
        )


def test_composed_index_tail_serves_only_survivors(spark, tmp_path):
    """The optional fourth stage: arming the ANN index-maintenance tail
    makes every micro-batch's SURVIVORS searchable (frozen-codebook
    encode into the cell-partitioned tree) while rejected/contaminated
    content never enters the index — and a replayed epoch overwrites
    instead of duplicating."""
    from sentinela_py_spark.functions.vectors import (
        ivf_pq_adc_topk,
        read_ann_index_tree,
    )

    state = str(tmp_path / "state")
    index = str(tmp_path / "index")
    bloom = _bloom_row(spark)
    # frozen demo codebook over the test's one-hot embedding space
    cents = [(i, _e(i)) for i in range(8)]
    d = DIM // 8
    books = [[_e(j)[mi * d : (mi + 1) * d] for j in range(16)] for mi in range(8)]

    for epoch, rows in ((0, BATCH1), (1, BATCH2)):
        composed_ingest_batch(
            _df(spark, rows), bloom, epoch, state, threshold=THRESHOLD,
            index_dir=index, centroids=cents, books=books,
        )
    tree = read_ann_index_tree(spark, index)
    assert {r["doc_id"] for r in tree.select("doc_id").collect()} == ACCEPT_IDS

    # replay epoch 1: the tree is unchanged (epoch-keyed overwrite)
    composed_ingest_batch(
        _df(spark, BATCH2), bloom, 1, state, threshold=THRESHOLD,
        index_dir=index, centroids=cents, books=books,
    )
    assert {r["doc_id"] for r in read_ann_index_tree(spark, index).select("doc_id").collect()} == ACCEPT_IDS

    # the tree is SEARCHABLE: a survivor's own vector finds it top-1
    probe = _df(spark, [(999, "probe", _e(0))])
    hits = ivf_pq_adc_topk(
        read_ann_index_tree(spark, index),
        read_ann_index_tree(spark, index),
        probe,
        cents,
        books,
        k=1,
        coarse_k=5,
        id_col="doc_id",
        vec_col="embedding",
    ).collect()
    assert hits and hits[0]["doc_id"] == 1  # doc 1 carries _e(0)


# --- the optional quality screen (frozen offline model) -----------------

def _ref_corpus(spark):
    """Reference corpus the frozen quality model trains on: 12 diverse
    docs (25 tokens, entropy > the weak-label floor) + 2 repetitive ones
    — the same separable shape as tests/test_curation_model_gate.py."""
    def diverse(i):
        return "the " + " ".join(f"ref{i}w{j}" for j in range(22)) + " of and"

    rows = [(i, diverse(i)) for i in range(12)] + [
        (50, " ".join(["the", "widget"] * 20)),
        (51, " ".join(["the", "gizmo"] * 20)),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _q_rows():
    def diverse(tag):
        return "the " + " ".join(f"{tag}x{j}" for j in range(22)) + " of and"

    return [
        (21, diverse("alpha"), _e(7)),                    # accepted
        (22, " ".join(["the", "sprocket"] * 20), _e(8)),  # quality: rule-keep, model-reject
        (23, diverse("beta"), _e(9)),                     # accepted
    ]


def test_quality_screen_rejects_junk_and_keeps_it_out_of_stores(spark, tmp_path):
    """The frozen-model screen evicts a repetitive doc the RULES keep
    (quality 1.0, svm_score <= 0), records its scores in the screen's
    state, and the junk never reaches the band store or vector index."""
    from sentinela_py_spark.plans.textops import qr_frozen_model

    model = qr_frozen_model(_ref_corpus(spark))
    state = str(tmp_path / "state")
    out = composed_ingest_batch(
        _df(spark, _q_rows()), _bloom_row(spark), 0, state,
        threshold=THRESHOLD, quality_model=model,
    )
    assert {r["doc_id"] for r in out.select("doc_id").collect()} == {21, 23}
    rej = spark.read.parquet(os.path.join(state, "quality", "rejected")).collect()
    assert {r["doc_id"] for r in rej} == {22}
    assert rej[0]["quality"] >= 0.5  # the rules alone would have kept it
    assert rej[0]["svm_score"] <= 0  # the model evicted it
    # the datacard attributes the drop to the quality stage (r10)
    from sentinela_py_spark.streaming.pipeline import ingest_funnel

    fn = {(r["epoch"], r["stage"]): r["n_docs"] for r in ingest_funnel(spark, state).collect()}
    assert fn[(0, "decontaminated")] == 3 and fn[(0, "quality_gated")] == 2
    # store hygiene: junk entered neither dedup store
    assert _read_ids(spark, os.path.join(state, "minhash", "bands")) == {21, 23}
    idx = {
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(state, "embedding", "index")).collect()
    }
    assert idx == {21, 23}


def test_quality_screen_replay_reproduces_first_attempt(spark, tmp_path):
    """Epoch-keyed overwrite: re-running the same epoch (checkpoint
    replay) leaves bit-identical screen state and survivors."""
    from sentinela_py_spark.plans.textops import qr_frozen_model

    model = qr_frozen_model(_ref_corpus(spark))
    state = str(tmp_path / "state")

    def run():
        out = composed_ingest_batch(
            _df(spark, _q_rows()), _bloom_row(spark), 0, state,
            threshold=THRESHOLD, quality_model=model,
        )
        return sorted(r["doc_id"] for r in out.select("doc_id").collect())

    first = run()
    rej1 = sorted(
        tuple(r) for r in spark.read.parquet(
            os.path.join(state, "quality", "rejected")).collect()
    )
    assert run() == first
    rej2 = sorted(
        tuple(r) for r in spark.read.parquet(
            os.path.join(state, "quality", "rejected")).collect()
    )
    assert rej1 == rej2


def test_quality_screen_stream_wiring(spark, tmp_path):
    """run_composed_ingest_stream with quality_model armed drains and
    routes the junk doc to quality/rejected."""
    from sentinela_py_spark.plans.textops import qr_frozen_model

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for doc_id, text, emb in _q_rows():
            f.write(json.dumps({"doc_id": doc_id, "text": text, "embedding": emb}) + "\n")
    state = str(tmp_path / "state")
    q = run_composed_ingest_stream(
        spark, str(src), str(tmp_path / "ckpt"), state,
        eval_docs=_eval_docs(spark),
        schema="doc_id long, text string, embedding array<double>",
        threshold=THRESHOLD,
        quality_model=qr_frozen_model(_ref_corpus(spark)),
    )
    assert q.awaitTermination(300), "stream did not drain"
    assert _read_ids(spark, os.path.join(state, "accepted")) == {21, 23}
    assert _read_ids(spark, os.path.join(state, "quality", "rejected")) == {22}


def test_quality_screen_survives_all_rejected_batch(spark, tmp_path):
    """A batch the quality screen fully rejects flows through as EMPTY —
    the downstream dedup screens and the composed accepted write must
    handle a zero-row survivor frame without error, and the stores stay
    empty."""
    from sentinela_py_spark.plans.textops import qr_frozen_model

    model = qr_frozen_model(_ref_corpus(spark))
    junk = [
        (31, " ".join(["the", "cog"] * 20), _e(10)),
        (32, " ".join(["the", "flange"] * 20), _e(11)),
    ]
    state = str(tmp_path / "state")
    out = composed_ingest_batch(
        _df(spark, junk), _bloom_row(spark), 0, state,
        threshold=THRESHOLD, quality_model=model,
    )
    assert out.count() == 0
    assert _read_ids(spark, os.path.join(state, "quality", "rejected")) == {31, 32}
    assert _read_ids(spark, os.path.join(state, "accepted")) == set()


REPEAT_PASSAGE = (
    "the quick brown fox vaulted the mossy gate while seven anxious "
    "badgers watched from below"
)  # 15 words


def test_trim_stage_cuts_repeats_and_stores_see_trimmed_text(spark, tmp_path):
    """The stage-0 repetition trim is a NORMALIZER: the accepted store
    holds the trimmed text, and — because the trim runs before any
    signature — the band store indexes the trimmed text too: a later doc
    equal to the TRIMMED text is rejected as a corpus duplicate."""
    trim = {"k": 3, "min_span_words": 15}
    prefix = "alpha bravo charlie delta echo"
    mid = "november oscar papa quebec romeo sierra"
    repeated = f"{prefix} {REPEAT_PASSAGE} {mid} {REPEAT_PASSAGE}"
    trimmed = f"{prefix} {REPEAT_PASSAGE} {mid}"

    state = str(tmp_path / "state")
    bloom = _bloom_row(spark)
    out0 = composed_ingest_batch(
        _df(spark, [(20, repeated, _e(7))]), bloom, 0, state,
        threshold=THRESHOLD, trim_repeats=trim,
    )
    rows = {r["doc_id"]: r["text"] for r in out0.select("doc_id", "text").collect()}
    assert rows == {20: trimmed}

    composed_ingest_batch(
        _df(spark, [(21, trimmed, _e(8))]), bloom, 1, state,
        threshold=THRESHOLD, trim_repeats=trim,
    )
    mh = {
        r["doc_id"]: (r["matched_doc"], r["reason"])
        for r in spark.read.parquet(os.path.join(state, "minhash", "rejected"))
        .select("doc_id", "matched_doc", "reason").collect()
    }
    assert mh == {21: (20, "vs_corpus")}


def test_trim_stage_replay_is_idempotent(spark, tmp_path):
    trim = {"k": 3, "min_span_words": 15}
    repeated = f"{REPEAT_PASSAGE} {REPEAT_PASSAGE}"
    state = str(tmp_path / "state")
    bloom = _bloom_row(spark)

    def attempt():
        composed_ingest_batch(
            _df(spark, [(30, repeated, _e(9))]), bloom, 0, state,
            threshold=THRESHOLD, trim_repeats=trim,
        )
        return sorted(
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(os.path.join(state, "accepted")).collect()
        )

    first = attempt()
    assert first == [(30, REPEAT_PASSAGE)]
    assert attempt() == first  # replayed epoch reproduces the first attempt


def test_trim_stage_wired_through_the_stream_runner(spark, tmp_path):
    """trim_repeats threads from run_composed_ingest_stream into every
    micro-batch: a doc arriving with a repeated passage lands in the
    accepted store already trimmed."""
    src = tmp_path / "src"
    src.mkdir()
    repeated = f"{REPEAT_PASSAGE} {REPEAT_PASSAGE}"
    with open(src / "b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 40, "text": repeated, "embedding": _e(10)}) + "\n")

    state = str(tmp_path / "state")
    q = run_composed_ingest_stream(
        spark, str(src), str(tmp_path / "ckpt"), state,
        eval_docs=_eval_docs(spark),
        schema="doc_id long, text string, embedding array<double>",
        threshold=THRESHOLD,
        trim_repeats={"k": 3, "min_span_words": 15},
    )
    assert q.awaitTermination(300), "stream did not drain"
    rows = spark.read.parquet(os.path.join(state, "accepted")).collect()
    assert [(r["doc_id"], r["text"]) for r in rows] == [(40, REPEAT_PASSAGE)]


def test_ingest_funnel_reports_per_epoch_retention(spark, tmp_path):
    """The streaming datacard (r10): `ingest_funnel` derives per-epoch
    retention counts purely from the screens' persisted state — where
    each batch's documents went, attributed to the screen that took
    them. The fixture's story: epoch 0 arrives 5, loses doc 2 to
    decontamination, doc 3 to text dedup, doc 4 to embedding dedup →
    accepts {1, 5}; epoch 1 arrives 4, loses 12 / 10 / 11 → accepts
    {13}."""
    from sentinela_py_spark.streaming.pipeline import ingest_funnel

    src = tmp_path / "src"
    src.mkdir()
    for name, rows in (("b1.json", BATCH1), ("b2.json", BATCH2)):
        with open(src / name, "w") as f:
            for doc_id, text, emb in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text, "embedding": emb}) + "\n")
    state = str(tmp_path / "state")
    q = run_composed_ingest_stream(
        spark, str(src), str(tmp_path / "ckpt"), state,
        eval_docs=_eval_docs(spark),
        schema="doc_id long, text string, embedding array<double>",
        threshold=THRESHOLD,
    )
    assert q.awaitTermination(300), "stream did not drain"

    rows = ingest_funnel(spark, state).collect()
    got = {(r["epoch"], r["stage"]): r["n_docs"] for r in rows}
    assert got == {
        (0, "arrived"): 5,
        (0, "image_dedup"): 5,    # screen unarmed → previous stage's count
        (0, "audio_dedup"): 5,    # screen unarmed → previous stage's count
        (0, "clip_gated"): 5,     # screen unarmed → previous stage's count
        (0, "decontaminated"): 4,
        (0, "fuzzy_gated"): 4,    # screen unarmed → previous stage's count
        (0, "quality_gated"): 4,  # screen unarmed → previous stage's count
        (0, "text_dedup"): 3,
        (0, "accepted"): 2,
        (1, "arrived"): 4,
        (1, "image_dedup"): 4,
        (1, "audio_dedup"): 4,
        (1, "clip_gated"): 4,
        (1, "decontaminated"): 3,
        (1, "fuzzy_gated"): 3,
        (1, "quality_gated"): 3,
        (1, "text_dedup"): 2,
        (1, "accepted"): 1,
    }
    # the funnel is monotone within every epoch (counts never grow
    # downstream) — the invariant an alerting rule watches
    for ep in (0, 1):
        seq = [r["n_docs"] for r in sorted(
            (r for r in rows if r["epoch"] == ep), key=lambda r: r["stage_idx"]
        )]
        assert seq == sorted(seq, reverse=True)


class TestFuzzyScreenAtIngest:
    """Fuzzy eval-copy screen (r10): the streaming twin of
    q_decontamination's fuzzy arm — MinHash bands vs the frozen eval
    band index, whole-doc-Jaccard-verified. Its ingest value is
    DOCUMENT-level, verified quarantine: under an FP-disciplined exact
    screen (min_hits raised so a stray shared gram doesn't quarantine a
    clean doc), a lightly-edited eval copy shares too few exact 5-grams
    to trip the Bloom screen while its whole-doc 3-gram Jaccard stays
    over the verify bar — exactly the gap this screen closes. Fixture
    math: a 40-word eval doc with ONE word edited shares 31 of 36 exact
    5-grams (< MIN_HITS = 32 → Bloom passes it) and 35 of 38 3-grams
    (Jaccard 35/41 ≈ 0.854 ≥ 0.8 → fuzzy quarantines it); a verbatim
    copy shares all 36 (≥ 32 → the EXACT screen takes it first)."""

    LONG_EVAL = " ".join(f"tok{i:02d}" for i in range(40))
    EDITED = " ".join(
        "edited" if i == 20 else f"tok{i:02d}" for i in range(40)
    )
    MIN_HITS = 32
    QUOTING = (
        "our survey cites tok00 tok01 tok02 briefly while reviewing "
        "unrelated electrochemical storage techniques in depth across "
        "many industrial deployments of varied maturity levels"
    )

    def _eval2(self, spark):
        return spark.createDataFrame(
            [(9000, EVAL_TEXT), (9001, self.LONG_EVAL)],
            "doc_id long, text string",
        )

    def _bloom2(self, spark):
        from sentinela_py_spark.functions.bloom import bloom_build
        from sentinela_py_spark.functions.text_stats import word_shingles

        grams = self._eval2(spark).select(
            F.explode(
                F.array_distinct(word_shingles(F.col("text"), k=5))
            ).alias("key")
        )
        return bloom_build(grams).localCheckpoint(eager=True)

    def _rows(self):
        return [
            (30, self.LONG_EVAL, _e(0)),  # verbatim -> EXACT screen's catch
            (31, self.EDITED, _e(1)),     # edited   -> fuzzy's catch
            (32, self.QUOTING, _e(2)),    # quoting  -> passes both
            (33, UNIQ[0], _e(3)),         # clean    -> passes
        ]

    def _run(self, spark, tmp_path, **kw):
        from sentinela_py_spark.streaming.pipeline import (
            composed_ingest_batch,
            fuzzy_eval_artifacts,
        )

        state = str(tmp_path / "state")
        out = composed_ingest_batch(
            _df(spark, self._rows()), self._bloom2(spark), 0, state,
            threshold=THRESHOLD, min_hits=self.MIN_HITS,
            fuzzy_eval=fuzzy_eval_artifacts(self._eval2(spark)), **kw,
        )
        return state, out

    def test_edited_copy_quarantined_quoting_doc_passes(self, spark, tmp_path):
        state, out = self._run(spark, tmp_path)
        got = {r["doc_id"] for r in out.select("doc_id").collect()}
        assert got == {32, 33}
        # the verbatim copy was the EXACT screen's catch...
        assert _read_ids(spark, os.path.join(state, "decontam", "flagged")) == {30}
        # ...and the edited copy the FUZZY screen's, with its evidence
        fl = spark.read.parquet(os.path.join(state, "fuzzy", "flagged")).collect()
        assert {r["doc_id"] for r in fl} == {31}
        assert fl[0]["max_jaccard"] >= 0.8 and fl[0]["n_eval_docs"] == 1
        # store hygiene: neither copy reached the dedup stores
        bands = _read_ids(spark, os.path.join(state, "minhash", "bands"))
        assert bands & {30, 31} == set()
        idx = {
            r["vec_id"]
            for r in spark.read.parquet(
                os.path.join(state, "embedding", "index")
            ).collect()
        }
        assert idx == {32, 33}

    def test_funnel_attributes_the_fuzzy_drop(self, spark, tmp_path):
        from sentinela_py_spark.streaming.pipeline import ingest_funnel

        state, _out = self._run(spark, tmp_path)
        fn = {
            (r["epoch"], r["stage"]): r["n_docs"]
            for r in ingest_funnel(spark, state).collect()
        }
        assert fn[(0, "arrived")] == 4
        assert fn[(0, "decontaminated")] == 3   # verbatim copy
        assert fn[(0, "fuzzy_gated")] == 2      # edited copy
        assert fn[(0, "accepted")] == 2

    # slow (66 s): fuzzy-screen replay e2e; the composed replay test
    # (default) covers the replay contract per epoch store.
    @pytest.mark.slow
    def test_replay_reproduces_first_attempt(self, spark, tmp_path):
        state, out = self._run(spark, tmp_path)
        first = sorted(r["doc_id"] for r in out.select("doc_id").collect())
        fl1 = sorted(
            tuple(r) for r in spark.read.parquet(
                os.path.join(state, "fuzzy", "flagged")
            ).collect()
        )
        _state2, out2 = self._run(spark, tmp_path)  # same dirs: replay
        assert sorted(r["doc_id"] for r in out2.select("doc_id").collect()) == first
        fl2 = sorted(
            tuple(r) for r in spark.read.parquet(
                os.path.join(state, "fuzzy", "flagged")
            ).collect()
        )
        assert fl1 == fl2

    # slow (48 s): real-stream wiring for the fuzzy screen; the batch
    # fuzzy tests keep default coverage.
    @pytest.mark.slow
    def test_stream_wiring_arms_the_screen(self, spark, tmp_path):
        from sentinela_py_spark.streaming.pipeline import run_composed_ingest_stream

        src = tmp_path / "src"
        src.mkdir()
        with open(src / "b1.json", "w") as f:
            for doc_id, text, emb in self._rows():
                f.write(
                    json.dumps(
                        {"doc_id": doc_id, "text": text, "embedding": emb}
                    ) + "\n"
                )
        state = str(tmp_path / "state")
        q = run_composed_ingest_stream(
            spark, str(src), str(tmp_path / "ckpt"), state,
            eval_docs=self._eval2(spark),
            schema="doc_id long, text string, embedding array<double>",
            threshold=THRESHOLD, min_hits=self.MIN_HITS, fuzzy=True,
        )
        assert q.awaitTermination(300), "stream did not drain"
        assert _read_ids(spark, os.path.join(state, "accepted")) == {32, 33}
        assert _read_ids(spark, os.path.join(state, "fuzzy", "flagged")) == {31}

    def test_verify_stage_is_candidate_only(self, spark):
        """r11 (verdict #3): the Jaccard-verify stage — shingle explode,
        distinct, per-doc n_t window — must run over COLLISION CANDIDATES
        only, not the whole batch. Pinned structurally: in the verify
        plan, the n_t Window's input subtree carries a LeftSemi join
        against the candidate frame (ancestors print first, so the
        Window node must appear ABOVE the semi-join in the tree), and
        the batch scan that feeds the shingle explode sits under that
        semi-join. A clean batch (empty cand) then prices the verify at
        ~zero — no full-batch shuffle survives."""
        from sentinela_py_spark.streaming.pipeline import (
            _fuzzy_verified,
            fuzzy_eval_artifacts,
        )

        b = _df(spark, self._rows()).select(
            "doc_id", "text"
        )
        artifacts = fuzzy_eval_artifacts(self._eval2(spark))
        cand = spark.createDataFrame([(31, 9001)], "doc_id long, e_doc long")
        plan = (
            _fuzzy_verified(b, cand, artifacts, 0.8)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "LeftSemi" in plan
        assert plan.index("Window") < plan.index("LeftSemi")

    def test_clean_batch_screen_flags_nothing(self, spark, tmp_path):
        """A batch with zero band collisions writes an EMPTY flagged
        epoch and passes every doc — the common case the candidate-only
        verify makes cheap."""
        from sentinela_py_spark.streaming.pipeline import (
            fuzzy_decon_screen_batch,
            fuzzy_eval_artifacts,
        )

        rows = [(40 + i, UNIQ[i], None) for i in range(4)]
        b = spark.createDataFrame(
            [(d, t) for d, t, _ in rows], "doc_id long, text string"
        )
        state = str(tmp_path / "state")
        out = fuzzy_decon_screen_batch(
            b, fuzzy_eval_artifacts(self._eval2(spark)), 0, state
        )
        assert {r["doc_id"] for r in out.collect()} == {40, 41, 42, 43}
        fl = spark.read.parquet(os.path.join(state, "flagged", "epoch=0"))
        assert fl.count() == 0


def test_ingest_funnel_falls_back_when_survivor_stores_missing(spark, tmp_path):
    """r10 ADVICE: a state root where the MinHash/embedding screens never
    ran (their accepted stores absent) must report text_dedup and
    accepted as the PREVIOUS stage's count — not a raw 0 — so the
    monotone invariant the alerting docstring advertises holds for any
    screen subset, not just the fully-armed composed pipeline."""
    from sentinela_py_spark.streaming.pipeline import ingest_funnel

    acc = spark.createDataFrame([(i,) for i in range(1, 5)], "doc_id long")
    fla = spark.createDataFrame([(9,)], "doc_id long")
    acc.write.parquet(str(tmp_path / "decontam" / "accepted" / "epoch=0"))
    fla.write.parquet(str(tmp_path / "decontam" / "flagged" / "epoch=0"))

    rows = ingest_funnel(spark, str(tmp_path)).collect()
    got = {r["stage"]: r["n_docs"] for r in rows}
    assert got == {
        "arrived": 5,
        "image_dedup": 5,  # image store absent -> previous stage
        "audio_dedup": 5,  # audio store absent -> previous stage
        "clip_gated": 5,   # clip store absent -> previous stage
        "decontaminated": 4,
        "fuzzy_gated": 4,
        "quality_gated": 4,
        "text_dedup": 4,   # minhash store absent -> previous stage
        "accepted": 4,     # accepted store absent -> previous stage
    }
    seq = [r["n_docs"] for r in sorted(rows, key=lambda r: r["stage_idx"])]
    assert seq == sorted(seq, reverse=True)


def test_ids_collapsed_guard_catches_duplicate_ids(spark, monkeypatch):
    """r11 ADVICE: `ids_collapsed=True` rides a caller-asserted unique-id
    invariant that is normally unchecked (checking would re-pay the
    folded shuffle). Under SENTINELA_CHECK_INVARIANTS=1 the barrier
    verifies it: a raw batch carrying a duplicate id raises instead of
    silently losing replay determinism, and a unique-id batch passes."""
    from sentinela_py_spark.streaming.pipeline import _screen_input

    monkeypatch.setenv("SENTINELA_CHECK_INVARIANTS", "1")
    dup = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="duplicate"):
        _screen_input(dup, "doc_id", F.col("text"), ids_collapsed=True)
    uniq = spark.createDataFrame([(1, "a"), (2, "c")], "doc_id long, text string")
    assert _screen_input(uniq, "doc_id", F.col("text"), ids_collapsed=True).count() == 2
    # flag off (the default): the guard does not run — dup batch passes
    # through unchecked, exactly the documented caller-asserted contract
    monkeypatch.delenv("SENTINELA_CHECK_INVARIANTS")
    assert _screen_input(dup, "doc_id", F.col("text"), ids_collapsed=True).count() == 3


# slow (36 s): the fold-vs-unfolded cross-check rebuilds the chain
# twice; the invariant guard test keeps default coverage.
@pytest.mark.slow
def test_ids_collapsed_fold_is_outcome_identical(spark, tmp_path):
    """r11 barrier fold: with unique ids, each downstream screen run in
    composed mode (``ids_collapsed=True`` — plain barrier, no collapse
    shuffle) must produce byte-identical accepted rows AND identical
    per-screen state content to standalone mode (``False`` — the
    deterministic collapse election, a no-op on unique ids). Runs the
    fuzzy, MinHash and embedding screens directly on a defect-carrying
    batch so the equivalence is pinned per screen, not just end-to-end."""
    from sentinela_py_spark.streaming.pipeline import (
        dedup_batch_against_corpus,
        embedding_dedup_batch_against_corpus,
        fuzzy_decon_screen_batch,
        fuzzy_eval_artifacts,
    )

    batch = _df(spark, BATCH1)
    arts = fuzzy_eval_artifacts(_eval_docs(spark))

    def rows(df):
        return sorted((r["doc_id"],) for r in df.select("doc_id").collect())

    def store_ids(root, sub):
        import os as _os

        p = _os.path.join(root, sub)
        # Only a MISSING store maps to None (absent in both modes is a
        # legitimate equivalence outcome); any other read failure
        # (schema drift, corrupt files) must fail the test rather than
        # letting the per-screen assertion pass vacuously (r11 ADVICE —
        # the old except-Exception in fact masked exactly this: the
        # embedding screen's `index` store keys rows by vec_id, so the
        # old helper returned None for it in BOTH modes and the
        # equivalence assertion never compared the vector index at all).
        if not _os.path.exists(p):
            return None
        df = spark.read.parquet(p)
        col = "doc_id" if "doc_id" in df.columns else "vec_id"
        return sorted(r[col] for r in df.select(col).collect())

    for name, run, subs in (
        (
            "fuzzy",
            lambda st, ic: fuzzy_decon_screen_batch(batch, arts, 0, st, ids_collapsed=ic),
            ["flagged"],
        ),
        (
            "minhash",
            lambda st, ic: dedup_batch_against_corpus(batch, 0, st, ids_collapsed=ic),
            ["accepted", "rejected", "bands"],
        ),
        (
            "embedding",
            lambda st, ic: embedding_dedup_batch_against_corpus(
                batch, 0, st, id_col="doc_id", threshold=THRESHOLD, ids_collapsed=ic
            ),
            ["accepted", "rejected", "index"],
        ),
    ):
        st_a = str(tmp_path / f"{name}-standalone")
        st_b = str(tmp_path / f"{name}-composed")
        out_a = run(st_a, False)
        out_b = run(st_b, True)
        assert rows(out_a) == rows(out_b), f"{name}: accepted rows diverge"
        for sub in subs:
            assert store_ids(st_a, sub) == store_ids(st_b, sub), (
                f"{name}/{sub}: store content diverges between modes"
            )


class TestComposedMultimodalIngest:
    """r13 (r12 verdict #2): the image screen composed INTO the ingest
    flagship — a LAION-style lake ingests PAIRED (image, caption) rows,
    dedups images FIRST, and only survivors' captions reach the text
    screens. Pins: the brightness-twin pair is evicted by the image
    screen with its caption never entering the band store, funnel
    attribution carries the new image_dedup stage monotonically, and
    epoch replay reproduces its first attempt."""

    @staticmethod
    def _ppm(w: int, h: int, body: bytes) -> bytes:
        pix = (body * (w * h * 3 // len(body) + 1))[: w * h * 3]
        return f"P6\n{w} {h}\n255\n".encode() + pix

    @staticmethod
    def _bright(ppm: bytes) -> bytes:
        hdr = ppm.index(b"255\n") + 4
        return ppm[:hdr] + bytes(b + 1 for b in ppm[hdr:])

    def _imgs(self):
        a = self._ppm(17, 19, b"spark shuffles partition data tonight ")
        c = self._ppm(16, 18, b"catalyst rewrites logical plans fast ")
        mk = lambda s: self._ppm(18, 17, s)  # noqa: E731
        return {
            1: a,
            2: self._bright(a),               # perceptual twin of 1
            3: mk(b"a contaminated document's image here "),
            4: c,
            10: self._bright(c),              # perceptual twin of corpus 4
            11: mk(b"a caption duplicate's unrelated image "),
            12: mk(b"a fresh image for the last survivor  "),
        }

    # captions: 2's is DISTINCT (only the image screen can evict it),
    # 3 carries eval text, 11 duplicates 1's caption, rest unique
    def _rows(self, ids):
        imgs = self._imgs()
        captions = {
            1: UNIQ[0], 2: UNIQ[1], 3: EVAL_TEXT, 4: UNIQ[2],
            10: UNIQ[3], 11: UNIQ[0], 12: UNIQ[4],
        }
        return [
            (i, bytearray(imgs[i]), captions[i], _e(i % DIM)) for i in ids
        ]

    def _df(self, spark, ids):
        return spark.createDataFrame(
            self._rows(ids),
            "doc_id long, payload binary, text string, embedding array<double>",
        )

    def _run_epochs(self, spark, tmp_path):
        state = str(tmp_path / "state")
        bloom = _bloom_row(spark)
        out0 = composed_ingest_batch(
            self._df(spark, [1, 2, 3, 4]), bloom, 0, state,
            threshold=THRESHOLD, image_payload_col="payload",
        )
        out1 = composed_ingest_batch(
            self._df(spark, [10, 11, 12]), bloom, 1, state,
            threshold=THRESHOLD, image_payload_col="payload",
        )
        return state, out0, out1

    # slow (67 s): the paired-row eviction e2e; funnel/replay tests in
    # this class keep default image-screen coverage.
    @pytest.mark.slow
    def test_image_screen_evicts_twins_and_captions_stay_out_of_stores(
        self, spark, tmp_path
    ):
        state, out0, out1 = self._run_epochs(spark, tmp_path)
        assert {r["doc_id"] for r in out0.collect()} == {1, 4}  # 2→image, 3→decontam
        assert {r["doc_id"] for r in out1.collect()} == {12}    # 10→image, 11→minhash
        # the image screen's own attribution, within-batch and vs-corpus
        imgrej = {
            r["doc_id"]: (r["matched_doc"], r["reason"])
            for r in spark.read.parquet(os.path.join(state, "image", "rejected"))
            .select("doc_id", "matched_doc", "reason").collect()
        }
        assert imgrej == {2: (1, "within_batch"), 10: (4, "vs_corpus")}
        # store hygiene, the LAION-order payoff: the evicted twins'
        # captions (UNIQ[1]/UNIQ[3] — perfectly clean text) never
        # entered the MinHash band store, and their ids are nowhere in
        # the text chain's state
        band_ids = _read_ids(spark, os.path.join(state, "minhash", "bands"))
        assert band_ids & {2, 10} == set()
        assert _read_ids(spark, os.path.join(state, "decontam", "flagged")) == {3}
        # the image signature store holds only image-survivors
        assert _read_ids(spark, os.path.join(state, "image", "bands")) == {1, 3, 4, 11, 12}

    def test_funnel_reports_the_image_stage(self, spark, tmp_path):
        from sentinela_py_spark.streaming.pipeline import ingest_funnel

        state, _o0, _o1 = self._run_epochs(spark, tmp_path)
        rows = ingest_funnel(spark, state).collect()
        got = {(r["epoch"], r["stage"]): r["n_docs"] for r in rows}
        assert got == {
            (0, "arrived"): 4,
            (0, "image_dedup"): 3,     # doc 2 evicted by the image screen
            (0, "audio_dedup"): 3,     # screen unarmed → previous stage
            (0, "clip_gated"): 3,      # screen unarmed → previous stage
            (0, "decontaminated"): 2,  # doc 3 flagged
            (0, "fuzzy_gated"): 2,
            (0, "quality_gated"): 2,
            (0, "text_dedup"): 2,
            (0, "accepted"): 2,
            (1, "arrived"): 3,
            (1, "image_dedup"): 2,     # doc 10 evicted vs corpus
            (1, "audio_dedup"): 2,     # screen unarmed → previous stage
            (1, "clip_gated"): 2,      # screen unarmed → previous stage
            (1, "decontaminated"): 2,
            (1, "fuzzy_gated"): 2,
            (1, "quality_gated"): 2,
            (1, "text_dedup"): 1,      # doc 11's caption dups corpus doc 1
            (1, "accepted"): 1,
        }
        for ep in (0, 1):
            seq = [r["n_docs"] for r in sorted(
                (r for r in rows if r["epoch"] == ep), key=lambda r: r["stage_idx"]
            )]
            assert seq == sorted(seq, reverse=True)

    def test_epoch_replay_reproduces_first_attempt(self, spark, tmp_path):
        state, _o0, out1 = self._run_epochs(spark, tmp_path)
        first = {r["doc_id"] for r in out1.collect()}
        bloom = _bloom_row(spark)
        again = composed_ingest_batch(
            self._df(spark, [10, 11, 12]), bloom, 1, state,
            threshold=THRESHOLD, image_payload_col="payload",
        )
        assert {r["doc_id"] for r in again.collect()} == first
        assert _read_ids(spark, os.path.join(state, "image", "bands")) == {1, 3, 4, 11, 12}

    def test_stream_wiring_with_paired_rows(self, spark, tmp_path):
        from sentinela_py_spark.streaming.pipeline import run_composed_ingest_stream

        src = str(tmp_path / "src")
        schema = "doc_id long, payload binary, text string, embedding array<double>"
        spark.createDataFrame(self._rows([1, 2, 3, 4]), schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        spark.createDataFrame(self._rows([10, 11, 12]), schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        state = str(tmp_path / "state")
        q = run_composed_ingest_stream(
            spark, src, str(tmp_path / "ckpt"), state,
            eval_docs=_eval_docs(spark), schema=schema,
            threshold=THRESHOLD, image_payload_col="payload",
            source_format="parquet",
        )
        assert q.awaitTermination(300), "stream did not drain"
        acc = _read_ids(spark, os.path.join(state, "accepted"))
        imgrej = _read_ids(spark, os.path.join(state, "image", "rejected"))
        # micro-batch split is the scheduler's choice, but the verdicts
        # are split-invariant here: twins 2/10 die at the image screen
        # whichever epoch carries them, 3 at decontam, 11 at minhash
        assert acc == {1, 4, 12}
        assert imgrej == {2, 10}


def test_frozen_model_word_artifacts_persist_to_model_dir(spark, tmp_path):
    """r13 (r12 ADVICE): with ``model_dir``, qr_frozen_model's word-LM
    artifacts are parquet model tables read back from disk — the
    returned dict is self-contained across session restarts, matching
    the collected char parts — and scoring under the durable artifacts
    is bit-identical to the in-session localCheckpoint variant."""
    from sentinela_py_spark.plans.textops import qr_frozen_model, qr_score_frozen

    ref = _ref_corpus(spark)
    mdir = str(tmp_path / "model")
    durable = qr_frozen_model(ref, model_dir=mdir)
    ephemeral = qr_frozen_model(ref)
    # the artifacts are on disk and the returned frames read from there
    assert os.path.exists(os.path.join(mdir, "wlogp"))
    assert os.path.exists(os.path.join(mdir, "wctx"))
    assert "wlogp" in durable["wlogp_df"].inputFiles()[0]
    batch = _df(spark, _q_rows())
    a = sorted(tuple(r) for r in qr_score_frozen(batch, durable).collect())
    b = sorted(tuple(r) for r in qr_score_frozen(batch, ephemeral).collect())
    assert a == b


class TestComposedAudioIngest:
    """r14 (r13 verdict #3): the AUDIO screen composed into the ingest
    flagship, mirroring r13's image composition — a LAION-A-style lake
    ingests PAIRED (clip, caption) rows, dedups clips in the media head
    of the chain, and only survivors' captions reach the text screens.
    Pins: the planted gain-twin (fingerprint-identical, distinct
    caption) is evicted by the audio screen with its caption never
    entering the band store; the re-encoded twin dies vs the corpus
    across epochs; funnel attribution carries the audio_dedup stage
    monotonically; epoch replay reproduces its first attempt; and with
    BOTH media screens armed the LAION order holds (image evicts before
    audio sees the row)."""

    @staticmethod
    def _wav(data: bytes, rate: int = 8000) -> bytes:
        import struct

        header = b"RIFF" + struct.pack("<I", len(data) + 36) + b"WAVEfmt "
        header += struct.pack("<IHHIIHH", 16, 1, 1, rate, rate, 1, 8)
        return header + b"data" + struct.pack("<I", len(data)) + data

    @staticmethod
    def _gain(wav: bytes) -> bytes:
        data_at = wav.index(b"data") + 8
        return wav[:data_at] + bytes((b + 1) & 0xFF for b in wav[data_at:])

    def _clips(self):
        # bodies >= AFP_MIN_SAMPLES (130) so every clip fingerprints
        mk = lambda s: self._wav((s * 8)[:200])  # noqa: E731
        a = mk(b"spark shuffles partition data tonight ")
        c = mk(b"catalyst rewrites logical plans fast ")
        return {
            1: a,
            2: self._gain(a),                 # gain twin of 1 (audio-only dup)
            3: mk(b"a contaminated document's clip here "),
            4: c,
            10: self._wav(c[c.index(b"data") + 8 :], rate=16000),  # re-encode of 4
            11: mk(b"a caption duplicate's unrelated clip "),
            12: mk(b"a fresh clip for the last survivor  "),
        }

    # captions: 2's is DISTINCT (only the audio screen can evict it),
    # 3 carries eval text, 11 duplicates 1's caption, rest unique
    def _rows(self, ids):
        clips = self._clips()
        captions = {
            1: UNIQ[0], 2: UNIQ[1], 3: EVAL_TEXT, 4: UNIQ[2],
            10: UNIQ[3], 11: UNIQ[0], 12: UNIQ[4],
        }
        return [
            (i, bytearray(clips[i]), captions[i], _e(i % DIM)) for i in ids
        ]

    def _df(self, spark, ids):
        return spark.createDataFrame(
            self._rows(ids),
            "doc_id long, clip binary, text string, embedding array<double>",
        )

    def _run_epochs(self, spark, tmp_path):
        state = str(tmp_path / "state")
        bloom = _bloom_row(spark)
        out0 = composed_ingest_batch(
            self._df(spark, [1, 2, 3, 4]), bloom, 0, state,
            threshold=THRESHOLD, audio_payload_col="clip",
        )
        out1 = composed_ingest_batch(
            self._df(spark, [10, 11, 12]), bloom, 1, state,
            threshold=THRESHOLD, audio_payload_col="clip",
        )
        return state, out0, out1

    def test_audio_screen_evicts_twins_and_captions_stay_out_of_stores(
        self, spark, tmp_path
    ):
        state, out0, out1 = self._run_epochs(spark, tmp_path)
        assert {r["doc_id"] for r in out0.collect()} == {1, 4}  # 2→audio, 3→decontam
        assert {r["doc_id"] for r in out1.collect()} == {12}    # 10→audio, 11→minhash
        audrej = {
            r["doc_id"]: (r["matched_doc"], r["reason"])
            for r in spark.read.parquet(os.path.join(state, "audio", "rejected"))
            .select("doc_id", "matched_doc", "reason").collect()
        }
        assert audrej == {2: (1, "within_batch"), 10: (4, "vs_corpus")}
        # store hygiene, the LAION-order payoff: the evicted twins'
        # captions (UNIQ[1]/UNIQ[3] — perfectly clean text) never
        # entered the MinHash band store
        band_ids = _read_ids(spark, os.path.join(state, "minhash", "bands"))
        assert band_ids & {2, 10} == set()
        assert _read_ids(spark, os.path.join(state, "decontam", "flagged")) == {3}
        # the audio signature store holds only audio-survivors
        assert _read_ids(spark, os.path.join(state, "audio", "bands")) == {1, 3, 4, 11, 12}

    def test_funnel_reports_the_audio_stage(self, spark, tmp_path):
        from sentinela_py_spark.streaming.pipeline import ingest_funnel

        state, _o0, _o1 = self._run_epochs(spark, tmp_path)
        rows = ingest_funnel(spark, state).collect()
        got = {(r["epoch"], r["stage"]): r["n_docs"] for r in rows}
        assert got == {
            (0, "arrived"): 4,
            (0, "image_dedup"): 4,     # screen unarmed → next armed door
            (0, "audio_dedup"): 3,     # doc 2 evicted by the audio screen
            (0, "clip_gated"): 3,      # screen unarmed → previous stage
            (0, "decontaminated"): 2,  # doc 3 flagged
            (0, "fuzzy_gated"): 2,
            (0, "quality_gated"): 2,
            (0, "text_dedup"): 2,
            (0, "accepted"): 2,
            (1, "arrived"): 3,
            (1, "image_dedup"): 3,
            (1, "audio_dedup"): 2,     # doc 10 evicted vs corpus
            (1, "clip_gated"): 2,      # screen unarmed → previous stage
            (1, "decontaminated"): 2,
            (1, "fuzzy_gated"): 2,
            (1, "quality_gated"): 2,
            (1, "text_dedup"): 1,      # doc 11's caption dups corpus doc 1
            (1, "accepted"): 1,
        }
        for ep in (0, 1):
            seq = [r["n_docs"] for r in sorted(
                (r for r in rows if r["epoch"] == ep), key=lambda r: r["stage_idx"]
            )]
            assert seq == sorted(seq, reverse=True)

    # slow (36 s): audio-screen replay e2e; the composed replay test
    # (default) covers the replay contract.
    @pytest.mark.slow
    def test_epoch_replay_reproduces_first_attempt(self, spark, tmp_path):
        state, _o0, out1 = self._run_epochs(spark, tmp_path)
        first = {r["doc_id"] for r in out1.collect()}
        bloom = _bloom_row(spark)
        again = composed_ingest_batch(
            self._df(spark, [10, 11, 12]), bloom, 1, state,
            threshold=THRESHOLD, audio_payload_col="clip",
        )
        assert {r["doc_id"] for r in again.collect()} == first
        assert _read_ids(spark, os.path.join(state, "audio", "bands")) == {1, 3, 4, 11, 12}

    def test_both_media_screens_compose_in_laion_order(self, spark, tmp_path):
        """Rows carrying BOTH payloads: an image twin (distinct clip,
        distinct caption) dies at the image screen BEFORE the audio
        screen sees it — its clip never enters the audio band store —
        and an audio twin (distinct image) dies at the audio screen."""
        imgmk = TestComposedMultimodalIngest._ppm
        img_a = imgmk(17, 19, b"spark shuffles partition data tonight ")
        clip_a = self._wav((b"spark shuffles partition data tonight " * 8)[:200])
        rows = [
            # (id, image, clip, caption, emb)
            (1, img_a, clip_a, UNIQ[0]),
            # image twin of 1: same pixels +1, DISTINCT clip + caption
            (2, TestComposedMultimodalIngest._bright(img_a),
             self._wav((b"some wholly different audio content " * 8)[:200]), UNIQ[1]),
            # audio twin of 1: gain-shifted clip, DISTINCT image + caption
            (3, imgmk(16, 18, b"catalyst rewrites logical plans fast "),
             self._gain(clip_a), UNIQ[2]),
            (4, imgmk(18, 17, b"a fresh image for the last survivor  "),
             self._wav((b"broadcast joins ship the small side " * 8)[:200]), UNIQ[4]),
        ]
        df = spark.createDataFrame(
            [(i, bytearray(p), bytearray(c), t, _e(i)) for i, p, c, t in rows],
            "doc_id long, payload binary, clip binary, text string, embedding array<double>",
        )
        state = str(tmp_path / "state")
        out = composed_ingest_batch(
            df, _bloom_row(spark), 0, state,
            threshold=THRESHOLD,
            image_payload_col="payload", audio_payload_col="clip",
        )
        # 2 dies at the image screen, 3 at the audio screen
        assert {r["doc_id"] for r in out.collect()} == {1, 4}
        imgrej = {
            r["doc_id"]: r["matched_doc"]
            for r in spark.read.parquet(
                os.path.join(state, "image", "rejected")
            ).collect()
        }
        audrej = {
            r["doc_id"]: r["matched_doc"]
            for r in spark.read.parquet(
                os.path.join(state, "audio", "rejected")
            ).collect()
        }
        assert imgrej == {2: 1} and audrej == {3: 1}
        # LAION order: the image-evicted row's clip never entered the
        # audio stores (band or rejected), and the audio store holds
        # only rows that survived BOTH media screens
        assert _read_ids(spark, os.path.join(state, "audio", "bands")) == {1, 4}
        assert _read_ids(spark, os.path.join(state, "image", "bands")) == {1, 3, 4}
        # funnel: arrived 4 → image 3 → audio 2, monotone
        from sentinela_py_spark.streaming.pipeline import ingest_funnel

        got = {
            r["stage"]: r["n_docs"] for r in ingest_funnel(spark, state).collect()
        }
        assert (got["arrived"], got["image_dedup"], got["audio_dedup"]) == (4, 3, 2)
