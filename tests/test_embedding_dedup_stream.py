"""Streaming embedding near-dup rejection at ingest: micro-batches of
vectors are LSH-bucketed, cosine-confirmed within the batch and against
the persistent bucket-keyed index of accepted vectors — the SemDeDup-at-
ingest shape, streaming twin of q_embedding_neardup."""

from __future__ import annotations

import os

from sentinela_py_spark.streaming.pipeline import (
    embedding_dedup_batch_against_corpus,
)
from sentinela_py_spark.tables import load_table

SF = "/root/testdata/sf0.01"
THRESHOLD = 0.9  # no sf0.01 pair reaches 0.9 -> batch 1 accepts everything
DIM = 64


def test_restart_and_replay_safety(spark, tmp_path):
    """Restart continues from the checkpoint (corpus index persists), and
    a crash-replayed epoch reproduces its first attempt — the index read
    excludes the batch's own epoch, so a batch whose writes landed but
    whose offset never committed cannot self-match on re-run."""
    state = str(tmp_path / "state")
    e1 = [1.0] + [0.0] * (DIM - 1)
    e2 = [0.0, 1.0] + [0.0] * (DIM - 2)
    batch = spark.createDataFrame([(1, e1), (2, e2)], "vec_id long, embedding array<float>")
    embedding_dedup_batch_against_corpus(batch, 0, state, threshold=THRESHOLD)
    accepted = lambda: sorted(  # noqa: E731
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(state, "accepted")).collect()
    )
    assert accepted() == [1, 2]
    # crash-replay: same batch, same epoch — index now holds this epoch
    embedding_dedup_batch_against_corpus(batch, 0, state, threshold=THRESHOLD)
    assert accepted() == [1, 2]
    # next epoch: a copy of vec 1 rejects vs corpus, a fresh direction lands
    e3 = [0.0, 0.0, 1.0] + [0.0] * (DIM - 3)
    batch2 = spark.createDataFrame([(3, e1), (4, e3)], "vec_id long, embedding array<float>")
    embedding_dedup_batch_against_corpus(batch2, 1, state, threshold=THRESHOLD)
    assert accepted() == [1, 2, 4]
    rej = {
        r["vec_id"]: (r["matched_vec"], r["reason"])
        for r in spark.read.parquet(os.path.join(state, "rejected")).collect()
    }
    assert rej == {3: (1, "vs_corpus")}


def test_duplicate_id_batch_replays_deterministically(spark, tmp_path):
    """One vec_id arriving with TWO different vectors: the survivor is
    the min-md5(to_json(embedding)) election (collapse_duplicate_ids),
    not a partition-order pick — a crash-replay seeing the same rows in
    a different arrival order and partitioning writes byte-identical
    accepted content AND vector-index content (r6 ADVICE)."""
    state = str(tmp_path / "state")
    va = [1.0] + [0.0] * (DIM - 1)
    vb = [0.0, 1.0] + [0.0] * (DIM - 2)
    vc = [0.0, 0.0, 1.0] + [0.0] * (DIM - 3)
    schema = "vec_id long, embedding array<float>"
    batch = spark.createDataFrame([(1, va), (1, vb), (2, vc)], schema)
    embedding_dedup_batch_against_corpus(batch, 0, state, threshold=THRESHOLD)

    def snapshot():
        acc = sorted(
            (r["vec_id"], tuple(r["embedding"]))
            for r in spark.read.parquet(os.path.join(state, "accepted")).collect()
        )
        idx = sorted(
            (r["vec_id"], tuple(r["embedding"]))
            for r in spark.read.parquet(os.path.join(state, "index"))
            .select("vec_id", "embedding")
            .collect()
        )
        return acc, idx

    first_acc, first_idx = snapshot()
    assert [vid for vid, _ in first_acc] == [1, 2]
    # the elected id-1 vector is the same row everywhere (accepted ≡ index)
    assert first_idx == first_acc
    # crash-replay: same rows, reversed order, different partitioning
    replay = spark.createDataFrame([(2, vc), (1, vb), (1, va)], schema).repartition(5)
    embedding_dedup_batch_against_corpus(replay, 0, state, threshold=THRESHOLD)
    assert snapshot() == (first_acc, first_idx)


def test_embedding_dedup_stream_end_to_end(spark, tmp_path):
    """Four arriving files, one screen call each (epochs 0..3)."""
    state = str(tmp_path / "state")
    base = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in load_table(spark, SF, "embeddings").select("vec_id", "embedding").collect()
    ]
    n = len(base)

    # batch 2: exact copies -> cosine 1.0 with their accepted twin
    copies = [(vid + 10_000, emb) for vid, emb in base]
    # batch 3: same directions at 2x the norm -> cosine is still 1.0,
    # proving the screen keys on angle, not magnitude
    scaled = [(vid + 20_000, [2.0 * x for x in emb]) for vid, emb in base]
    # batch 4: 25 distinct one-hot directions, each twice -> orthogonal to
    # everything stored (cos <= max|v_i|/||v|| << 0.9) but exact dups
    # WITHIN the batch: higher id of each pair must fall to within_batch
    onehots = []
    for i in range(25):
        e = [0.0] * DIM
        e[i] = 1.0
        onehots += [(30_000 + i, e), (30_100 + i, e)]

    for epoch, rows in enumerate((base, copies, scaled, onehots)):
        batch = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        embedding_dedup_batch_against_corpus(batch, epoch, state, threshold=THRESHOLD)

    accepted = spark.read.parquet(os.path.join(state, "accepted"))
    rejected = spark.read.parquet(os.path.join(state, "rejected"))
    acc_ids = {r["vec_id"] for r in accepted.select("vec_id").collect()}
    rej = {r["vec_id"]: (r["matched_vec"], r["reason"]) for r in rejected.collect()}

    # batch 1: no pair reaches 0.9 -> all accepted
    assert {vid for vid, _ in base} <= acc_ids
    # batch 2: every copy rejected against its twin, by id
    for vid, _ in base:
        assert rej[vid + 10_000] == (vid, "vs_corpus")
    # batch 3: scaled copies rejected too (angle, not norm)
    for vid, _ in base:
        assert rej[vid + 20_000][1] == "vs_corpus"
    # batch 4: one of each one-hot pair accepted, its copy rejected within batch
    for i in range(25):
        assert 30_000 + i in acc_ids
        assert rej[30_100 + i] == (30_000 + i, "within_batch")
    # the index holds exactly the survivors
    index = spark.read.parquet(os.path.join(state, "index"))
    assert {r["vec_id"] for r in index.select("vec_id").collect()} == acc_ids
    assert n + 25 == len(acc_ids)
