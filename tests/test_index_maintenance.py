"""Streaming ANN index maintenance: arriving vectors encode against the
FROZEN codebook and append to the epoch-partitioned index tree — the
FAISS IndexIVF.add contract. Pins: stream ≡ batch encode parity,
checkpoint-replay idempotence, search-through-the-tree equality with a
flat offline store, partition pruning across epochs, and the real
availableNow stream wiring (the index tail of the composed ingest
stream)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sentinela_py_spark.functions.vectors import (
    ivf_pq_adc_topk,
    read_ann_index,
    read_ann_index_tree,
    write_ann_index,
)
from sentinela_py_spark.streaming.pipeline import (
    ann_index_append_batch,
    run_composed_ingest_stream,
)
from sentinela_py_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"
DIM = 64
M = 8
K = 16


@pytest.fixture(scope="module")
def codebook(spark):
    """A frozen deterministic codebook (first-8 centroids, first-16
    codeword slices) — maintenance semantics don't depend on codebook
    quality, so the test skips the k-means run."""
    rows = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") < K)
        .orderBy("vec_id")
        .collect()
    )
    vecs = [[float(x) for x in r["embedding"]] for r in rows]
    cents = [(i, vecs[i]) for i in range(8)]
    d = DIM // M
    books = [[v[mi * d : (mi + 1) * d] for v in vecs[:K]] for mi in range(M)]
    return cents, books


def _slice(spark, lo, hi):
    return (
        load_table(spark, SF_DIR, "embeddings")
        .filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        .select("vec_id", "embedding")
    )


def _drain_composed(spark, tmp_path, codebook, chunks, compact_every=None) -> str:
    """Drain the composed ingest stream with the ANN index tail armed,
    one json file per chunk of embedding rows. Each row carries its own
    disjoint-token caption, so every screen accepts it and the tree must
    end up holding every row. Returns the tree path."""
    cents, books = codebook
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate(chunks):
        with open(src / f"batch{i}.jsonl", "w") as f:
            for r in chunk:
                vid = r["vec_id"]
                row = {
                    "doc_id": vid,
                    "text": " ".join(f"d{vid}w{j}" for j in range(12)),
                    "embedding": [float(x) for x in r["embedding"]],
                }
                f.write(json.dumps(row) + "\n")
    tree = str(tmp_path / "tree")
    q = run_composed_ingest_stream(
        spark,
        str(src),
        str(tmp_path / "ckpt"),
        str(tmp_path / "state"),
        eval_docs=spark.createDataFrame(
            [(-1, "an eval split sharing no token with any caption")],
            "doc_id long, text string",
        ),
        schema="doc_id LONG, text STRING, embedding ARRAY<DOUBLE>",
        threshold=0.9,  # no sf0.001 pair reaches it: every row survives
        index_dir=tree,
        centroids=cents,
        books=books,
        compact_every=compact_every,
    )
    assert q.awaitTermination(300), "stream did not drain"
    return tree


def _rowset(df):
    return sorted(
        (r["vec_id"], int(r["cell_id"]), tuple(r["codes"])) for r in df.collect()
    )


class TestIndexMaintenance:
    def test_appends_match_batch_encode_and_replay_is_idempotent(
        self, spark, codebook, tmp_path
    ):
        cents, books = codebook
        tree = str(tmp_path / "tree")
        ann_index_append_batch(_slice(spark, 0, 100), 0, tree, cents, books)
        ann_index_append_batch(_slice(spark, 100, 150), 1, tree, cents, books)
        ann_index_append_batch(_slice(spark, 150, 200), 2, tree, cents, books)

        got = read_ann_index_tree(spark, tree)
        # stream ≡ batch: the tree equals one batch encode of the union
        flat = str(tmp_path / "flat")
        ann_index_append_batch(_slice(spark, 0, 200), 0, flat, cents, books)
        want = read_ann_index_tree(spark, flat)
        assert _rowset(got) == _rowset(want)

        # checkpoint replay: re-running an epoch overwrites, never dupes
        before = _rowset(got)
        ann_index_append_batch(_slice(spark, 150, 200), 2, tree, cents, books)
        assert _rowset(read_ann_index_tree(spark, tree)) == before

    def test_search_through_tree_equals_flat_store(self, spark, codebook, tmp_path):
        cents, books = codebook
        tree = str(tmp_path / "tree")
        ann_index_append_batch(_slice(spark, 0, 120), 0, tree, cents, books)
        ann_index_append_batch(_slice(spark, 120, 200), 1, tree, cents, books)
        flat = str(tmp_path / "flat")
        write_ann_index(
            read_ann_index_tree(spark, tree), flat
        )  # same rows, offline layout
        queries = _slice(spark, 0, 3)

        def run(codes_df, vecs_df):
            return sorted(
                (r["query_id"], r["vec_id"], r["cell_id"], r["cosine"], r["rnk"])
                for r in ivf_pq_adc_topk(
                    codes_df, vecs_df, queries, cents, books, k=5, coarse_k=20
                ).collect()
            )

        assert run(
            read_ann_index_tree(spark, tree), read_ann_index_tree(spark, tree)
        ) == run(read_ann_index(spark, flat), read_ann_index(spark, flat))

    def test_tree_prunes_on_cell_across_epochs(self, spark, codebook, tmp_path):
        cents, books = codebook
        tree = str(tmp_path / "tree")
        ann_index_append_batch(_slice(spark, 0, 100), 0, tree, cents, books)
        ann_index_append_batch(_slice(spark, 100, 160), 1, tree, cents, books)
        plan = (
            read_ann_index_tree(spark, tree)
            .filter(F.col("cell_id") == 3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters: [" in plan
        assert "cell_id" in plan.split("PartitionFilters:")[1][:200]

    def test_available_now_stream_drains_into_tree(self, spark, codebook, tmp_path):
        rows = _slice(spark, 0, 60).collect()
        tree = _drain_composed(spark, tmp_path, codebook, [rows[:30], rows[30:]])
        got = read_ann_index_tree(spark, tree)
        assert sorted(r["doc_id"] for r in got.collect()) == sorted(
            r["vec_id"] for r in rows
        )
        # every appended epoch landed cell-partitioned
        epochs = [p for p in os.listdir(tree) if p.startswith("epoch=")]
        assert len(epochs) >= 1
        for ep in epochs:
            assert any(
                p.startswith("cell_id=") for p in os.listdir(os.path.join(tree, ep))
            )


def _cell_file_counts(tree: str) -> dict[str, int]:
    """parquet data files per cell_id value, summed across every epoch."""
    counts: dict[str, int] = {}
    for ep in os.listdir(tree):
        if not ep.startswith("epoch="):
            continue
        for cd in os.listdir(os.path.join(tree, ep)):
            if not cd.startswith("cell_id="):
                continue
            n = sum(
                1
                for f in os.listdir(os.path.join(tree, ep, cd))
                if f.endswith(".parquet")
            )
            counts[cd] = counts.get(cd, 0) + n
    return counts


class TestTreeCompaction:
    def test_compaction_preserves_search_and_flattens_files(
        self, spark, codebook, tmp_path
    ):
        from sentinela_py_spark.functions.vectors import (
            compact_ann_index_tree,
            tree_compacted_through,
        )

        cents, books = codebook
        tree = str(tmp_path / "tree")
        ann_index_append_batch(_slice(spark, 0, 100), 0, tree, cents, books)
        ann_index_append_batch(_slice(spark, 100, 150), 1, tree, cents, books)
        ann_index_append_batch(_slice(spark, 150, 200), 2, tree, cents, books)
        queries = _slice(spark, 0, 3)

        def search():
            return sorted(
                (r["query_id"], r["vec_id"], r["cell_id"], r["cosine"], r["rnk"])
                for r in ivf_pq_adc_topk(
                    read_ann_index_tree(spark, tree),
                    read_ann_index_tree(spark, tree),
                    queries,
                    cents,
                    books,
                    k=5,
                    coarse_k=20,
                ).collect()
            )

        before_rows = _rowset(read_ann_index_tree(spark, tree))
        before_search = search()
        # the small-files spiral this job exists for: some cell already
        # carries more than one file across the three epochs
        assert max(_cell_file_counts(tree).values()) > 1

        assert compact_ann_index_tree(spark, tree) == 2
        assert tree_compacted_through(tree) == 2
        assert _rowset(read_ann_index_tree(spark, tree)) == before_rows
        assert search() == before_search
        # one epoch dir (the base), exactly one file per cell
        assert [p for p in os.listdir(tree) if p.startswith("epoch=")] == ["epoch=-1"]
        assert set(_cell_file_counts(tree).values()) == {1}

    def test_replayed_append_after_compaction_is_idempotent(
        self, spark, codebook, tmp_path
    ):
        from sentinela_py_spark.functions.vectors import compact_ann_index_tree

        cents, books = codebook
        tree = str(tmp_path / "tree")
        ann_index_append_batch(_slice(spark, 0, 120), 0, tree, cents, books)
        ann_index_append_batch(_slice(spark, 120, 200), 1, tree, cents, books)
        compact_ann_index_tree(spark, tree)
        before = _rowset(read_ann_index_tree(spark, tree))

        # a checkpoint-replayed folded epoch must no-op, not double rows
        ann_index_append_batch(_slice(spark, 120, 200), 1, tree, cents, books)
        assert _rowset(read_ann_index_tree(spark, tree)) == before
        assert not os.path.exists(os.path.join(tree, "epoch=1"))

        # the stream moves on: a NEW epoch past the marker still appends
        ann_index_append_batch(_slice(spark, 200, 230), 2, tree, cents, books)
        after = _rowset(read_ann_index_tree(spark, tree))
        assert len(after) == len(before) + 30
        assert set(before) < set(after)

    def test_offline_base_enters_tree_as_epoch_level_entry(
        self, spark, codebook, tmp_path
    ):
        """The base and the appends share one partition-discovery depth:
        write_ann_index_tree_base puts the offline build at epoch=-1, an
        append lands beside it, and the combined tree reads as one frame
        with cell pruning intact (a FLAT base under the same root would
        fail parquet discovery outright)."""
        from sentinela_py_spark.functions.vectors import write_ann_index_tree_base
        from sentinela_py_spark.streaming.pipeline import encode_ann_batch

        cents, books = codebook
        tree = str(tmp_path / "tree")
        write_ann_index_tree_base(
            encode_ann_batch(_slice(spark, 0, 150), cents, books), tree
        )
        ann_index_append_batch(_slice(spark, 150, 200), 0, tree, cents, books)

        got = read_ann_index_tree(spark, tree)
        flat = str(tmp_path / "flat")
        ann_index_append_batch(_slice(spark, 0, 200), 0, flat, cents, books)
        assert _rowset(got) == _rowset(read_ann_index_tree(spark, flat))
        plan = (
            got.filter(F.col("cell_id") == 3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters: [" in plan
        assert "cell_id" in plan.split("PartitionFilters:")[1][:200]

    def test_stream_self_compacts_on_cadence(self, spark, codebook, tmp_path):
        """compact_every=2 on the composed stream: it drains 2 one-file
        micro-batches and folds the screen stores and the index tree
        after epoch 1 only — the tree holds every row of both epochs in
        one ``epoch=-1`` base, bounded at one file per cell."""
        from sentinela_py_spark.functions.vectors import tree_compacted_through

        rows = _slice(spark, 0, 40).collect()
        tree = _drain_composed(
            spark, tmp_path, codebook, [rows[:20], rows[20:]], compact_every=2
        )
        got = read_ann_index_tree(spark, tree)
        assert sorted(r["doc_id"] for r in got.collect()) == sorted(
            r["vec_id"] for r in rows
        )
        assert [p for p in os.listdir(tree) if p.startswith("epoch=")] == ["epoch=-1"]
        assert set(_cell_file_counts(tree).values()) == {1}
        assert tree_compacted_through(tree) == 1
