"""Seeded inputs of the ``ingest_epochs`` workload.

Writes, under ``out_dir``:

- ``eval.parquet`` (doc_id, text): the held-out eval set the
  decontamination Bloom filter is built from;
- ``epoch_NN.parquet`` (doc_id, text, embedding[64]): one file per epoch,
  doc ids ascending in stream order;
- ``truth.json``: per epoch the planted ids of each class.

Every epoch after the first plants known shares of four classes:

- ``eval``: a clean document with a 12-word window of an eval document
  spliced in, so its 5-grams hit the eval Bloom filter;
- ``text_exact`` / ``text_near``: an earlier epoch's clean document,
  verbatim or with its last word replaced, under a fresh embedding, for
  the MinHash screen;
- ``vec_dup``: fresh text under an earlier clean document's embedding
  plus small noise, for the embedding screen;
- ``clean``: fresh text and a fresh random unit embedding.

Text draws from a Zipfian vocabulary of ``vocab`` synthetic words, so
unrelated documents share few 5-grams and the Bloom filter flags almost
only the planted eval copies."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
SHARES = {"eval": 0.08, "text_exact": 0.05, "text_near": 0.07, "vec_dup": 0.10}


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnoprstuvz"))
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, size=int(rng.integers(3, 10)))))
    return np.array(sorted(words))


def _unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def generate(seed: int, out_dir: str, n_epochs: int, per_epoch: int, vocab: int = 5000,
             n_eval: int = 20) -> dict:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    words = _vocab(rng, vocab)
    zipf = 1.0 / np.arange(1, vocab + 1) ** 1.05
    zipf /= zipf.sum()

    def text(n_words: int) -> list[str]:
        return list(words[rng.choice(vocab, size=n_words, p=zipf)])

    eval_docs = [text(60) for _ in range(n_eval)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(900_000, 900_000 + n_eval), pa.int64()),
                "text": [" ".join(d) for d in eval_docs],
            }
        ),
        os.path.join(out_dir, "eval.parquet"),
    )

    truth: dict = {"epochs": []}
    clean_pool: list[tuple[list[str], np.ndarray]] = []  # earlier epochs' clean docs
    next_id = 1
    for e in range(n_epochs):
        ids, texts, vecs = [], [], []
        planted: dict[str, list[int]] = {k: [] for k in (*SHARES, "clean")}
        this_clean: list[tuple[list[str], np.ndarray]] = []
        # exact counts per seed, so every seed gives the same amount of work
        kinds = [k for k, share in SHARES.items() for _ in range(round(share * per_epoch))] if e else []
        kinds += ["clean"] * (per_epoch - len(kinds))
        rng.shuffle(kinds)
        for kind in kinds:
            if kind == "eval":
                t = text(int(rng.integers(40, 70)))
                src = eval_docs[int(rng.integers(n_eval))]
                at = int(rng.integers(0, len(src) - 12))
                cut = int(rng.integers(0, len(t)))
                t = t[:cut] + src[at : at + 12] + t[cut:]
                v = _unit(rng.normal(size=DIM))
            elif kind in ("text_exact", "text_near"):
                src_t, _ = clean_pool[int(rng.integers(len(clean_pool)))]
                t = list(src_t)
                if kind == "text_near":
                    t[-1] = words[int(rng.integers(vocab))]
                v = _unit(rng.normal(size=DIM))
            elif kind == "vec_dup":
                _, src_v = clean_pool[int(rng.integers(len(clean_pool)))]
                t = text(int(rng.integers(40, 70)))
                v = _unit(src_v + rng.normal(scale=0.002, size=DIM))
            else:
                t = text(int(rng.integers(40, 70)))
                v = _unit(rng.normal(size=DIM))
                this_clean.append((t, v))
            ids.append(next_id)
            texts.append(" ".join(t))
            vecs.append(v.tolist())
            planted[kind].append(next_id)
            next_id += 1
        clean_pool.extend(this_clean)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": texts,
                    "embedding": pa.array(vecs, pa.list_(pa.float64())),
                }
            ),
            os.path.join(out_dir, f"epoch_{e:02d}.parquet"),
        )
        truth["epochs"].append(planted)
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth
