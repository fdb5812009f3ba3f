"""BPE encode (operators/bpe.py) vs a pure-Python reference of the
classic Sennrich trainer: encoding the training text with the learned
merge table reproduces the trained segmentation word for word."""

from __future__ import annotations

from collections import Counter

import pytest

from sentinela_py_spark.operators.bpe import bpe_encode

CORPUS = (
    "low low low low low lower lower newest newest newest newest newest newest "
    "widest widest widest"
)


def _ref_bpe(text: str, n_merges: int, min_pair_count: int = 2):
    """Reference BPE: word-frequency training, leftmost-greedy merge
    application, ties broken (count desc, left asc, right asc)."""
    vocab = {w: list(w) for w in text.split() if w}
    counts = Counter(w for w in text.split() if w)
    merges = []
    for rank in range(n_merges):
        pair_counts: Counter = Counter()
        for w, syms in vocab.items():
            for x, y in zip(syms, syms[1:]):
                pair_counts[(x, y)] += counts[w]
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        if cnt < min_pair_count:
            break
        merges.append((rank, a, b, cnt))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


@pytest.fixture()
def corpus_df(spark):
    return spark.createDataFrame([(1, CORPUS)], ["doc_id", "text"])


def test_encode_reproduces_trained_segmentation(spark, corpus_df):
    """Encoding the training text with the learned merge table must
    reproduce the trained vocab segmentation word for word; unseen words
    segment with whatever learned subwords apply."""
    merges, trained = _ref_bpe(CORPUS, 8)
    enc = bpe_encode(corpus_df, merges).collect()[0]["bpe_tokens"]
    want = [s for w in CORPUS.split() for s in trained[w]]
    assert enc == want

    oov = spark.createDataFrame([(1, "slowest newlow")], ["doc_id", "text"])
    toks = bpe_encode(oov, merges).collect()[0]["bpe_tokens"]
    assert "".join(toks) == "slowestnewlow"  # partition property holds OOV
    # learned subwords appear where their pairs exist
    learned = {a + b for (_, a, b, _) in merges}
    assert any(t in learned for t in toks)
