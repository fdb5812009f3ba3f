"""Deterministic Bloom filter (functions/bloom.py): no false negatives,
known-and-stable false positives, and the decontamination arm's
superset contract vs the exact join."""

from __future__ import annotations

from pyspark.sql import functions as F

from sentinela_py_spark.functions.bloom import bloom_build, bloom_contains


def _member_set(spark, keys, probes, **kw):
    bloom = F.broadcast(bloom_build(spark.createDataFrame([(k,) for k in keys], ["key"]), **kw))
    probe_df = spark.createDataFrame([(p,) for p in probes], ["key"]).crossJoin(bloom)
    return {
        r["key"]
        for r in probe_df.filter(bloom_contains(F.col("key"), F.col("bloom"), **kw)).collect()
    }


def test_no_false_negatives(spark):
    keys = [f"gram-{i}" for i in range(500)]
    got = _member_set(spark, keys, keys)
    assert got == set(keys)


def test_false_positive_rate_bounded_and_deterministic(spark):
    keys = [f"gram-{i}" for i in range(500)]
    probes = [f"other-{i}" for i in range(2000)]
    fp1 = _member_set(spark, keys, probes)
    fp2 = _member_set(spark, keys, probes)
    assert fp1 == fp2  # same filter, same FPs, every run
    # k=4, n=500, m=65536 -> p = (1 - e^(-kn/m))^4 ~ 7e-6; with 2000
    # probes anything beyond a couple of hits means broken position math
    assert len(fp1) <= 2


def test_tiny_filter_saturates_to_all_pass(spark):
    """m=32 bits with 500 keys: every word fills, everything passes —
    the documented saturation behavior, not an error."""
    keys = [f"gram-{i}" for i in range(500)]
    probes = ["definitely-not-a-member"]
    got = _member_set(spark, keys, probes, m_bits=32)
    assert got == set(probes)


def test_decontamination_bloom_arm_is_superset_of_exact(spark):
    from sentinela_py_spark.plans.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    rows = QUERIES["q_decontamination"].spark(spark, "/root/testdata/sf0.01").collect()
    exact = {r["doc_id"]: r["n_shared_ngrams"] for r in rows if r["method"] == "exact"}
    bloom = {r["doc_id"]: r["n_shared_ngrams"] for r in rows if r["method"] == "bloom"}
    assert set(exact) <= set(bloom)  # no false negatives
    assert all(bloom[d] >= n for d, n in exact.items())  # per-doc counts dominate


def test_fuzzy_decon_arm_flags_edited_copies_not_phrase_overlap(spark):
    """The fuzzy arm is a whole-document screen: a lightly-edited eval
    copy (one word changed, 3-gram Jaccard ~0.85) is flagged, while a doc
    that merely quotes a 5-word eval phrase (exact-arm territory) is not.
    Doc ids are chosen on the registered md5 split: 6 is eval, 0-2 train."""
    from sentinela_py_spark.plans.textops import _fuzzy_decon_arm

    eval_words = [f"w{i}" for i in range(40)]
    edited = list(eval_words)
    edited[20] = "CHANGED"  # kills 3 shingles -> jaccard 35/41 ~ 0.854
    quoting = [f"u{i}" for i in range(30)] + eval_words[5:10]  # one shared 5-gram
    docs = spark.createDataFrame(
        [
            (6, " ".join(eval_words)),   # md5('6')[:2] < '1a' -> eval side
            (0, " ".join(edited)),       # train: near-dup of the eval doc
            (1, " ".join(quoting)),      # train: phrase overlap only
            (2, " ".join(f"v{i}" for i in range(35))),  # train: unrelated
        ],
        ["doc_id", "text"],
    )
    rows = _fuzzy_decon_arm(docs).collect()
    flagged = {r["doc_id"]: r for r in rows}
    assert set(flagged) == {0}
    assert flagged[0]["n_shared_ngrams"] == 35  # common 3-gram shingles
    assert flagged[0]["n_eval_docs"] == 1 and flagged[0]["n_pairs"] >= 1
