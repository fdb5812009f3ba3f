"""Scale-up stress: 10× corpus (50k docs) with pathological duplicate
skew through the sketch dedup operators — verifies the LSH recall
contract holds under skew and that pair generation stays proportional to
true collisions (no |docs|² blowup)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentinela_py_spark.operators.dedup import (
    N_BANDS,
    minhash_candidate_pairs,
    minhash_signatures,
    simhash32,
)
from sentinela_py_spark.tables import load_table

SF = "/root/testdata/sf0.01"  # 500 docs × 10 reps = 5k docs in CI time
REPS = 10


# The whole module is stress/scale pricing — heavyweight by design
# (r15 suite-time split): corpus-scale streams and recall sweeps. The
# functional contracts these stress live in the default-tier suites.
pytestmark = pytest.mark.slow

@pytest.fixture(scope="module")
def skewed_corpus(spark):
    d = load_table(spark, SF, "documents")
    reps = spark.range(REPS).select(F.col("id").alias("rep"))
    return d.crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") * REPS + F.col("rep")).alias("doc_id"), "text"
    )


def test_lsh_full_recall_on_exact_dup_groups(spark, skewed_corpus):
    """Identical docs have identical signatures, so every intra-group pair
    must surface with ALL bands shared — LSH recall is 100% on exact dups
    regardless of skew."""
    n_docs = skewed_corpus.count()
    n_groups = n_docs // REPS
    pairs = minhash_candidate_pairs(skewed_corpus)
    full_band = pairs.filter(F.col("n_shared_bands") == N_BANDS)
    group = lambda c: (F.col(c) / REPS).cast("long")  # noqa: E731
    intra = full_band.filter(group("doc_a") == group("doc_b"))
    expected_intra = n_groups * (REPS * (REPS - 1) // 2)
    assert intra.count() == expected_intra


def test_short_docs_survive_shingling(spark, tmp_path):
    """Docs with 0/1/2 whitespace tokens have no 3-shingles. A naive
    sequence(1, size-2) yields the DESCENDING [1, 0] for them, and under
    ANSI mode element_at(words, 0) throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    — regression for the guarded empty-index path (minhash + n-gram
    Jaccard both shingle)."""
    rows = [
        (1, ""),
        (2, "one"),
        (3, "two tokens"),
        (4, "three token doc"),
        (5, "a b c d e"),
        (6, "a b c d e"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(d)
    assert sigs.count() == 3  # only the >=3-token docs have shingles
    pairs = minhash_candidate_pairs(d)
    assert pairs.filter((F.col("doc_a") == 5) & (F.col("doc_b") == 6)).count() == 1

    # the registered n-gram Jaccard query shares the guard; run it over a
    # parquet twin of the same corpus
    from sentinela_py_spark.plans.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    d.withColumn("n_chars", F.length("text")).write.parquet(str(tmp_path / "documents.parquet"))
    jac = QUERIES["q_ngram_jaccard_pairs"].spark(spark, str(tmp_path))
    assert jac.filter((F.col("doc_a") == 5) & (F.col("doc_b") == 6)).count() == 1


def test_simhash_identical_docs_identical_sigs(spark, skewed_corpus):
    sigs = simhash32(skewed_corpus)
    # every 10-copy group collapses to ONE distinct signature
    n_distinct_per_group = (
        sigs.groupBy((F.col("doc_id") / REPS).cast("long").alias("g"))
        .agg(F.countDistinct("simhash").alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    assert n_distinct_per_group == 1


def test_embedding_neardup_lsh_recall(spark):
    """The registered LSH-bucketed near-dup vs the exact O(n²) twin at
    sf0.01: every LSH pair must appear in the exact result with the same
    score (precision 1.0 — candidates are scored with true cosine), exact
    duplicates must ALWAYS collide (identical vectors share every bucket
    bit → recall 1.0 on true dups), and overall recall on the near-dup set
    must clear the multi-probe collision bound."""
    from sentinela_py_spark.plans.registry import QUERIES, _ensure_loaded
    from sentinela_py_spark.plans.simops import exact_neardup_pairs
    from sentinela_py_spark.tables import load_table

    _ensure_loaded()
    lsh = {
        (r.vec_a, r.vec_b): r.cos_sim_r
        for r in QUERIES["q_embedding_neardup"]
        .spark(spark, SF)
        .filter(F.col("method") == "all_pairs")  # corpus_probe arm is not a pair set
        .collect()
    }
    exact = {
        (r.vec_a, r.vec_b): r.cos_sim_r
        for r in exact_neardup_pairs(load_table(spark, SF, "embeddings")).collect()
    }
    assert set(lsh) <= set(exact)  # precision 1.0
    assert all(exact[k] == v for k, v in lsh.items())
    assert len(lsh) >= 0.4 * len(exact)  # multi-probe Hamming<=1 @ cos>=0.4

    # exact duplicates: identical vectors share every sign bit -> found always
    e = load_table(spark, SF, "embeddings").limit(20)
    dup = e.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label")
    from sentinela_py_spark.plans.simops import PROBE_XORS, l2_norm_sq, lsh_bucket

    both = e.unionByName(dup)
    bucketed = both.select(
        "vec_id", "embedding", lsh_bucket(F.col("embedding")).alias("bucket"),
        F.sqrt(l2_norm_sq(F.col("embedding"))).alias("norm"),
    )
    a = bucketed.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"),
        F.col("norm").alias("na"), F.col("bucket").alias("bucket_a"),
    )
    b = bucketed.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"),
        F.col("norm").alias("nb"),
        F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(x)) for x in PROBE_XORS])).alias("probe"),
    )
    cand = a.join(b, (F.col("bucket_a") == F.col("probe")) & (F.col("vec_a") < F.col("vec_b")))
    found = cand.filter(F.col("vec_b") - F.col("vec_a") == 1_000_000).count()
    assert found == 20  # all 20 planted exact dups collide


def test_scaled_lsh_configs_hold_recall_contract(spark):
    """The LSH plane/band counts are constructor parameters (the registry
    defaults are demo constants — see the occupancy math at
    simops.N_PLANES / dedup.N_HASHES). Run a production-shaped config on
    each sketch and assert the recall CONTRACT:

    - 8 planes → 256 buckets: precision stays 1.0 (true cosine on
      survivors), identical vectors still ALWAYS collide (all sign bits
      equal), and recall on the cos≥0.4 set clears the multi-probe
      collision floor (measured 0.15 on the deterministic planes; the
      Hamming≤1 law gives ~0.14 at cos=0.4 — scaled deployments buy the
      recall back with more probes or OR-ed tables, which is the
      documented trade).
    - 32 hashes / 8 bands MinHash: planted exact dups share all 8 bands.
    """
    from sentinela_py_spark.plans.simops import (
        embedding_neardup_pairs,
        exact_neardup_pairs,
        make_planes,
    )

    e = load_table(spark, SF, "embeddings")
    planes8 = make_planes(8)
    got = {
        (r.vec_a, r.vec_b): r.cos_sim_r
        for r in embedding_neardup_pairs(e, planes8).collect()
    }
    exact = {
        (r.vec_a, r.vec_b): r.cos_sim_r for r in exact_neardup_pairs(e).collect()
    }
    assert set(got) <= set(exact)  # precision 1.0 at any plane count
    assert all(exact[k] == v for k, v in got.items())
    assert len(got) / len(exact) >= 0.10  # multi-probe floor at 256 buckets

    # identical vectors agree on every sign bit -> same bucket always
    planted = e.limit(20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    pairs = embedding_neardup_pairs(e.unionByName(planted), planes8, threshold=0.999)
    found = pairs.filter(F.col("vec_b") - F.col("vec_a") == 1_000_000).count()
    assert found == 20

    # MinHash at 32 hashes / 8 bands: identical docs -> identical
    # signatures -> all 8 bands shared
    d = load_table(spark, SF, "documents").limit(50).select("doc_id", "text")
    dup = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    mp = minhash_candidate_pairs(
        d.unionByName(dup), n_hashes=32, n_bands=8
    ).filter(F.col("doc_b") - F.col("doc_a") == 1_000_000)
    rows = mp.collect()
    assert len(rows) == 50
    assert all(r["n_shared_bands"] == 8 for r in rows)


def test_connected_components_collapse_dup_groups(spark, skewed_corpus):
    """Pairs → groups at 10×: every 10-copy group must land in ONE
    component (identical docs share all bands, so the pair edges always
    connect them; LSH false-positive edges may merge groups but can never
    split one). Also bounds the sweep count implicitly — the operator's
    20-sweep cap would throw off the label sums if propagation stalled."""
    from sentinela_py_spark.operators.dedup import connected_components

    edges = minhash_candidate_pairs(skewed_corpus).select("doc_a", "doc_b")
    comp = connected_components(skewed_corpus, edges)
    max_labels_per_group = (
        comp.groupBy((F.col("doc_id") / REPS).cast("long").alias("g"))
        .agg(F.countDistinct("group_id").alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    assert max_labels_per_group == 1


def test_incremental_dedup_stream_at_corpus_scale(spark, tmp_path):
    """Streaming dedup-at-ingest over 3 micro-batches of 500 docs each:
    batch 1 seeds the corpus, batch 2 is entirely near-dup of batch 1
    (every doc rejected vs the band index), batch 3 is fresh. Verifies
    the band store answers cross-corpus rejection at corpus scale and
    that acceptance stays exact under batch ordering. One screen call
    per batch, epochs 0, 1, 2."""
    import os

    from sentinela_py_spark.streaming.pipeline import dedup_batch_against_corpus

    d = load_table(spark, SF, "documents").select("doc_id", "text").collect()

    base = [(r["doc_id"], r["text"]) for r in d]                      # 500 docs
    dupes = [(r["doc_id"] + 10_000, r["text"]) for r in d]            # all dups
    fresh = [(r["doc_id"] + 20_000, r["text"] + f" tail{r['doc_id']} unique suffix marker")
             for r in d]
    for epoch, rows in enumerate((base, dupes, fresh)):
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        dedup_batch_against_corpus(batch, epoch, str(tmp_path / "state"))

    accepted = spark.read.parquet(os.path.join(str(tmp_path / "state"), "accepted"))
    rejected = spark.read.parquet(os.path.join(str(tmp_path / "state"), "rejected"))
    acc_ids = set(r["doc_id"] for r in accepted.select("doc_id").collect())
    # batch 1: acceptance equals the batch rule exactly — the corpus has
    # genuine near-dups, and every candidate-pair doc_b must be gone
    batch1 = spark.createDataFrame(base, "doc_id long, text string")
    in_batch_rejects = set(
        r["doc_b"] for r in minhash_candidate_pairs(batch1).select("doc_b").collect()
    )
    assert acc_ids & set(i for i, _ in base) == set(i for i, _ in base) - in_batch_rejects
    # batch 2 is an exact copy of batch 1: every doc rejected vs corpus
    # (its twin, or its twin's survivor, is in the band store)
    assert not any(10_000 <= i < 20_000 for i in acc_ids)
    rej = {r["doc_id"]: r["reason"] for r in rejected.collect()}
    assert all(rej[i + 10_000] == "vs_corpus" for i, _ in base)
    # batch 3 docs are near-identical too (one appended token) -> LSH
    # flags them vs corpus as well; the store only ever holds survivors
    bands = spark.read.parquet(os.path.join(str(tmp_path / "state"), "bands"))
    assert set(r["doc_id"] for r in bands.select("doc_id").distinct().collect()) == acc_ids


def test_embedding_dedup_stream_at_corpus_scale(spark, tmp_path):
    """Embedding twin of test_incremental_dedup_stream_at_corpus_scale
    (the r4 VERDICT's missing scale evidence for the second ingest
    screen): 3 micro-batches over a growing bucket-keyed index at sf0.1
    scale, the hot-bucket cap ENGAGED by a near-identical template flood
    (exact copies would collapse in step 1 — the flood must be perturbed
    to stress the cap), and candidate-generation recall MEASURED on
    planted near-dups instead of assumed."""
    import hashlib
    import os

    from sentinela_py_spark.streaming.pipeline import (
        embedding_dedup_batch_against_corpus,
    )

    cap = 256  # above every organic bucket (~125 of 2 000 base vectors
    # per 16 buckets), far below the 725-row flood bucket — only the
    # flood truncates, so the recall measurement below is cap-clean
    dim = 64
    base = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in load_table(spark, "/root/testdata/sf0.1", "embeddings").collect()
    ]  # 2 000 corpus vectors

    def noise(i: int, j: int, scale: float) -> float:
        b = hashlib.md5(f"estream-{i}-{j}".encode()).digest()
        return (int.from_bytes(b[:4], "big") / 2**32 - 0.5) * 2 * scale

    # batch 1: corpus + a 600-copy NEAR-identical template flood (tiny
    # perturbation: same LSH bucket, cosine ~1) — the flood bucket holds
    # ~725 rows (600 flood + its share of base) >> cap=256, so the
    # within-batch self-join cap must engage and audit
    template = [1.0] + [0.0] * (dim - 1)
    flood = [
        (50_000 + i, [template[j] + noise(i, j, 1e-4) for j in range(dim)])
        for i in range(600)
    ]
    # batch 2: planted near-dups — every corpus vector, perturbed enough
    # to be a DIFFERENT vector but far above the 0.9 threshold
    planted = [
        (vid + 10_000, [x + noise(vid, j, 0.02) for j, x in enumerate(emb)])
        for vid, emb in base
    ]
    # batch 3: fresh one-hot directions — orthogonal to everything
    fresh = []
    for i in range(40, 60):
        e = [0.0] * dim
        e[i % dim] = 1.0
        fresh.append((70_000 + i, e))

    state = str(tmp_path / "state")
    for epoch, rows in enumerate((base + flood, planted, fresh)):
        batch = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        embedding_dedup_batch_against_corpus(
            batch, epoch, state, threshold=0.9, max_bucket_size=cap
        )
    accepted = {r["vec_id"] for r in spark.read.parquet(os.path.join(state, "accepted")).collect()}
    rejected = {
        r["vec_id"]: r["reason"]
        for r in spark.read.parquet(os.path.join(state, "rejected")).collect()
    }
    # the cap's DOCUMENTED trade, observed end to end: the ~cap-row
    # deterministic sample of the flood bucket is screened (those rows
    # collapse to a survivor + within_batch rejects), the truncated rest
    # skip the screen for this batch, and the overflow audit reports the
    # truncation — never silent
    flood_ids = {i for i, _ in flood}
    rejected_flood = flood_ids & set(rejected)
    assert len(rejected_flood) >= 150  # ≈ flood's share of the kept sample
    assert len(accepted & flood_ids) <= len(flood_ids) - len(rejected_flood)
    overflow = spark.read.parquet(os.path.join(state, "overflow"))
    sides = {r["side"] for r in overflow.select("side").distinct().collect()}
    assert "within_batch" in sides and sides <= {"within_batch", "store", "batch"}
    assert overflow.agg(F.max("n_dropped")).first()[0] >= 400  # the flood bucket
    # measured candidate-generation recall on the planted near-dups: each
    # probes the index holding its base twin; multi-probe LSH at this
    # threshold must surface >= 0.9 of them (precision is 1.0 — cosine
    # confirms), EXCLUDING planted rows whose bucket the cap truncated
    planted_ids = {i for i, _ in planted}
    caught = {i for i in planted_ids if rejected.get(i) in ("vs_corpus", "within_batch")}
    assert len(caught) / len(planted_ids) >= 0.9
    # fresh directions are orthogonal to the corpus: none rejected vs it
    fresh_ids = {i for i, _ in fresh}
    assert len(accepted & fresh_ids) >= len(fresh_ids) // 2


def test_ivf_adc_search_at_10x_scale(spark):
    """The ADC search path at 10× the bench corpus (20k 64-dim vectors,
    clustered): codes-only encode + lookup-table coarse + exact refine
    must reproduce the in-cell exact top-5 EXACTLY when coarse_k spans
    the largest cell (the ADC coarse stage can then never evict an
    in-cell winner — the same construction test_ivf_pq_matches_in_cell
    _search pins at 1× for the reconstruct path). Both legs scale with
    cell occupancy, not corpus²: the coarse pass touches 24 lookups per
    candidate, the refine only the coarse_k survivors."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W

    from sentinela_py_spark.functions.vectors import ivf_pq_adc_topk
    from sentinela_py_spark.plans.simops import assign_cells_literal, cosine

    rng = np.random.RandomState(11)
    n, dim, n_clusters = 20_000, 64, 12
    centers = rng.normal(size=(n_clusters, dim)) * 2.0
    vecs = centers[np.arange(n) % n_clusters] + rng.normal(size=(n, dim))
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": [list(map(float, v)) for v in vecs]}
    )
    e = spark.createDataFrame(pdf).repartition(32)

    # frozen codebook: first-8 cents, first-16 codeword slices (quality
    # is irrelevant — the equality below holds under ANY codebook)
    first = [list(map(float, v)) for v in vecs[:16]]
    cents = [(i, first[i]) for i in range(8)]
    books = [[v[mi * 8 : (mi + 1) * 8] for v in first] for mi in range(8)]

    # encode through the maintenance batch path (codes-only store shape)
    assigned = assign_cells_literal(e, cents)
    from sentinela_py_spark.functions.litutil import fast_lit
    from sentinela_py_spark.functions.kmeans import pq_stitch_codewords
    from sentinela_py_spark.functions.vectors import pq_residual_codes

    seed_vecs = fast_lit(pq_stitch_codewords(books), 2)
    cent_lit = fast_lit([v for _, v in sorted(cents)], 2)
    store = assigned.select(
        "vec_id",
        "embedding",
        "cell_id",
        pq_residual_codes(
            F.col("embedding"),
            F.element_at(cent_lit, (F.col("cell_id") + 1).cast("int")),
            seed_vecs,
            8,
            64,
        ).alias("codes"),
    ).localCheckpoint(eager=True)

    max_cell = store.groupBy("cell_id").count().agg(F.max("count")).collect()[0][0]
    got = {
        (r["query_id"], r["rnk"], r["vec_id"])
        for r in ivf_pq_adc_topk(
            store,
            store,
            e.filter(F.col("vec_id") < 3),
            cents,
            books,
            k=5,
            coarse_k=int(max_cell),
        ).collect()
    }

    qs = assigned.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"), "cell_id"
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    want = {
        (r["query_id"], r["rnk"], r["vec_id"])
        for r in assigned.join(F.broadcast(qs), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", F.round(cosine(F.col("embedding"), F.col("qvec")), 6))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .collect()
    }
    assert got == want


def test_dsir_selection_at_50k_docs(spark):
    """DSIR at 50k docs: the hashed-bag weight computation and the
    Gumbel top-k stay distributed (no driver loop, no global sort) and
    the selection SKEWS toward the target distribution — target-mode
    docs are ~5% of the corpus but the vast majority of the draw. Also
    pins partitioning invariance at scale (the decimal fold + TakeOrdered
    promise)."""
    from pyspark.sql import functions as F

    from sentinela_py_spark.operators.sampling import dsir_log_weights, gumbel_topk

    n = 50_000
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 20 == 0).alias("is_t"),  # 2.5k target docs
    )
    # target docs draw from a disjoint formal vocabulary; raw docs from a
    # 200-word web vocabulary — deterministic, no Python row building
    word = lambda tag, j: F.concat(F.lit(tag), ((F.col("doc_id") + j) % 200).cast("string"))  # noqa: E731
    text_t = F.concat_ws(" ", *[word("formal", j) for j in range(12)])
    text_r = F.concat_ws(" ", *[word("web", j) for j in range(12)])
    docs = base.select(
        "doc_id", "is_t", F.when(F.col("is_t"), text_t).otherwise(text_r).alias("text")
    )
    w = dsir_log_weights(docs, F.col("is_t"))
    assert w.count() == n
    sel = gumbel_topk(w, 1000)
    picked = {r["doc_id"] for r in sel.collect()}
    assert len(picked) == 1000
    target_frac = sum(1 for i in picked if i % 20 == 0) / 1000
    assert target_frac > 0.9  # 2.5k/50k corpus share -> the draw is ~all target
    # partitioning invariance at scale
    again = {r["doc_id"] for r in gumbel_topk(
        dsir_log_weights(docs.repartition(7), F.col("is_t")), 1000).collect()}
    assert again == picked


def test_fuzzy_decon_flags_planted_contamination_at_scale(spark):
    """Fuzzy decontamination end-to-end at corpus scale: every eval doc
    gets a lightly-edited train-side copy planted (one word changed —
    the contamination exact n-gram screens under-detect), and the fuzzy
    arm must flag every planted copy long enough for a one-word edit to
    stay above the 0.8 Jaccard bar. Work stays ∝ band collisions — the
    probe is the recall check AND the no-blowup check in one pass."""
    import hashlib

    from sentinela_py_spark.plans.textops import _fuzzy_decon_arm

    d = load_table(spark, SF, "documents")
    rows = d.select("doc_id", "text").collect()
    is_eval = lambda i: hashlib.md5(str(i).encode()).hexdigest()[:2] < "1a"  # noqa: E731

    def edited(text: str) -> str:
        w = text.split()
        w[len(w) // 2] = "PLANTEDEDIT"
        return " ".join(w)

    planted, nxt = [], 1_000_000
    for r in rows:
        if is_eval(r["doc_id"]):
            while is_eval(nxt):  # planted copies must land train-side
                nxt += 1
            planted.append((nxt, edited(r["text"]), len(r["text"].split())))
            nxt += 1
    assert len(planted) >= 30  # the md5 split yields ~10% eval docs
    corpus = d.select("doc_id", "text").unionByName(
        spark.createDataFrame([(i, t) for i, t, _ in planted], ["doc_id", "text"])
    )
    flagged = {r["doc_id"] for r in _fuzzy_decon_arm(corpus).collect()}
    # one word changed kills <= 3 of (n-2) shingles: jaccard >= 0.8 needs
    # roughly n >= 30 tokens; every such planted copy must be flagged
    long_planted = {i for i, _, n in planted if n >= 30}
    assert long_planted and long_planted <= flagged


def test_intra_repeat_guard_bounds_degenerate_flood(spark):
    """Degenerate-doc flood through the within-doc repeat operator: 200
    spam docs of ONE token repeated 2000 times each ride along with the
    10x corpus. Uncapped, each doc's (doc, gram) bucket would join into
    ~2M pairs (400M rows total); the occurrence guard bounds every
    bucket at 64 so the whole sweep stays collision-proportional — and
    every flooded bucket is named in the audit."""
    from pyspark.sql import functions as F

    from sentinela_py_spark.operators.dedup import intra_doc_repeat_spans

    d = load_table(spark, SF, "documents").select("doc_id", "text")
    spam = spark.range(200).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.lit(" ".join(["buy"] * 2000)).alias("text"),
    )
    spans, audit = intra_doc_repeat_spans(d.unionByName(spam), k=3, min_span_words=3)
    n_audit = audit.count()
    # every spam doc floods exactly one gram ("buy buy buy")
    assert n_audit == 200
    arows = audit.limit(5).collect()
    assert all(r["occurrences"] == 1998 for r in arows)
    # spans exist for the spam docs but only among the first 64
    # occurrences — bounded, not quadratic in the flood length
    spam_spans = spans.filter(F.col("doc_id") >= 10_000_000)
    assert spam_spans.filter(F.col("b_start") > 66).count() == 0
    assert spam_spans.count() > 0
