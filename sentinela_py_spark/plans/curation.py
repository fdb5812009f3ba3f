"""Training-data curation queries: dedup groups, deterministic sampling,
shard assignment, and stratified quality selection over `documents`.

These close the loop from DETECTION (the pair/sketch queries in
dedupops/textops) to ACTION: which rows survive, which split they land in,
and which make the curated training corpus. All randomness is md5-derived
so every query is deterministic and DuckDB-oracle-checkable: Spark's
``conv(substr(md5(x),..),16,10)`` and DuckDB's ``('0x'||substr(md5(x),..))
::BIGINT`` parse the same digest prefix to the same int64.

Reference parity: the reference's only "sampling" is batch-size paging
(sentinela/services/publications/jobs/city_extraction_job.py:119-131);
hash-split sampling / sharding / curation are the training-data superset
required at 100 TB, where a coin-flip ``rand()`` sample is neither
reproducible nor resumable and an ORDER BY shuffle of the corpus is a
full sort. Hash-based assignment is stateless, idempotent, and prunable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sentinela_py_spark.barrier import barrier, barrier_eager

from sentinela_py_spark.functions.text_stats import (
    LANG_STOPWORDS,
    quality_score,
    stopword_count,
)
from sentinela_py_spark.operators.dedup import (
    DEFAULT_MAX_GRAM_OCCURRENCES,
    connected_components,
    minhash_candidate_pairs,
)
from sentinela_py_spark.operators.sampling import (
    DSIR_BUCKETS,
    md5_uniform_sql,
    mixture_sample,
    temperature_rates,
)
from sentinela_py_spark.plans.dedupops import _band_sql, _minhash_sig_sql
from sentinela_py_spark.plans.memo import memo
from sentinela_py_spark.plans.simops import SEMDEDUP_EPS_HI, semantic_retention_sql
from sentinela_py_spark.plans.textops import (
    MAX_GRAM_OCC,
    MIN_SPAN_WORDS,
    SPAN_K,
    _lang_hits_sql,
    qr_chain_sql,
    qr_model_scores,
)
from sentinela_py_spark.plans.registry import (
    method_arm as _method_arm,
    register,
    register_arms,
)
from sentinela_py_spark.tables import ensure_min_partitions, load_table


def _concurrent(*thunks):
    """Build independent query branches in parallel driver threads (guide
    §2.6 — overlap independent jobs): connected-components sweeps and
    eager checkpoints BLOCK plan construction on driver-sequential
    collect jobs, so two branches that each run such loops serialize for
    no reason when built one after the other. Spark's scheduler runs
    concurrent jobs FIFO and back-fills idle executors; results are
    DataFrames, so output values are unchanged. Returns the thunk
    results in order; exceptions propagate.

    Concurrency budget (r15, r14 "what's wrong" #4): call sites nest at
    most once (q_dedup_groups: 2 outer branches × 2 inner ε-closures =
    ≤ 4 driver threads, each blocking on Spark collects) — keep it that
    way. New call sites should size to the independent-branch count,
    never to data; with more than ~3 concurrent jobs per pool consider
    `spark.scheduler.mode=FAIR` so one branch's long stage cannot
    starve the others (FIFO back-fill is the behavior we want at ≤ 3).
    The streaming screens' store writes use their own bounded pool
    (`streaming.pipeline._DeferredWrites`), not this helper."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


_QUALITY_SQL = """
    CAST((CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 100000 THEN 0.5 ELSE 0.0 END)
    + (CASE WHEN CAST(len(list_filter(string_split(text, ' '),
         t -> t IN ('the','a','of','and','to','in','is','that','it','for'))) AS DOUBLE)
         / len(string_split(text, ' ')) BETWEEN 0.05 AND 0.6 THEN 0.5 ELSE 0.0 END) AS DOUBLE)
"""


@register(
    "q_dedup_groups",
    oracle=f"""
    WITH RECURSIVE sigs AS ({_minhash_sig_sql()}),
    bands AS ({_band_sql()}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc_id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.doc_id
    ),
    scored AS (SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents),
    labels AS (
      SELECT doc_id, MIN(label) AS group_id FROM reach GROUP BY doc_id
    ),
    surv AS (
      SELECT doc_id, group_id, quality FROM (
        SELECT l.doc_id, l.group_id, s.quality,
               ROW_NUMBER() OVER (PARTITION BY l.group_id
                                  ORDER BY s.quality DESC, l.doc_id) AS rn
        FROM labels l JOIN scored s USING (doc_id)
      ) WHERE rn = 1
    ),
    {semantic_retention_sql()},
    {semantic_retention_sql(threshold=SEMDEDUP_EPS_HI, prefix='sem2', with_base=False)},
    sem_rate AS (
      SELECT ROUND(CAST((SELECT COUNT(*) FROM sem_surv) AS DOUBLE)
                   / (SELECT COUNT(*) FROM embeddings), 6) AS retention_rate
    ),
    sem2_rate AS (
      SELECT ROUND(CAST((SELECT COUNT(*) FROM sem2_surv) AS DOUBLE)
                   / (SELECT COUNT(*) FROM embeddings), 6) AS retention_rate
    )
    SELECT 'labels' AS method, l.doc_id, l.group_id, s.quality,
           CAST(NULL AS DOUBLE) AS retention_rate
    FROM labels l JOIN scored s USING (doc_id)
    UNION ALL
    SELECT 'survivor' AS method, doc_id, group_id, quality,
           CAST(NULL AS DOUBLE) AS retention_rate
    FROM surv
    UNION ALL
    SELECT 'semantic' AS method, vec_id AS doc_id, group_id,
           centroid_sim AS quality, r.retention_rate
    FROM sem_surv CROSS JOIN sem_rate r
    UNION ALL
    SELECT 'semantic_hi' AS method, vec_id AS doc_id, group_id,
           centroid_sim AS quality, r.retention_rate
    FROM sem2_surv CROSS JOIN sem2_rate r
    ORDER BY method, doc_id
    """,
    survey_ref=(
        "dedup groups: MinHash-LSH pairs → connected components (min-label "
        "propagation) — labels arm; survivor arm = quality-aware retention "
        "(keep the best-quality member per group, the FineWeb-style policy); "
        "semantic arm = SemDeDup retention over embeddings (within-trained-"
        "k-means-cluster ε-graph components, keep the LOWEST-centroid-cosine "
        "member — plans/simops.semdedup_prune, driver-checked incl. the "
        "k-means replay and the recursive ε-closure); semantic_hi arm (r10) "
        "= the same election at ε = 0.9 (the paper's retention-vs-dedup "
        "dial; one shared pair join across the sweep) with the "
        "retention_rate audit column hash-checked on both ε arms"
    ),
    tags=("dedup", "iterative", "curation", "similarity"),
)
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUP ids plus the retention decision, three arms:

    - ``labels``: every document labelled with the min doc_id of its
      LSH-candidate connected component (singletons label themselves),
      carrying its quality score. The oracle computes the identical
      fixpoint as a recursive-CTE transitive closure.
    - ``survivor``: one row per group — the member RETAINED under a
      quality-aware policy (max quality_score, ties to the lowest id).
      Min-id survivor election is what the streaming dedup uses for
      latency; at curation time the better policy is keeping each
      cluster's best-quality copy (boilerplate-stripped originals beat
      scraped mirrors), and it is pure aggregation over the same labels —
      one extra shuffle on group_id, no second corpus pass.
    - ``semantic``: the SAME groups→retention shape over EMBEDDINGS —
      SemDeDup's election (`plans.simops.semdedup_prune`): ε-graph
      components within trained k-means cells, keep the
      LOWEST-centroid-cosine member per group (the paper's
      least-redundant-with-the-mode policy; ``quality`` carries that
      retention score). The oracle replays the k-means chain, the
      guarded-cosine assignment, the within-cell ε-pairs and the
      recursive closure bit-for-bit.
    - ``semantic_hi`` (r10): the same election at the paper's OTHER end
      of the ε dial (`SEMDEDUP_EPS_HI` = 0.9 vs the aggressive 0.4) —
      the operating knob SemDeDup actually publishes (retention rate vs
      dedup fraction, fig. 2). Both ε arms share ONE codebook, ONE
      assignment and ONE pair join (built at the loosest ε; the tighter
      arm filters it — `semdedup_prune(pairs=...)`), so the dial costs
      one extra closure + election, never a second O(cell²) join.

    Every row carries ``retention_rate`` — survivors / corpus vectors,
    the dedup-fraction audit (constant per semantic arm, NULL on the
    text arms), hash-checked against the oracle's replayed counts."""
    # ONE members frame feeds both the labels and survivor branches —
    # connected components is the iterative/expensive piece and must not
    # run twice in the headline (lazy checkpoint: two consumers). The
    # text branch and the semantic branch are independent and each runs
    # driver-blocking CC sweeps during construction — build them in
    # parallel threads (r14 optimization, guide §2.6).
    members, sem = _concurrent(
        lambda: _dg_members(load_table(spark, sf_dir, "documents")).transform(barrier),
        lambda: _semantic_arms(spark, sf_dir),
    )
    return (
        _dg_labels_from(members)
        .unionByName(_dg_survivor_from(members))
        .unionByName(sem)
        .orderBy("method", "doc_id")
    )


def _dg_members(d: DataFrame) -> DataFrame:
    """(doc_id, group_id, quality) over the ``documents`` frame ``d`` —
    CC labels joined with quality, the shared body of the labels and
    survivor arms and of the curated pool's survivor election."""
    edges = minhash_candidate_pairs(d).select("doc_a", "doc_b")
    labels = connected_components(d, edges)
    scored = d.select("doc_id", quality_score("text").cast("double").alias("quality"))
    return labels.join(scored, "doc_id")


def _dg_labels_from(members: DataFrame) -> DataFrame:
    return members.select(
        F.lit("labels").alias("method"),
        "doc_id",
        "group_id",
        "quality",
        F.lit(None).cast("double").alias("retention_rate"),
    )


def _dg_survivor_from(members: DataFrame) -> DataFrame:
    # argmax(quality, tie → min doc_id) via struct-max: max quality wins,
    # then max(-doc_id) = min doc_id — one aggregate, no window shuffle.
    best = F.max(
        F.struct(F.col("quality").alias("q"), (-F.col("doc_id")).alias("neg_id"))
    ).alias("b")
    return (
        members.groupBy("group_id")
        .agg(best)
        .select(
            (-F.col("b.neg_id")).alias("doc_id"),
            "group_id",
            F.col("b.q").alias("quality"),
        )
        .select(
            F.lit("survivor").alias("method"),
            "doc_id",
            "group_id",
            "quality",
            F.lit(None).cast("double").alias("retention_rate"),
        )
    )


# Dedicated bench arms (the checkpoint-barrier rule: the semantic branch
# hides k-means construction + checkpoints a union-filter can't prune).
def _dg_labels_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dg_labels_from(_dg_members(load_table(spark, sf_dir, "documents")))


def _dg_survivor_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dg_survivor_from(_dg_members(load_table(spark, sf_dir, "documents")))


def _semantic_eps_arm(
    spark: SparkSession,
    sf_dir: str,
    method: str,
    eps: float,
    pairs: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """One SemDeDup operating point as a tagged survivors frame, with
    the per-arm ``retention_rate`` audit (survivors / corpus vectors —
    the dedup-fraction number the paper's ε dial trades against) ridden
    onto every row via a one-row broadcast cross join. ``pairs`` /
    ``assigned`` let a sweep share the ε-independent candidate join and
    cell assignment (see `semdedup_prune`)."""
    from sentinela_py_spark.plans.simops import _trained_codebooks, semdedup_prune

    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))
    cents, _books = _trained_codebooks(e, sf_dir)
    survivors, _pruned = semdedup_prune(
        e, cents, threshold=eps, pairs=pairs, assigned=assigned
    )
    rate_row = (
        survivors.agg(F.count("*").alias("ns"))
        .crossJoin(e.agg(F.count("*").alias("nt")))
        .select(
            F.round(F.col("ns").cast("double") / F.col("nt"), 6).alias(
                "retention_rate"
            )
        )
    )
    return survivors.crossJoin(F.broadcast(rate_row)).select(
        F.lit(method).alias("method"),
        F.col("vec_id").alias("doc_id"),
        "group_id",
        F.col("centroid_sim").alias("quality"),
        "retention_rate",
    )


def _semantic_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both ε operating points over ONE shared pair join AND one shared
    cell assignment: the candidate frame is ε-independent (the threshold
    only filters it), so the sweep builds it once at the loosest ε and
    checkpoints it for both arms' closures — and the k-means assignment
    feeding both the pair join and each arm's scoring/election is
    likewise built and checkpointed ONCE (r11; previously each
    `semdedup_prune` call re-instantiated it, so the dial paid the
    map-side assignment twice despite sharing the join)."""
    from sentinela_py_spark.plans.simops import (
        NEARDUP_COS,
        _trained_codebooks,
        assign_cells_literal,
        semantic_neardup_pairs,
    )

    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))
    cents, _books = _trained_codebooks(e, sf_dir)
    # EAGER checkpoints here (the arm builders use lazy ones): the two ε
    # closures below are built in parallel threads, and both trigger
    # actions over these shared frames — materializing them once up
    # front keeps the concurrent first actions from computing the
    # assignment/pair join twice before the cache fills.
    assigned = assign_cells_literal(e, cents).transform(barrier_eager)
    pairs = semantic_neardup_pairs(
        e, cents, threshold=min(NEARDUP_COS, SEMDEDUP_EPS_HI), assigned=assigned
    ).transform(barrier_eager)
    # Each ε arm runs its own CC closure (driver-blocking sweep jobs) —
    # overlap them (r14 optimization, guide §2.6); the shared inputs are
    # already materialized so the threads contend on nothing.
    lo, hi = _concurrent(
        lambda: _semantic_eps_arm(
            spark, sf_dir, "semantic", NEARDUP_COS, pairs=pairs, assigned=assigned
        ),
        lambda: _semantic_eps_arm(
            spark,
            sf_dir,
            "semantic_hi",
            SEMDEDUP_EPS_HI,
            pairs=pairs,
            assigned=assigned,
        ),
    )
    return lo.unionByName(hi)


def _semantic_retention_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedicated bench builder: the base-ε semantic arm alone."""
    from sentinela_py_spark.plans.simops import NEARDUP_COS

    return _semantic_eps_arm(spark, sf_dir, "semantic", NEARDUP_COS)


def _semantic_hi_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedicated bench builder: the ε = SEMDEDUP_EPS_HI operating point
    alone (prices one full point of the dial, pair join included)."""
    return _semantic_eps_arm(spark, sf_dir, "semantic_hi", SEMDEDUP_EPS_HI)


register_arms(
    "q_dedup_groups",
    labels=_dg_labels_arm,
    survivor=_dg_survivor_arm,
    semantic=_semantic_retention_arm,
    semantic_hi=_semantic_hi_arm,
)


@register(
    "q_train_split",
    oracle="""
    SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 16 AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS first_doc,
           CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           MIN(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                    THEN doc_id END) AS first_sampled_doc
    FROM documents
    GROUP BY 1
    ORDER BY shard
    """,
    survey_ref=(
        "curation: hash-mod shard assignment (16-way) + per-shard balance stats + "
        "deterministic ~10% Bernoulli sample by content-key hash (per-shard membership stats)"
    ),
    tags=("curation", "sampling"),
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16-way shard assignment + held-out sampling in one
    aggregation. The shard is an md5-derived hash-mod — the same expression
    is a valid ``repartitionByRange``/partitionBy key, so the verified
    assignment IS the physical layout at 100 TB. Sample membership (first
    md5 byte of the key under 0x1a ≈ 10.2%) is decided per-row with no
    state — unlike ``df.sample()`` it is stable across runs, engines,
    partitionings and cluster sizes; the per-shard sampled counts and first
    sampled id verify the predicate on both engines."""
    d = load_table(spark, sf_dir, "documents")
    digest = F.md5(F.col("doc_id").cast("string"))
    shard = F.conv(F.substring(digest, 1, 4), 16, 10).cast("long") % 16
    sampled = F.substring(digest, 1, 2) < "1a"
    return (
        d.groupBy(shard.alias("shard"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
            F.sum(F.when(sampled, 1).otherwise(0)).cast("long").alias("n_sampled"),
            F.min(F.when(sampled, F.col("doc_id"))).alias("first_sampled_doc"),
        )
        .orderBy("shard")
    )


SEQ_TOKEN_BUDGET = 512
CURATED_BUDGET = 150  # temperature-mix target for the curated arm
MIX_ALPHA = 0.5
MIX_BUDGET = 200

# shard + packing CTE pair over any (doc_id, text) relation — shared by
# the all_docs and curated oracle arms
_SHARD_SQL = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 16"


def _packing_arm_sql(src: str, t: str) -> str:
    """toks/packed/grouped chain over relation ``src``; ``t`` prefixes
    the CTE names so both arms can coexist in one WITH list."""
    return f"""
    {t}toks AS (
      SELECT doc_id, {_SHARD_SQL} AS shard, len(string_split(text, ' ')) AS n_tokens
      FROM {src}
    ),
    {t}packed AS (
      SELECT shard, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM {t}toks
    ),
    {t}arm AS (
      SELECT shard,
             CAST(floor((cum - n_tokens) / {SEQ_TOKEN_BUDGET}.0) AS BIGINT) AS seq_id,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
             MIN(doc_id) AS first_doc,
             MAX(doc_id) AS last_doc,
             ROUND(CAST(SUM(n_tokens) AS DOUBLE) / {SEQ_TOKEN_BUDGET}, 6) AS fill_ratio
      FROM {t}packed
      GROUP BY 1, 2
    )"""


_BINFIT_SCHEMA = (
    "shard long, seq_id long, n_docs long, seq_tokens long, "
    "first_doc long, last_doc long"
)


def _binfit_bins(pdf):
    """Per-shard sequential bin-close packing (one pandas group = one
    shard): accumulate docs in doc_id order, CLOSE the bin when the next
    doc would overflow ``SEQ_TOKEN_BUDGET`` — no truncation, the doc
    moves wholly to the next sequence. Inherently sequential WITHIN a
    shard (each bin boundary depends on every earlier one), which is
    exactly why the shard is the parallelism unit; state is one
    (seq, cum) pair. A doc longer than the budget gets a bin alone
    (fill_ratio > 1 — flagged for splitting upstream, never silently
    truncated here)."""
    import pandas as pd

    pdf = pdf.sort_values("doc_id")
    bins: list[dict] = []
    seq, cum = -1, 0
    for doc_id, n in zip(pdf["doc_id"], pdf["n_tokens"]):
        n = int(n)
        if seq < 0 or cum + n > SEQ_TOKEN_BUDGET:
            seq += 1
            cum = 0
            bins.append(
                {"seq_id": seq, "n_docs": 0, "seq_tokens": 0,
                 "first_doc": int(doc_id), "last_doc": int(doc_id)}
            )
        b = bins[-1]
        b["n_docs"] += 1
        b["seq_tokens"] += n
        b["last_doc"] = int(doc_id)
        cum += n
    out = pd.DataFrame(bins)
    out["shard"] = int(pdf["shard"].iloc[0])
    return out[["shard", "seq_id", "n_docs", "seq_tokens", "first_doc", "last_doc"]]


def _binfit_packed(docs: DataFrame) -> DataFrame:
    """The ``binfit`` arm: padding-aware bin-close packing. The greedy
    cumsum packer (`_packed_sequences`) TRUNCATES boundary-straddling
    docs; this one never splits a doc, so ``fill_ratio`` ≤ 1 becomes the
    true padding-efficiency audit (1 − fill = padded waste per
    sequence) — the number a trainer actually pays for. fill_ratio is
    derived Spark-side (F.round is HALF_UP like DuckDB's ROUND; Python
    round is banker's — kept out of the pandas stage on purpose)."""
    digest = F.md5(F.col("doc_id").cast("string"))
    shard = F.conv(F.substring(digest, 1, 4), 16, 10).cast("long") % 16
    toks = docs.select(
        "doc_id",
        shard.alias("shard"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    bins = toks.groupBy("shard").applyInPandas(_binfit_bins, _BINFIT_SCHEMA)
    return bins.select(
        F.lit("binfit").alias("method"),
        "shard",
        "seq_id",
        "n_docs",
        "seq_tokens",
        "first_doc",
        "last_doc",
        F.round(F.col("seq_tokens").cast("double") / SEQ_TOKEN_BUDGET, 6).alias("fill_ratio"),
    )


# DuckDB twin of `_binfit_bins`: the bin-close recurrence as a recursive
# CTE over row_number'd docs — all shards advance one doc per recursion
# level, so depth = max docs per shard, width = shards.
_BINFIT_SQL = f"""
    btoks AS MATERIALIZED (
      SELECT doc_id, {_SHARD_SQL} AS shard, len(string_split(text, ' ')) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY {_SHARD_SQL} ORDER BY doc_id) AS rn
      FROM documents
    ),
    brec(shard, rn, doc_id, n_tokens, seq_id, cum) AS (
      SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
      FROM btoks WHERE rn = 1
      UNION ALL
      SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN r.cum + t.n_tokens > {SEQ_TOKEN_BUDGET}
                  THEN r.seq_id + 1 ELSE r.seq_id END,
             CASE WHEN r.cum + t.n_tokens > {SEQ_TOKEN_BUDGET}
                  THEN t.n_tokens ELSE r.cum + t.n_tokens END
      FROM brec r JOIN btoks t ON t.shard = r.shard AND t.rn = r.rn + 1
    ),
    barm AS (
      SELECT shard, seq_id, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
             MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
             ROUND(CAST(SUM(n_tokens) AS DOUBLE) / {SEQ_TOKEN_BUDGET}, 6) AS fill_ratio
      FROM brec GROUP BY 1, 2
    )"""


def _gram5_sql(src: str, where: str = "") -> str:
    """Per-doc word 5-grams of relation ``src`` (q_decontamination's
    exact-screen gram stream, parameterized by source)."""
    return f"""
      SELECT doc_id,
             UNNEST(list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - 4, 0)),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' '))) AS gram
      FROM {src} {where}
"""


# The span-cut stage of the curated pipeline, as DuckDB CTEs over the
# ``pool0`` relation (doc_id, lang, text): the same positioned-gram /
# diagonal-run algebra as q_ngram_jaccard_pairs' span arm — CROSS-doc
# runs (spanruns) and WITHIN-doc runs (ispanruns, the intra arm's
# algebra at the same 8-gram/12-word threshold) union their intervals —
# followed by the keep-first-occurrence cut replay (operators/dedup.
# remove_shared_spans): per doc, word positions covered by any
# [b_start, b_start + span_words) interval are removed and the survivors
# re-join with single spaces. Hub CTEs referenced more than once are
# MATERIALIZED (DuckDB inlines CTEs by default; see the kmeans chains).
_SPAN_CUT_SQL = f"""
    spang AS MATERIALIZED (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(string_split(text,' '), i, i+{SPAN_K}-1), ' ') AS gram
      FROM pool0,
           UNNEST(generate_series(1, greatest(len(string_split(text,' ')) - {SPAN_K} + 1, 0))) AS t(i)
    ),
    spanruns AS (
      SELECT doc_a, doc_b, pa - pb AS diag, pa, pb,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS run_id
      FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
        FROM spang a JOIN spang b ON a.gram = b.gram AND a.doc_id < b.doc_id
      )
    ),
    spangc AS (
      SELECT doc_id, pos, gram
      FROM (
        SELECT doc_id, pos, gram,
               ROW_NUMBER() OVER (PARTITION BY doc_id, gram ORDER BY pos) AS occ
        FROM spang
      ) WHERE occ <= {MAX_GRAM_OCC}
    ),
    ispanruns AS (
      SELECT doc_id, pb - pa AS diag, pa, pb,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_id, pb - pa ORDER BY pa) AS run_id
      FROM (
        SELECT a.doc_id, a.pos AS pa, b.pos AS pb
        FROM spangc a JOIN spangc b
          ON a.doc_id = b.doc_id AND a.gram = b.gram AND a.pos < b.pos
      )
    ),
    cutlists AS (
      SELECT doc_id, list(struct_pack(s := s, e := e)) AS cuts
      FROM (
        SELECT doc_b AS doc_id, MIN(pb) AS s, MIN(pb) + COUNT(*) + {SPAN_K} - 1 AS e
        FROM spanruns GROUP BY doc_a, doc_b, diag, run_id
        HAVING COUNT(*) + {SPAN_K} - 1 >= {MIN_SPAN_WORDS}
        UNION ALL
        SELECT doc_id, MIN(pb) AS s, MIN(pb) + COUNT(*) + {SPAN_K} - 1 AS e
        FROM ispanruns GROUP BY doc_id, diag, run_id
        HAVING COUNT(*) + {SPAN_K} - 1 >= {MIN_SPAN_WORDS}
      ) GROUP BY doc_id
    ),
    cutpool AS MATERIALIZED (
      SELECT p.doc_id, p.lang,
             CASE WHEN c.doc_id IS NULL THEN p.text ELSE
               array_to_string(
                 list_transform(
                   list_filter(
                     generate_series(1, greatest(len(string_split(p.text,' ')), 1)),
                     pp -> len(list_filter(c.cuts, ct -> pp >= ct.s AND pp < ct.e)) = 0),
                   pp -> string_split(p.text,' ')[pp]),
                 ' ')
             END AS text
      FROM pool0 p LEFT JOIN cutlists c USING (doc_id)
    )"""


# The datacard every real curation run emits: how many documents and
# tokens each stage kept. Stage order matches _curated_pool's chain.
FUNNEL_STAGES = (
    "input",
    "dedup_survivors",
    "train_pool",
    "span_cut",
    "decontaminated",
    "quality_gated",
    "mixture_sampled",
)

# The funnel stages as oracle relations, in FUNNEL_STAGES order (each is
# a CTE the curated-arm oracle already materializes — the funnel counts
# really are "one GROUP BY away" from the replayed pipeline).
_FUNNEL_RELS = (
    "documents",
    "(SELECT d.text FROM surv v JOIN documents d USING (doc_id))",
    "pool0",
    "cutpool",
    "scr",
    "pool",
    "samp",
)


def _funnel_sql() -> str:
    """DuckDB replay of `_funnel_rows`: one (stage_idx, n_docs,
    n_tokens) aggregate per stage relation — per-stage aggregates, NOT a
    GROUP BY over a union, so an empty stage still yields its (0, 0)
    row exactly as Spark's global agg does — plus the intra
    occurrence-guard audit row (stage_idx = 7): capped docs and the gram
    occurrences the cap dropped, recomputed from ``spang`` (the same
    positioned-gram stream the span stage consumes)."""
    cap = DEFAULT_MAX_GRAM_OCCURRENCES
    parts = [
        f"""SELECT CAST({i} AS BIGINT) AS stage_idx, COUNT(*) AS n_docs,
             CAST(COALESCE(SUM(len(string_split(text, ' '))), 0) AS BIGINT) AS n_tokens
          FROM {rel}"""
        for i, rel in enumerate(_FUNNEL_RELS)
    ]
    parts.append(
        f"""SELECT CAST({len(FUNNEL_STAGES)} AS BIGINT), COUNT(DISTINCT doc_id),
             CAST(COALESCE(SUM(c - {cap}), 0) AS BIGINT)
          FROM (SELECT doc_id, gram, COUNT(*) AS c FROM spang
                GROUP BY doc_id, gram HAVING COUNT(*) > {cap})"""
    )
    return "funnel AS (\n      " + "\n      UNION ALL\n      ".join(parts) + "\n    )"


@register(
    "q_sequence_packing",
    oracle=f"""
    WITH RECURSIVE
    {_packing_arm_sql('documents', 'a')},
    sigs AS ({_minhash_sig_sql()}),
    bands AS ({_band_sql()}),
    lpairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    ledges AS (
      SELECT doc_a AS src, doc_b AS dst FROM lpairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM lpairs
    ),
    reach(doc_id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, r.label FROM reach r JOIN ledges e ON e.dst = r.doc_id
    ),
    labels AS (SELECT doc_id, MIN(label) AS group_id FROM reach GROUP BY doc_id),
    scored AS (SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents),
    surv AS MATERIALIZED (
      SELECT doc_id FROM (
        SELECT l.doc_id,
               ROW_NUMBER() OVER (PARTITION BY l.group_id
                                  ORDER BY s.quality DESC, l.doc_id) AS rn
        FROM labels l JOIN scored s USING (doc_id)
      ) WHERE rn = 1
    ),
    pool0 AS MATERIALIZED (
      SELECT d.doc_id, d.lang, d.text
      FROM surv v JOIN documents d USING (doc_id)
      WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) >= '1a'
    ),
    {_SPAN_CUT_SQL},
    evalg AS (
      SELECT DISTINCT gram FROM ({_gram5_sql(
          'documents',
          "WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'")})
    ),
    flagged AS (
      SELECT DISTINCT t.doc_id
      FROM ({_gram5_sql('cutpool')}) t
      JOIN evalg e USING (gram)
    ),
    scr AS MATERIALIZED (
      SELECT c.doc_id, c.lang, c.text
      FROM cutpool c LEFT JOIN flagged f USING (doc_id)
      WHERE f.doc_id IS NULL
    ),
    {qr_chain_sql('scr', 'pq_')},
    pool AS MATERIALIZED (
      SELECT s.doc_id, s.lang, s.text
      FROM scr s JOIN pq_scores m USING (doc_id)
      WHERE m.svm_score > 0 AND ({_QUALITY_SQL}) >= 0.5
    ),
    counts AS (SELECT lang, COUNT(*) AS n FROM pool GROUP BY lang),
    tot AS (SELECT SUM(pow(n, {MIX_ALPHA})) AS total_w FROM counts),
    rates AS (
      SELECT lang, ROUND(LEAST(1.0, {CURATED_BUDGET} * pow(n, {MIX_ALPHA}) / total_w / n), 6) AS rate
      FROM counts CROSS JOIN tot
    ),
    samp AS (
      SELECT p.doc_id, p.text FROM pool p JOIN rates r USING (lang)
      WHERE {md5_uniform_sql('p.doc_id')} < r.rate
    ),
    {_packing_arm_sql('samp', 'c')},
    {_BINFIT_SQL},
    {_funnel_sql()}
    SELECT 'all_docs' AS method, shard, seq_id, n_docs, seq_tokens, first_doc, last_doc, fill_ratio
    FROM aarm
    UNION ALL
    SELECT 'binfit' AS method, shard, seq_id, n_docs, seq_tokens, first_doc, last_doc, fill_ratio
    FROM barm
    UNION ALL
    SELECT 'curated' AS method, shard, seq_id, n_docs, seq_tokens, first_doc, last_doc, fill_ratio
    FROM carm
    UNION ALL
    SELECT 'funnel' AS method, stage_idx AS shard, CAST(0 AS BIGINT) AS seq_id,
           n_docs, n_tokens AS seq_tokens,
           CAST(NULL AS BIGINT) AS first_doc, CAST(NULL AS BIGINT) AS last_doc,
           CAST(NULL AS DOUBLE) AS fill_ratio
    FROM funnel
    ORDER BY method, shard, seq_id
    """,
    survey_ref=(
        "curation: token-budget sequence packing (per-shard greedy cumulative "
        "assignment into ~fixed-token training sequences) — all_docs arm; "
        "binfit arm = padding-aware bin-close packing (never splits a doc; "
        "fill_ratio <= 1 is the padded-waste audit; sequential recurrence per "
        "shard as one pandas group, recursive-CTE oracle); "
        "curated arm = the composed END-TO-END pre-training pipeline "
        "(MinHash-LSH dedup groups → quality-aware survivor → substring-level "
        "shared-span cut → train/eval decontamination → rule + MODEL quality "
        "gate (the trained linear-SVM filter of q_quality_rules, trained on "
        "the screened pool, full descent replayed in the oracle) → "
        "temperature-mixture sampling → packing), every stage the same "
        "oracle-green component it is standalone; "
        "funnel arm (r10) = the curation-funnel DATACARD over the same "
        "memoized build (per-stage doc/token retention + the intra "
        "occurrence-guard audit row), every count oracle-replayed"
    ),
    tags=("curation", "window", "dedup", "pipeline"),
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into ~SEQ_TOKEN_BUDGET-token training sequences: within each
    md5 shard, documents are laid out in doc_id order and a running token
    cumsum assigns each document to the sequence where its segment starts
    (greedy document-level packing; a doc straddling a boundary belongs to
    the sequence it starts in — the overflow is what truncation trims).

    Scale shape: the window partitions by SHARD, never globally — 16 (or
    16k) independent cumsums, each a single-pass sorted scan of its shard.
    A global ORDER BY cumsum would serialize the corpus through one
    partition; per-shard packing is how real pipelines parallelize batch
    construction, and the shard expr doubles as the physical layout key
    (same expression as q_train_split). Per-sequence stats (doc count,
    token sum, fill ratio) are the lake's packing-efficiency audit.

    Three arms:

    - ``all_docs``: the raw corpus packed as-is;
    - ``binfit``: padding-aware bin-CLOSE packing of the same corpus
      (`_binfit_packed`) — a doc that would straddle the boundary moves
      wholly to the next sequence instead of being truncated, so
      fill_ratio ≤ 1 is the true padded-waste audit. The recurrence
      (each bin boundary depends on all earlier ones) is inherently
      sequential within a shard, so it runs as ONE pandas group per
      shard (the shard is the parallelism unit, the per-group state one
      (seq, cum) pair); the oracle replays the same recurrence as a
      recursive CTE. The two packers price the classic trade: greedy
      cumsum fills every sequence but truncates straddlers; bin-close
      wastes padding but never splits a document.
    - ``curated``: the COMPOSED end-to-end curation pipeline a real
      pre-training run executes, each stage an operator that is already
      oracle-green standalone, chained on one corpus (see below);
    - ``funnel`` (r10): the curation-funnel DATACARD of the same build —
      one row per pipeline stage carrying (shard = stage_idx, n_docs,
      seq_tokens = n_tokens) retention counts (`FUNNEL_STAGES` names the
      indices; seq_id/first_doc/last_doc/fill_ratio ride as 0/NULL — the
      packing schema hosts the fold), plus the stage_idx = 7 audit row:
      docs whose degenerate within-doc repetition hit the occurrence
      guard and how many gram occurrences the cap dropped. The frames
      are the MEMOIZED build's own stage frames (`_curated_build` —
      progressively checkpointed, so the 8 count aggregates are O(1)
      reads, never a second pipeline run), and the oracle replays every
      count from its already-materialized stage CTEs (`_funnel_sql`).

      The curated chain: MinHash-LSH pairs →
      connected components → quality-aware survivor per group
      (q_dedup_groups) → drop the held-out eval split → cut every
      passage repeated across surviving train docs OR within one of
      them down to its first
      occurrence (the Lee-et-al substring-level span stage —
      q_ngram_jaccard_pairs' span arm composed; runs BEFORE the quality
      filter so boilerplate can't inflate quality scores or token
      budgets, see `_curated_pool`) → drop every train doc sharing a
      5-gram of its CUT text with the eval split (q_decontamination's
      exact screen) → keep cut-text quality ≥ 0.5 AND model-keep (the
      q_quality_rules linear SVM trained on the screened pool's own
      rule features, svm_score > 0 — the DCLM-style classifier gate;
      the oracle replays the full descent via qr_chain_sql) →
      temperature-mixture
      sample to ~CURATED_BUDGET docs (q_mixture_sample) → pack the
      survivors. Plan shape: the stages compose as ONE DataFrame graph —
      the corpus is scanned once per stage family, every stage's join is
      on doc_id or a broadcast rate table, and the only iterative piece
      (connected components) runs over the candidate-pair edge subgraph,
      not the corpus; the span stage's joins shuffle fixed-width gram
      hashes and one row per doc-with-cuts."""
    d = load_table(spark, sf_dir, "documents")
    all_docs = _packed_sequences(d.select("doc_id", "text"), "all_docs")
    pool, stages = _curated_build(d, sf_dir)
    curated = _packed_sequences(pool, "curated")
    binfit = _binfit_packed(d.select("doc_id", "text"))
    funnel = _funnel_rows(stages).select(
        F.lit("funnel").alias("method"),
        F.col("stage_idx").alias("shard"),
        F.lit(0).cast("long").alias("seq_id"),
        "n_docs",
        F.col("n_tokens").alias("seq_tokens"),
        F.lit(None).cast("long").alias("first_doc"),
        F.lit(None).cast("long").alias("last_doc"),
        F.lit(None).cast("double").alias("fill_ratio"),
    )
    return (
        all_docs.unionByName(binfit)
        .unionByName(curated)
        .unionByName(funnel)
        .orderBy("method", "shard", "seq_id")
    )


def _curated_build(d: DataFrame, sf_dir: str) -> tuple[DataFrame, dict]:
    """The curated pool and its stage frames, built once per session and
    sf_dir. Like a real curation run, the pool is materialized once:
    dedup labels, decontamination verdicts and sample membership are
    written artifacts, not per-query recomputation. The funnel arm reads
    the stage frames of the same build, so the datacard is a byproduct of
    the run, never a second pipeline. The bench's `curated_build` arm
    prices the full un-memoized pipeline."""

    def build() -> tuple[DataFrame, dict]:
        stages: dict[str, DataFrame] = {}
        pool = _curated_pool(d, stages=stages).transform(barrier)
        return pool, stages

    return memo("curated_pool", d.sparkSession, sf_dir, build)


def _curated_build_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench arm: one full un-memoized curation pipeline run (dedup
    groups → survivor → decontaminate → quality → mixture); the returned
    frame is the curated pool itself."""
    d = load_table(spark, sf_dir, "documents")
    return _curated_pool(d)


def _packed_sequences(docs: DataFrame, method: str) -> DataFrame:
    """Per-shard greedy token packing of a (doc_id, text, ...) frame —
    the shared body of both q_sequence_packing arms."""
    digest = F.md5(F.col("doc_id").cast("string"))
    shard = F.conv(F.substring(digest, 1, 4), 16, 10).cast("long") % 16
    toks = docs.select(
        "doc_id",
        shard.alias("shard"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = W.partitionBy("shard").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    packed = toks.withColumn("cum", F.sum("n_tokens").over(w))
    seq_id = F.floor((F.col("cum") - F.col("n_tokens")) / SEQ_TOKEN_BUDGET).cast("long")
    return (
        packed.groupBy("shard", seq_id.alias("seq_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.round(F.sum("n_tokens").cast("double") / SEQ_TOKEN_BUDGET, 6).alias("fill_ratio"),
        )
        .select(F.lit(method).alias("method"), "shard", "seq_id", "n_docs",
                "seq_tokens", "first_doc", "last_doc", "fill_ratio")
    )


def _curated_pool(
    d: DataFrame, checkpoint: bool = True, stages: dict | None = None
) -> DataFrame:
    """The curated arm's document pool: dedup-survive → span-cut →
    decontaminate → rule+model quality gate → temperature-mix, all
    deterministic and oracle-checkable (see q_sequence_packing).
    Pass a dict as ``stages`` to receive every intermediate stage frame
    (q_sequence_packing's funnel arm builds the retention datacard from
    them, `_funnel_rows`).

    ``checkpoint=False`` skips the stage-4/5 boundary checkpoint so the
    WHOLE pipeline is one visible plan — the plan-census tool pins that
    graph (a checkpoint truncates lineage, which is right for execution
    and wrong for topology auditing); execution semantics are unchanged
    either way.

    Stage order rationale (Lee et al.): the substring-level shared-span
    cut runs BEFORE the quality filter and the token-budget packing, so
    a boilerplate passage repeated across documents can neither inflate
    a doc's quality verdict nor spend training-sequence budget twice —
    and before the decontamination gram screen, so the screen judges the
    text that will actually be trained on. It runs AFTER doc-level
    survivor election (over the survivors only): detecting spans across
    the full corpus would let a passage whose only other copy lives in
    an already-discarded near-dup be cut from the surviving document —
    deleting that content from the corpus entirely instead of keeping
    one copy. Eval docs are dropped before the span stage for the same
    one-directional reason: held-out text must not shape training text
    (overlap with eval is the decontamination screen's job, which drops
    the whole doc rather than cutting it)."""
    from sentinela_py_spark.functions.text_stats import word_shingles
    from sentinela_py_spark.operators.dedup import (
        intra_doc_repeat_spans,
        remove_shared_spans,
        shared_span_pairs,
    )

    digest = F.md5(F.col("doc_id").cast("string"))
    is_eval = F.substring(digest, 1, 2) < "1a"

    # When the caller wants the stage frames (the funnel datacard), each
    # corpus-shaped stage is eagerly checkpointed as it is built, so the
    # 7 funnel count-aggregates read materialized frames instead of each
    # re-executing the dedup + span-cut lineage — the pipeline still
    # executes every stage exactly once, just materialized progressively.
    # Gated on `checkpoint` so the census's full-graph pin stays intact.
    def _stage(f: DataFrame) -> DataFrame:
        return f.transform(barrier_eager) if checkpoint and stages is not None else f

    # 1. dedup groups → quality-aware survivor (q_dedup_groups algebra;
    # the election judges RAW text — the retention policy compares the
    # near-dup copies as they arrived)
    surv = _dg_survivor_from(_dg_members(d)).select("doc_id")

    # 2. the train pool: survivors minus the held-out eval split
    surv_docs = _stage(surv.join(d.select("doc_id", "lang", "text"), "doc_id"))
    pool0 = surv_docs.filter(~is_eval)

    # 3. substring-level span cut (Lee et al. — the span arm's
    # operators, composed): every passage repeated ACROSS surviving
    # train docs OR WITHIN one of them keeps its first occurrence only.
    # Both repeat families share one threshold (8-gram runs ≥ 12 words),
    # one positioned-gram stream, and one cutter — the intra spans just
    # union their (doc, start, len) intervals into the cut list.
    spans, _audit = shared_span_pairs(pool0, k=SPAN_K, min_span_words=MIN_SPAN_WORDS)
    intra_spans, iaudit = intra_doc_repeat_spans(
        pool0, k=SPAN_K, min_span_words=MIN_SPAN_WORDS
    )
    intra = intra_spans.select(F.col("doc_id").alias("doc_b"), "b_start", "span_words")
    cut = _stage(
        remove_shared_spans(
            pool0, spans.select("doc_b", "b_start", "span_words").unionByName(intra)
        )
    )

    # 4. decontamination screen (q_decontamination's exact arm) over the
    # CUT text: flag train docs sharing any 5-gram with the eval split
    eval_g = (
        d.filter(is_eval)
        .select(F.explode(F.array_distinct(word_shingles(F.col("text"), k=5))).alias("g"))
        .select(F.xxhash64("g").alias("gram"))
        .distinct()
    )
    train_g = cut.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), k=5))).alias("g"),
    ).select("doc_id", F.xxhash64("g").alias("gram"))
    flagged = train_g.join(eval_g, "gram", "left_semi").select("doc_id").distinct()

    # 5. quality gate over the CUT text (what will actually be trained
    # on — a repeated passage no longer pads the verdict): the rule
    # threshold AND the model-based filter (q_quality_rules' linear SVM,
    # trained on the SCREENED pool's own rule-feature frame — weak
    # labels from the repetition/entropy rules, scored back as a
    # literal-weight projection; `plans.textops.qr_model_scores`). The
    # eager checkpoint materializes stages 1–4 once: the model's three
    # feature arms plus the SVM_ITERS gradient scans would otherwise
    # each replay the dedup + span-cut lineage.
    screened = cut.join(flagged, "doc_id", "left_anti")
    if checkpoint:
        screened = screened.transform(barrier_eager)
    model_keep = (
        qr_model_scores(screened).filter(F.col("svm_score") > 0).select("doc_id")
    )
    pool = screened.join(model_keep, "doc_id", "left_semi").filter(
        quality_score("text").cast("double") >= 0.5
    )

    # 6. temperature-mixture sample (q_mixture_sample algebra: rates
    # rounded to 6dp BEFORE the md5-threshold membership)
    rates = temperature_rates(pool, "lang", alpha=MIX_ALPHA, budget=CURATED_BUDGET).withColumn(
        "rate", F.round("rate", 6)
    )
    sampled = mixture_sample(pool, rates, group_col="lang", key_col="doc_id")
    if stages is not None:
        stages.update(
            input=d,
            dedup_survivors=surv_docs,
            train_pool=pool0,
            span_cut=cut,
            decontaminated=screened,
            quality_gated=pool,
            mixture_sampled=sampled,
            # not a funnel stage: the intra occurrence-guard audit
            # (doc_id, gram, occurrences > cap) — the funnel's capped-
            # spam row reads it so a guarded truncation is published in
            # the datacard, never discarded (r9 verdict item #8)
            intra_audit=iaudit,
        )
    return sampled


def _funnel_rows(stages: dict[str, DataFrame]) -> DataFrame:
    """Build the (stage_idx, stage, n_docs, n_tokens) funnel frame from
    an already-threaded `_curated_pool` stages dict — q_sequence_packing's
    funnel arm, which reads the memoized stages so the bench never runs
    the pipeline twice. The final row (stage_idx = 7, ``span_cut_capped``)
    is the intra occurrence-guard AUDIT, not a retention stage: n_docs =
    docs whose degenerate repetition was truncated at the guard,
    n_tokens = gram occurrences the cap dropped — a production datacard
    reports capped spam docs instead of silently shortening them."""
    frames = []
    for i, name in enumerate(FUNNEL_STAGES):
        f = stages[name]
        frames.append(
            f.agg(
                F.count("*").alias("n_docs"),
                F.coalesce(
                    F.sum(F.size(F.split("text", " "))), F.lit(0)
                ).alias("n_tokens"),
            ).select(
                F.lit(i).cast("long").alias("stage_idx"),
                F.lit(name).alias("stage"),
                "n_docs",
                "n_tokens",
            )
        )
    cap = DEFAULT_MAX_GRAM_OCCURRENCES
    frames.append(
        stages["intra_audit"]
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.coalesce(
                F.sum(F.col("occurrences") - F.lit(cap)), F.lit(0)
            ).alias("n_tokens"),
        )
        .select(
            F.lit(len(FUNNEL_STAGES)).cast("long").alias("stage_idx"),
            F.lit("span_cut_capped").alias("stage"),
            "n_docs",
            "n_tokens",
        )
    )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("stage_idx")


register_arms(
    "q_sequence_packing",
    all_docs=_method_arm("q_sequence_packing", "all_docs"),
    binfit=_method_arm("q_sequence_packing", "binfit"),
    curated=_method_arm("q_sequence_packing", "curated"),
    funnel=_method_arm("q_sequence_packing", "funnel"),
    curated_build=_curated_build_probe,
)


# DSIR constants: hashed-n-gram bucket count and the resample size (the
# same 200-doc target as the temperature arm, so the two selection
# policies are directly comparable row-for-row in the bench).
DSIR_K = MIX_BUDGET


@register(
    "q_mixture_sample",
    oracle=f"""
    WITH counts AS (SELECT lang AS grp, COUNT(*) AS n FROM documents GROUP BY lang),
    tot AS (SELECT SUM(pow(n, {MIX_ALPHA})) AS total_w FROM counts),
    rates AS (
      SELECT grp, n,
             ROUND(LEAST(1.0, {MIX_BUDGET} * pow(n, {MIX_ALPHA}) / total_w / n), 6) AS rate
      FROM counts CROSS JOIN tot
    ),
    samp AS (
      SELECT d.lang AS grp, d.doc_id, d.n_chars
      FROM documents d JOIN rates r ON d.lang = r.grp
      WHERE {md5_uniform_sql('d.doc_id')} < r.rate
    ),
    dgrams AS (
      SELECT doc_id,
             UNNEST(list_concat(string_split(text, ' '),
               list_transform(
                 generate_series(1, greatest(len(string_split(text, ' ')) - 1, 0)),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
               ))) AS gram,
             CASE WHEN ({_QUALITY_SQL}) = 1.0 THEN 1 ELSE 0 END AS is_t
      FROM documents
    ),
    dbuck AS MATERIALIZED (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT) % {DSIR_BUCKETS} AS bucket,
             is_t
      FROM dgrams
    ),
    draw AS MATERIALIZED (
      SELECT bucket, COUNT(*) AS nq, SUM(is_t) AS nt FROM dbuck GROUP BY bucket
    ),
    dtot AS (SELECT SUM(nq) AS tq, SUM(nt) AS tt FROM draw),
    dlr AS (
      SELECT bucket,
             ROUND(LN(CAST(nt + 1 AS DOUBLE) / (tt + {DSIR_BUCKETS}))
                 - LN(CAST(nq + 1 AS DOUBLE) / (tq + {DSIR_BUCKETS})), 6) AS lr
      FROM draw CROSS JOIN dtot
    ),
    dcnt AS (SELECT doc_id, bucket, COUNT(*) AS c FROM dbuck GROUP BY doc_id, bucket),
    dlogw AS (
      SELECT doc_id,
             ROUND(CAST(SUM(CAST(c * lr AS DECIMAL(28,15))) AS DOUBLE), 6) AS log_w
      FROM dcnt JOIN dlr USING (bucket) GROUP BY doc_id
    ),
    dsel AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               ROUND(ROUND(-LN(-LN(
                 (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
                 / 4294967296.0)), 6) + log_w, 6) AS gkey
        FROM dlogw
      ) ORDER BY gkey DESC, doc_id LIMIT {DSIR_K}
    ),
    dsirs AS (
      SELECT d.lang AS grp, COUNT(*) AS n_sampled, MIN(d.doc_id) AS first_sampled_doc,
             SUM(d.n_chars) AS sampled_chars
      FROM dsel s JOIN documents d USING (doc_id) GROUP BY d.lang
    )
    SELECT 'temperature' AS method, r.grp AS lang, r.n, r.rate,
           CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
           s.first_sampled_doc,
           CAST(COALESCE(s.sampled_chars, 0) AS BIGINT) AS sampled_chars
    FROM rates r LEFT JOIN (
      SELECT grp, COUNT(*) AS n_sampled, MIN(doc_id) AS first_sampled_doc,
             SUM(n_chars) AS sampled_chars
      FROM samp GROUP BY grp
    ) s ON r.grp = s.grp
    UNION ALL
    SELECT 'dsir' AS method, c.grp AS lang, c.n,
           ROUND(CAST(COALESCE(ds.n_sampled, 0) AS DOUBLE) / c.n, 6) AS rate,
           CAST(COALESCE(ds.n_sampled, 0) AS BIGINT) AS n_sampled,
           ds.first_sampled_doc,
           CAST(COALESCE(ds.sampled_chars, 0) AS BIGINT) AS sampled_chars
    FROM counts c LEFT JOIN dsirs ds ON c.grp = ds.grp
    ORDER BY method, lang
    """,
    survey_ref=(
        "curation: data mixing/selection, two arms — temperature-mixture sampling "
        "(per-group rates ∝ n^alpha, alpha=0.5 up-weights tail languages, "
        "md5-threshold membership per row — operators/sampling.py) and DSIR "
        "importance resampling (Xie et al. 2023: hashed unigram+bigram bag models "
        "target-vs-raw, add-1 smoothed, per-doc log-likelihood-ratio weights, "
        "Gumbel top-k without replacement — dsir_log_weights/gumbel_topk)"
    ),
    tags=("curation", "sampling"),
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing/selection, per-language summary rows, two arms tagged
    by ``method``:

    - ``temperature``: group acceptance rates target MIX_BUDGET total
      rows with shares ∝ n^0.5 (the multilingual-mix up-weighting of
      tail languages), membership the same md5-threshold Bernoulli as
      q_train_split — stable across runs, engines, partitionings. Rates
      round to 6dp BEFORE the membership comparison so the
      accept/reject boundary is bit-identical on both engines. The rate
      table is one tiny aggregate broadcast into a map-only filter —
      one corpus scan at any scale.
    - ``dsir``: DSIR importance resampling (Xie et al. 2023) toward the
      high-quality slice (rule quality = 1.0 is the target
      distribution): per-doc log p̂/q̂ weights under add-1-smoothed
      hashed unigram+bigram bag models (`dsir_log_weights` — B-row
      broadcast likelihood-ratio table, decimal-summed per-doc fold),
      then DSIR_K docs drawn WITHOUT replacement by Gumbel top-k
      (`gumbel_topk` — a TakeOrdered top-k, never a global sort). Where
      the temperature arm reweights whole language groups, DSIR scores
      each document's content against the reference distribution — the
      selected set's ``rate`` column reports the realized per-language
      acceptance fraction."""
    # min-partitions guard: one ~0.5 MB parquet footer otherwise scans as
    # ONE task and the DSIR arm's md5-per-gram explode runs single-core
    # (measured 9.1 s → 2.0 s at sf0.1 from this line alone)
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    return _temperature_arm(d).unionByName(_dsir_arm(d)).orderBy("method", "lang")


def _temperature_arm(d: DataFrame) -> DataFrame:
    rates = temperature_rates(d, "lang", alpha=MIX_ALPHA, budget=MIX_BUDGET).withColumn(
        "rate", F.round("rate", 6)
    )
    samp_agg = (
        mixture_sample(d, rates, group_col="lang", key_col="doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.min("doc_id").alias("first_sampled_doc"),
            F.sum("n_chars").alias("sampled_chars"),
        )
    )
    return (
        rates.select(F.col("group").alias("lang"), "n", "rate")
        .join(samp_agg, "lang", "left")
        .select(
            F.lit("temperature").alias("method"),
            "lang",
            "n",
            "rate",
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
            "first_sampled_doc",
            F.coalesce("sampled_chars", F.lit(0)).cast("long").alias("sampled_chars"),
        )
    )


def _dsir_arm(d: DataFrame) -> DataFrame:
    from sentinela_py_spark.functions.text_stats import quality_score
    from sentinela_py_spark.operators.sampling import dsir_log_weights, gumbel_topk

    logw = dsir_log_weights(d, quality_score("text").cast("double") == 1.0)
    sel = gumbel_topk(logw, DSIR_K)
    dsir_agg = (
        sel.join(d.select("doc_id", "lang", "n_chars"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.min("doc_id").alias("first_sampled_doc"),
            F.sum("n_chars").alias("sampled_chars"),
        )
    )
    counts = d.groupBy("lang").agg(F.count("*").alias("n"))
    return counts.join(dsir_agg, "lang", "left").select(
        F.lit("dsir").alias("method"),
        "lang",
        "n",
        F.round(
            F.coalesce("n_sampled", F.lit(0)).cast("double") / F.col("n"), 6
        ).alias("rate"),
        F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
        "first_sampled_doc",
        F.coalesce("sampled_chars", F.lit(0)).cast("long").alias("sampled_chars"),
    )


def _dsir_fast_arm(d: DataFrame) -> DataFrame:
    """The deployment-hash DSIR weights (`gram_hash="xxhash64"` — no md5
    hex string per gram), same selection algebra. Bench-only (the
    registered arm stays md5 so DuckDB replays the buckets bit-for-bit);
    the row prices exactly the gram-hash swap, and the top-k agreement
    with the md5 path is pinned in tests/test_sampling.py."""
    from sentinela_py_spark.functions.text_stats import quality_score
    from sentinela_py_spark.operators.sampling import dsir_log_weights, gumbel_topk

    logw = dsir_log_weights(
        d, quality_score("text").cast("double") == 1.0, gram_hash="xxhash64"
    )
    sel = gumbel_topk(logw, DSIR_K)
    return sel.join(d.select("doc_id", "lang", "n_chars"), "doc_id").groupBy(
        "lang"
    ).agg(
        F.count("*").alias("n_sampled"),
        F.min("doc_id").alias("first_sampled_doc"),
        F.sum("n_chars").alias("sampled_chars"),
    )


def _mixture_arm(builder):
    """Dedicated per-arm bench builders (NOT a union-filter of the
    registered query — the filtered-union form charges every arm the
    whole union's expression-build cost; r5 lesson, see bench header)."""

    def arm(spark: SparkSession, sf_dir: str) -> DataFrame:
        return builder(ensure_min_partitions(load_table(spark, sf_dir, "documents")))

    return arm


register_arms(
    "q_mixture_sample",
    temperature=_mixture_arm(_temperature_arm),
    dsir=_mixture_arm(_dsir_arm),
    dsir_fast=_mixture_arm(_dsir_fast_arm),
)


# Retention-policy constants for q_curated_corpus' three selection arms.
# DOMAIN_CAP: the C4/RefinedWeb anti-domination quota — no source may
# contribute more than this many docs. TOKEN_SELECT_BUDGET: the
# budget-constrained data-selection target (DCLM-style pool → budget);
# MIN_SELECT_DOC_TOKENS floors the docs the selector considers, which
# also BOUNDS the safe per-shard pre-prune: at most
# budget // min_tokens docs can ever be selected, so keeping each
# shard's top-(budget // min_tokens) by the selection order provably
# loses nothing — the global ordered cumsum then runs over ≤ 16·K rows
# REGARDLESS of corpus size (the two-phase shape that keeps a global
# window off the full corpus at 100 TB).
DOMAIN_CAP = 10
TOKEN_SELECT_BUDGET = 5000
MIN_SELECT_DOC_TOKENS = 20
_SELECT_PRUNE_K = TOKEN_SELECT_BUDGET // MIN_SELECT_DOC_TOKENS  # = 250


@register(
    "q_curated_corpus",
    oracle=f"""
    WITH hits AS (
      SELECT doc_id,
             {_lang_hits_sql('en')} AS hits_en,
             {_lang_hits_sql('es')} AS hits_es,
             {_lang_hits_sql('fr')} AS hits_fr,
             {_lang_hits_sql('de')} AS hits_de,
             {_lang_hits_sql('pt')} AS hits_pt,
             {_QUALITY_SQL} AS quality
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             CASE GREATEST(hits_en, hits_es, hits_fr, hits_de, hits_pt)
               WHEN 0 THEN 'und'
               WHEN hits_en THEN 'en'
               WHEN hits_es THEN 'es'
               WHEN hits_fr THEN 'fr'
               WHEN hits_de THEN 'de'
               ELSE 'pt' END AS lang_guess,
             quality
      FROM hits
    ),
    lang_top AS (
      SELECT doc_id, lang_guess AS stratum, quality, rnk
      FROM (
        SELECT doc_id, lang_guess, quality,
               ROW_NUMBER() OVER (PARTITION BY lang_guess
                                  ORDER BY quality DESC, doc_id) AS rnk
        FROM scored
      )
      WHERE rnk <= 25
    ),
    dom AS (
      SELECT d.doc_id, d.source AS stratum, s.quality,
             ROW_NUMBER() OVER (PARTITION BY d.source
                                ORDER BY s.quality DESC, d.doc_id) AS rnk
      FROM documents d JOIN scored s USING (doc_id)
    ),
    btoks0 AS (
      SELECT d.doc_id, s.quality, len(string_split(d.text, ' ')) AS n_tokens,
             {_SHARD_SQL.replace('doc_id', 'd.doc_id')} AS shard
      FROM documents d JOIN scored s USING (doc_id)
      WHERE len(string_split(d.text, ' ')) >= {MIN_SELECT_DOC_TOKENS}
    ),
    bpruned AS (
      SELECT doc_id, quality, n_tokens FROM (
        SELECT doc_id, quality, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY shard
                                  ORDER BY quality DESC, doc_id) AS srnk
        FROM btoks0
      ) WHERE srnk <= {_SELECT_PRUNE_K}
    ),
    budget AS (
      SELECT doc_id, 'all' AS stratum, quality, rnk FROM (
        SELECT doc_id, quality,
               ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) AS rnk,
               SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM bpruned
      ) WHERE cum <= {TOKEN_SELECT_BUDGET}
    )
    SELECT 'lang_top' AS method, stratum, doc_id, quality, rnk FROM lang_top
    UNION ALL
    SELECT 'domain_cap' AS method, stratum, doc_id, quality, rnk
    FROM dom WHERE rnk <= {DOMAIN_CAP}
    UNION ALL
    SELECT 'token_budget' AS method, stratum, doc_id, quality, rnk FROM budget
    ORDER BY method, stratum, rnk
    """,
    survey_ref=(
        "curation: retention-policy selection, three arms — stratified top-k "
        "per detected language by quality (lang_id × quality × W1 window); "
        "per-DOMAIN cap (the C4/RefinedWeb anti-domination quota over source); "
        "TOKEN-BUDGET selection (quality-ranked cumsum under a token budget, "
        "two-phase: provably-lossless per-shard top-K prune bounds the global "
        "window at 16·K rows at any corpus size)"
    ),
    tags=("curation", "window"),
)
def q_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-policy selection: three ways a curation run decides WHAT
    to keep, over one scored scan, each arm tagged:

    - ``lang_top``: detect language (stopword vote), keep the top 25 per
      language by quality — stratified curation (stratum = lang_guess).
      One window shuffle on lang_guess (5-ish partitions; at 100 TB
      pre-aggregate a per-partition top-k before the window).
    - ``domain_cap``: no single domain dominates — keep at most
      ``DOMAIN_CAP`` docs per source, best-quality first (the C4/
      RefinedWeb quota; stratum = source). Window on source: uniform
      at fixture scale, and the same per-partition top-k pre-aggregation
      bounds a hot domain at corpus scale.
    - ``token_budget``: budget-constrained selection (the DCLM pool →
      budget stage): quality-ranked docs (ties to doc_id) admitted while
      the running token sum stays ≤ ``TOKEN_SELECT_BUDGET``. The global
      ordered cumsum is kept OFF the corpus by a provably-lossless
      pre-prune: only docs ≥ ``MIN_SELECT_DOC_TOKENS`` compete, so at
      most budget // min_tokens can be selected — keep exactly that many
      per shard (by the same order) first, and the global window runs
      over ≤ 16 · K rows at ANY corpus size (K = 250 here). rnk is the
      global selection rank; stratum = 'all'."""
    d = load_table(spark, sf_dir, "documents")
    hits = {lang: stopword_count("text", LANG_STOPWORDS[lang]) for lang in ("en", "es", "fr", "de", "pt")}
    best = F.greatest(*hits.values())
    guess = (
        F.when(best == 0, "und")
        .when(hits["en"] == best, "en")
        .when(hits["es"] == best, "es")
        .when(hits["fr"] == best, "fr")
        .when(hits["de"] == best, "de")
        .otherwise("pt")
    )
    scored = d.select(
        "doc_id",
        "source",
        guess.alias("lang_guess"),
        quality_score("text").alias("quality"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    sel = [F.col("quality").desc(), F.col("doc_id")]

    lang_w = W.partitionBy("lang_guess").orderBy(*sel)
    lang_top = (
        scored.withColumn("rnk", F.row_number().over(lang_w))
        .filter(F.col("rnk") <= 25)
        .select(
            F.lit("lang_top").alias("method"),
            F.col("lang_guess").alias("stratum"),
            "doc_id", "quality", "rnk",
        )
    )

    dom_w = W.partitionBy("source").orderBy(*sel)
    domain_cap = (
        scored.withColumn("rnk", F.row_number().over(dom_w))
        .filter(F.col("rnk") <= DOMAIN_CAP)
        .select(
            F.lit("domain_cap").alias("method"),
            F.col("source").alias("stratum"),
            "doc_id", "quality", "rnk",
        )
    )

    digest = F.md5(F.col("doc_id").cast("string"))
    shard = F.conv(F.substring(digest, 1, 4), 16, 10).cast("long") % 16
    shard_w = W.partitionBy("shard").orderBy(*sel)
    pruned = (
        scored.filter(F.col("n_tokens") >= MIN_SELECT_DOC_TOKENS)
        .withColumn("shard", shard)
        .withColumn("srnk", F.row_number().over(shard_w))
        .filter(F.col("srnk") <= _SELECT_PRUNE_K)
    )
    gw = W.orderBy(*sel)
    cum_w = gw.rowsBetween(W.unboundedPreceding, W.currentRow)
    token_budget = (
        pruned.withColumn("rnk", F.row_number().over(gw))
        .withColumn("cum", F.sum("n_tokens").over(cum_w))
        .filter(F.col("cum") <= TOKEN_SELECT_BUDGET)
        .select(
            F.lit("token_budget").alias("method"),
            F.lit("all").alias("stratum"),
            "doc_id", "quality", "rnk",
        )
    )
    return (
        lang_top.unionByName(domain_cap)
        .unionByName(token_budget)
        .orderBy("method", "stratum", "rnk")
    )


# Retention arms priced individually (r10, closing the r9 "no bench-arm
# rows" note): no branch carries a checkpoint, so the filtered-union
# form prices each arm's subtree correctly; all three are sub-second at
# bench scale, so the 2KB guard sheds this group FIRST if the line ever
# outgrows the window — the pricing rule stays uniform either way and
# the lang_top row feeds the bench line's `comparable` object.
register_arms(
    "q_curated_corpus",
    lang_top=_method_arm("q_curated_corpus", "lang_top"),
    domain_cap=_method_arm("q_curated_corpus", "domain_cap"),
    token_budget=_method_arm("q_curated_corpus", "token_budget"),
)
