"""Similarity search over the `embeddings` table (array<float> column).

Brute-force cosine top-k as the exact baseline; the LSH-bucketed variant
(scale path) builds on the same column expressions. All vector math is
pure Column algebra (zip_with/aggregate → whole-stage codegen), computed
as a deterministic left-to-right double fold so Spark and the DuckDB
oracle produce bit-identical sums.

Scale notes: the query side is broadcast (k query vectors × N candidates,
no shuffle on the big side); at 100 TB the LSH/IVF bucket join replaces
the cross product with an equi-join on bucket id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sentinela_py_spark.operators.scale import DEFAULT_MAX_BUCKET_SIZE
from sentinela_py_spark.plans.memo import clear_index_memos, memo, temp_tree  # noqa: F401
from sentinela_py_spark.plans.registry import (
    method_arm as _method_arm,
    register,
    register_arms,
)
from sentinela_py_spark.tables import ensure_min_partitions, load_table

N_QUERY_VECTORS = 3  # vec_id 0..2 act as the query set
TOP_K = 5

# Hard-negative mining (r10): negatives per anchor, and the false-
# negative guard — candidates at or above this cosine are treated as
# unlabeled positives and excluded from mining (the near-dup threshold;
# the literal is pinned here rather than imported so the oracle f-string
# and the Spark filter can never drift apart even if NEARDUP_COS moves).
HARD_NEG_K = 3
NEARDUP_COS_FOR_MINING = 0.4


def dot_product(a: Column, b: Column) -> Column:
    """Left-to-right double-precision fold of sum(a[i]*b[i])."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm_sq(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))


def cosine(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (F.sqrt(l2_norm_sq(a)) * F.sqrt(l2_norm_sq(b)))


# DuckDB twin of the fold above: an ordered list_sum over an index-driven
# transform reproduces the exact left-to-right double accumulation.
_DOT_SQL = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_NORMSQ_SQL = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)))"
)


@register(
    "q_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERY_VECTORS}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings WHERE vec_id >= {N_QUERY_VECTORS}),
    scored AS MATERIALIZED (
      SELECT query_id, neighbor_id,
             ROUND({_DOT_SQL.format(a='qv', b='cv')}
               / (SQRT({_NORMSQ_SQL.format(a='qv')}) * SQRT({_NORMSQ_SQL.format(a='cv')})), 6) AS cos_sim_r
      FROM q CROSS JOIN c
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim_r,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim_r DESC, neighbor_id) AS rank
      FROM scored
    ),
    hardneg AS (
      SELECT query_id, neighbor_id, cos_sim_r,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim_r DESC, neighbor_id) AS rank
      FROM scored WHERE cos_sim_r < {NEARDUP_COS_FOR_MINING}
    )
    SELECT 'topk' AS method, query_id, neighbor_id, cos_sim_r, rank
    FROM ranked WHERE rank <= {TOP_K}
    UNION ALL
    SELECT 'hard_neg' AS method, query_id, neighbor_id, cos_sim_r, rank
    FROM hardneg WHERE rank <= {HARD_NEG_K}
    ORDER BY method, query_id, rank
    """,
    survey_ref=(
        "similarity: brute-force cosine top-k ANN baseline; + hard_neg arm "
        "(r10): contrastive hard-negative MINING for embedding-model "
        "training (E5/SimCSE-style) — per anchor, the top-ranked candidates "
        "BELOW the near-dup threshold (candidates above it are unlabeled "
        "positives, the classic false-negative trap); same scored scan, "
        "one extra filtered window"
    ),
    tags=("similarity", "topk", "curation"),
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k plus contrastive hard-negative mining, two
    arms over ONE scored cross join (broadcast query side — no shuffle
    of the big side; ties broken on rounded score + neighbor id so
    ranking is deterministic across engines and partitionings):

    - ``topk``: the brute-force exact ranking (the recall baseline every
      ANN arm is judged against);
    - ``hard_neg`` (r10): the training-data op an embedding-model
      pipeline runs over the same scan — for each anchor, the
      ``HARD_NEG_K`` highest-cosine candidates STRICTLY BELOW the
      near-dup threshold (`NEARDUP_COS_FOR_MINING`). The threshold
      filter is the standard false-negative guard (E5's "mine hard
      negatives, exclude candidates so similar they are probably
      unlabeled positives" rule; SimCSE/GTE pipelines apply the same
      margin) — without it, near-duplicates of the anchor would be
      trained as negatives and collapse the embedding space. At 100 TB
      the same mining runs over the IVF/ADC candidate stream instead of
      the exact scan (the margin rule is a filter either way) — that
      deployment path IS implemented as `q_ann_ivf_topk`'s ``hardneg``
      arm (r11, `ivf_pq_adc_topk(exclude_cos_at_or_above=...)`); this
      exact-scan arm stays as its recall baseline."""
    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = e.filter(F.col("vec_id") >= N_QUERY_VECTORS).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    # one scored scan feeds both windows — materialize once
    scored = (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim_r"),
        )
        .transform(barrier)
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim_r").desc(), F.col("neighbor_id"))
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            F.lit("topk").alias("method"), "query_id", "neighbor_id", "cos_sim_r", "rank"
        )
    )
    hard = (
        scored.filter(F.col("cos_sim_r") < NEARDUP_COS_FOR_MINING)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HARD_NEG_K)
        .select(
            F.lit("hard_neg").alias("method"),
            "query_id",
            "neighbor_id",
            "cos_sim_r",
            "rank",
        )
    )
    return topk.unionByName(hard).orderBy("method", "query_id", "rank")


# ---------------------------------------------------------------------------
# Scale-path ANN: hyperplane LSH buckets and IVF cells. Both engines get the
# SAME deterministic structures (literal ±1 hyperplanes; centroid = first
# N_CELLS vectors), so the approximate result is still exactly checkable.
# ---------------------------------------------------------------------------

import hashlib

from sentinela_py_spark.barrier import barrier

EMB_DIM = 64
# Plane count is a CONSTRUCTOR PARAMETER of every LSH helper below;
# N_PLANES=4 (16 buckets) is only the registered-query default, kept tiny
# so the DuckDB oracles stay stable and the sf0.01 fixtures keep non-empty
# buckets. Occupancy math for a real deployment: P planes → 2^P buckets;
# uniform-ish embeddings give expected occupancy n/2^P and candidate work
# Σ occ² ≈ n²/2^P, so pick P ≈ log2(n / target_bucket_size) — e.g. n=10^10
# vectors with ~10^4-vector buckets → P ≈ 20 (1M buckets). Recall follows
# the hyperplane collision law p_bit = 1 − θ/π per plane: with multi-probe
# Hamming ≤ 1, P(candidate) = p^P + P·p^(P−1)(1−p), so higher P needs
# either more probes or an OR over several independent tables.
N_PLANES = 4
N_CELLS = 8


def _plane(p: int) -> list[int]:
    """Deterministic ±1 hyperplane p (md5-seeded, engine-independent —
    generated once in Python and embedded as literals on both sides)."""
    return [1 if hashlib.md5(f"plane-{p}-{j}".encode()).digest()[0] & 1 else -1 for j in range(EMB_DIM)]


def make_planes(n_planes: int) -> list[list[int]]:
    """``n_planes`` deterministic ±1 hyperplanes — pass to
    ``lsh_bucket``/``embedding_neardup_pairs`` to run a 2^n_planes-bucket
    config (see the occupancy math at N_PLANES)."""
    return [_plane(p) for p in range(n_planes)]


PLANES = make_planes(N_PLANES)

NEARDUP_COS = 0.4


def _signed_dot(vec: Column, plane: list[int]) -> Column:
    from sentinela_py_spark.functions.litutil import fast_lit

    # one folded literal per plane, not dim F.lit py4j calls (lsh_bucket
    # sums N_PLANES of these per call site — the per-element form cost
    # ~0.2 s of driver time per bucket expression)
    lit_plane = fast_lit([float(x) for x in plane], 1)
    prods = F.zip_with(vec, lit_plane, lambda x, y: x.cast("double") * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def lsh_bucket(vec: Column, planes: list[list[int]] | None = None) -> Column:
    """Hyperplane-sign bucket id in [0, 2^len(planes))."""
    planes = PLANES if planes is None else planes
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        bucket = bucket + F.when(_signed_dot(vec, plane) > 0, F.lit(2**p)).otherwise(F.lit(0))
    return bucket


def probe_xors(n_planes: int) -> list[int]:
    """Multi-probe XOR masks: own bucket + every single-bit flip
    (Hamming ≤ 1 over the sign bits)."""
    return [0] + [2**p for p in range(n_planes)]


def _plane_sql(plane: list[int], vec: str) -> str:
    lits = ", ".join(f"{float(x)!r}" for x in plane)
    return (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}), "
        f"i -> CAST({vec}[i] AS DOUBLE) * ([{lits}])[i]))"
    )


def _bucket_sql(vec: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN {_plane_sql(plane, vec)} > 0 THEN {2**p} ELSE 0 END)"
        for p, plane in enumerate(PLANES)
    )
    return f"({terms})"


# Multi-probe set: own bucket + every single-bit flip (Hamming distance <= 1
# over the N_PLANES sign bits). For a fixed candidate the probe values are
# distinct, so a pair can match on at most one probe — no dedup shuffle needed.
PROBE_XORS = probe_xors(N_PLANES)


def embedding_neardup_pairs(
    e: DataFrame,
    planes: list[list[int]] | None = None,
    threshold: float = NEARDUP_COS,
    bucketed: DataFrame | None = None,
) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs for an arbitrary plane count
    — the parameterized core of ``q_embedding_neardup`` (which pins
    ``planes=PLANES`` so its oracle stays stable). Candidates are pairs
    whose buckets agree on all or all-but-one sign bit; true cosine is
    computed on survivors only, so precision is 1.0 by construction and
    recall follows the multi-probe collision law (see N_PLANES).

    The hot-bucket guard is armed at ``DEFAULT_MAX_BUCKET_SIZE`` (see
    ``embedding_neardup_pairs_with_audit`` for the audit frame)."""
    pairs, _ = embedding_neardup_pairs_with_audit(
        e, planes, threshold, DEFAULT_MAX_BUCKET_SIZE, bucketed
    )
    return pairs


def bucketed_embeddings(e: DataFrame, planes: list[list[int]] | None = None) -> DataFrame:
    """(vec_id, embedding, bucket, norm): the shared LSH projection every
    bucket join builds on — hoist + checkpoint it when several arms
    consume it."""
    planes = PLANES if planes is None else planes
    return e.select(
        "vec_id",
        "embedding",
        lsh_bucket(F.col("embedding"), planes).alias("bucket"),
        F.sqrt(l2_norm_sq(F.col("embedding"))).alias("norm"),
    )


def embedding_neardup_pairs_with_audit(
    e: DataFrame,
    planes: list[list[int]] | None = None,
    threshold: float = NEARDUP_COS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    bucketed: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """``embedding_neardup_pairs`` plus the overflow audit.

    When ``max_bucket_size`` is set, each LSH bucket is bounded to that
    many vectors BEFORE either join side is built (deterministic uniform
    sample by xxhash64(vec_id) — see operators/scale.cap_buckets). A hot
    bucket of b vectors otherwise yields up to b² candidate rows inside
    one task (its own b probes × b residents, plus Hamming-1 neighbours);
    capping bounds that at cap² × (n_planes + 2). The audit frame (None
    when uncapped) lists every truncated bucket with its size and drop
    count so the recall loss is never silent.

    ``bucketed`` (a `bucketed_embeddings` frame) skips the projection —
    pass it when the caller shares one materialized projection across
    several consumers."""
    from sentinela_py_spark.operators.scale import cap_buckets

    planes = PLANES if planes is None else planes
    xors = probe_xors(len(planes))
    e = bucketed_embeddings(e, planes) if bucketed is None else bucketed
    audit = None
    if max_bucket_size is not None:
        e, audit = cap_buckets(e, ["bucket"], max_bucket_size, ["vec_id"])
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"),
        F.col("norm").alias("na"), F.col("bucket").alias("bucket_a"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"),
        F.col("norm").alias("nb"),
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(x)) for x in xors])
        ).alias("probe"),
    )
    cos = dot_product(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(b, (F.col("bucket_a") == F.col("probe")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos_sim_r"))
        .filter(F.col("cos_sim_r") >= threshold)
        .orderBy("vec_a", "vec_b")
    )
    return pairs, audit


def embedding_cross_corpus_candidates(
    probe_b: DataFrame,
    store_b: DataFrame,
) -> DataFrame:
    """`embedding_cross_corpus_candidates_with_audit` minus the audit
    frames — for callers that surface overflow accounting elsewhere (the
    streaming twin keeps its own per-epoch metrics). The registered
    `q_embedding_neardup` corpus_probe arm's DuckDB oracle models NO cap;
    that is sound because no bucket reaches the cap at oracle scale —
    pinned by tests/test_skew_guard.py, so any future fixture growth that
    silently crossed the cap would fail the pin, not the hash check."""
    pairs, _pa, _sa = embedding_cross_corpus_candidates_with_audit(probe_b, store_b)
    return pairs


def embedding_cross_corpus_candidates_with_audit(
    probe_b: DataFrame,
    store_b: DataFrame,
) -> tuple[DataFrame, DataFrame | None, DataFrame | None]:
    """Batch twin of the streaming embedding-index probe
    (streaming/pipeline.py embedding_dedup_batch_against_corpus step 3):
    new-batch vectors multi-probe (Hamming ≤ 1) the bucket-keyed accepted
    index, candidates are confirmed with TRUE cosine, and each matched
    probe reports its lowest-id confirmed corpus match.

    Inputs are `bucketed_embeddings` frames. Unlike the MinHash probe the
    store cannot be pre-aggregated to a min id — every candidate needs a
    cosine against the stored VECTOR — so BOTH sides are hot-bucket
    capped (cap², never b², per probe key; cf. the streaming twin's
    overflow accounting). Returns ``(pairs, probe_audit, store_audit)``
    — the two cap_buckets overflow frames, so
    deployments can surface exactly which buckets lost candidates (the
    never-silent-truncation policy, operators/scale.py). Pairs:
    (vec_a = probe id, vec_b = min confirmed corpus id, cos_sim_r)."""
    from sentinela_py_spark.operators.scale import cap_buckets

    store_b, store_audit = cap_buckets(store_b, ["bucket"], DEFAULT_MAX_BUCKET_SIZE, ["vec_id"])
    probe_b, probe_audit = cap_buckets(probe_b, ["bucket"], DEFAULT_MAX_BUCKET_SIZE, ["vec_id"])
    xors = probe_xors(N_PLANES)
    probes = probe_b.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"),
        F.col("norm").alias("na"),
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(x)) for x in xors])
        ).alias("probe"),
    )
    store = store_b.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"),
        F.col("norm").alias("nb"), F.col("bucket").alias("probe"),
    )
    cos = F.round(dot_product(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    pairs = (
        probes.join(store, "probe")
        .select("vec_a", "vec_b", cos.alias("cos_sim_r"))
        .filter(F.col("cos_sim_r") >= NEARDUP_COS)
        .groupBy("vec_a")
        .agg(
            F.min("vec_b").alias("vec_b"),
            F.min_by("cos_sim_r", "vec_b").alias("cos_sim_r"),
        )
    )
    return pairs, probe_audit, store_audit


def exact_neardup_pairs(e: DataFrame) -> DataFrame:
    """Exact O(n²/2) cosine near-dup pairs — the small-sf validation twin
    the LSH recall test compares against (NOT registered: quadratic in the
    corpus, it would not survive 100 TB). Norms are hoisted so per-pair
    work is one array fold."""
    e = e.select("vec_id", "embedding", F.sqrt(l2_norm_sq(F.col("embedding"))).alias("norm"))
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"), F.col("norm").alias("na"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"), F.col("norm").alias("nb"))
    cos = dot_product(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos_sim_r"))
        .filter(F.col("cos_sim_r") >= NEARDUP_COS)
        .orderBy("vec_a", "vec_b")
    )


# Deterministic ~50/50 corpus/probe split for the corpus_probe arm —
# same idiom as q_minhash_pairs' (first md5 hex char of the stringified
# id; '<8' → the "accepted index" half).
_VEC_SPLIT_SQL = "substr(md5(CAST({v} AS VARCHAR)), 1, 1) < '8'"


def _guarded_cos_sql(raw_cos: str) -> str:
    """DuckDB twin of the Spark side's ``nanvl(round(cos, 6), -2.0)``
    zero-norm guard: a 0-norm vector's cosine is NaN in Spark but NULL in
    DuckDB (double 0/0 → NULL), and unguarded DuckDB would rank NULL
    FIRST under ORDER BY DESC while Spark ranks the −2.0 last — the
    assignment twins must agree even on degenerate inputs."""
    return f"COALESCE((CASE WHEN isnan({raw_cos}) THEN -2.0 ELSE ROUND({raw_cos}, 6) END), -2.0)"


def _assigned_sql(cents_rel: str, src: str = "embeddings", rn_pred: str = "rn = 1") -> str:
    """Argmax-cosine cell assignment of ``src`` against codebook relation
    ``cents_rel`` — `rn_pred` generalizes to ``rn <= nprobe`` for the
    multi-cell probe twin (`ivf_probe_cells`)."""
    raw = (
        f"{_DOT_SQL.format(a='e.embedding', b='c.centroid')}"
        f" / (SQRT({_NORMSQ_SQL.format(a='e.embedding')}) * SQRT({_NORMSQ_SQL.format(a='c.centroid')}))"
    )
    return f"""
      SELECT vec_id, embedding, cell_id FROM (
        SELECT e.vec_id, e.embedding, c.cell_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_guarded_cos_sql(raw)} DESC,
                   c.cell_id) AS rn
        FROM {src} e CROSS JOIN {cents_rel} c
      ) WHERE {rn_pred}
"""


_ASSIGNED_SQL = _assigned_sql("cents")


def _km_sql() -> str:
    from sentinela_py_spark.functions.kmeans import KMEANS_ITERS, kmeans_cents_sql

    return kmeans_cents_sql(
        N_CELLS,
        KMEANS_ITERS,
        EMB_DIM,
        prefix="km",
        dot_sql_fmt=_DOT_SQL,
        normsq_sql_fmt=_NORMSQ_SQL,
    )


def semantic_neardup_pairs(
    e: DataFrame,
    cents: list[tuple[int, list[float]]],
    threshold: float = NEARDUP_COS,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023, arXiv:2303.09540):
    cluster the corpus with TRAINED k-means centroids (the same
    deterministic codebook the IVF arms search under — map-only literal
    argmax assignment, `assign_cells_literal`), then compare pairs
    WITHIN a cluster only. The cluster id is the join key, so candidate
    work scales with cell occupancy, never |corpus|² — same contract as
    the LSH bucket join, but the partitioning is DATA-ADAPTIVE: trained
    centroids track the corpus's semantic modes, so near-dups that
    random hyperplanes split across buckets land in one cell (and cells
    stay balanced where LSH buckets go hot — tests/test_kmeans.py's
    clustered-corpus proof).

    Rides the hot-cell occupancy guard (`capped_cell_candidates`, cap
    never bites at fixture scale — test-pinned, so the cap-free oracle
    sees identical rows). True cosine on within-cell pairs only; the
    NaN guard mirrors the assignment's (zero-norm → −2.0, below any
    threshold) so a degenerate vector is dropped identically by Spark
    (where NaN compares GREATER than any number) and DuckDB (NULL).

    Pass ``assigned`` to reuse an existing (vec_id, embedding, cell_id)
    assignment frame across consumers (`semdedup_prune` does)."""
    assigned = assign_cells_literal(e, cents) if assigned is None else assigned
    kept, _audit = capped_cell_candidates(assigned)
    # Both self-join sides scan this frame; Spark shares no subtrees
    # across join sides, so without the lazy checkpoint the cap pipeline
    # (window + rebalance shuffles) would run twice.
    s = kept.select(
        "vec_id",
        "embedding",
        "cell_id",
        F.sqrt(l2_norm_sq(F.col("embedding"))).alias("norm"),
    ).transform(barrier)
    a = s.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"),
        F.col("norm").alias("na"), F.col("cell_id").alias("cell"),
    )
    b = s.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"),
        F.col("norm").alias("nb"), F.col("cell_id").alias("cell"),
    )
    cos = dot_product(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "cell")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b",
            F.nanvl(F.round(cos, 6), F.lit(-2.0)).alias("cos_sim_r"),
        )
        .filter(F.col("cos_sim_r") >= threshold)
    )


def semantic_retention_sql(
    threshold: float = NEARDUP_COS, prefix: str = "sem", with_base: bool = True
) -> str:
    """DuckDB twin of `semdedup_prune`'s survivor election as a CTE
    chunk (no leading WITH; embed inside a WITH RECURSIVE list — the
    ε-graph closure is recursive): the trained k-means chain →
    assignment → within-cell ε-pairs → transitive closure → per-group
    ARGMIN of centroid cosine (ties to the lowest vec_id). Ends at
    ``{prefix}_surv`` (vec_id, group_id, centroid_sim). The cap-free
    pair join is sound because the hot-cell cap provably never bites at
    fixture scale (tests/test_kmeans.py).

    ``threshold``/``prefix``/``with_base`` expose the paper's ε dial
    (r10): the ε-INDEPENDENT base (km chain, assignment, norms,
    centroid cosines — always named sem_assigned/semn/sem_csim) is
    emitted once by the first instantiation; a second ε re-instantiates
    only the pairs → closure → election chain under a fresh prefix with
    ``with_base=False``, exactly how the Spark side shares one assigned
    frame across ε arms."""
    dot_ab = _DOT_SQL.format(a="a.embedding", b="b.embedding")
    cos_ab = f"{dot_ab} / (a.norm * b.norm)"
    dot_ac = _DOT_SQL.format(a="a.embedding", b="c.centroid")
    cos_ac = (
        f"{dot_ac} / (SQRT({_NORMSQ_SQL.format(a='a.embedding')})"
        f" * SQRT({_NORMSQ_SQL.format(a='c.centroid')}))"
    )
    base = f"""{_km_sql()},
    sem_assigned AS MATERIALIZED ({_assigned_sql('km_cents')}),
    semn AS MATERIALIZED (
      SELECT vec_id, embedding, cell_id,
             SQRT({_NORMSQ_SQL.format(a='embedding')}) AS norm
      FROM sem_assigned
    ),
    sem_csim AS MATERIALIZED (
      SELECT a.vec_id, {_guarded_cos_sql(cos_ac)} AS centroid_sim
      FROM sem_assigned a JOIN km_cents c USING (cell_id)
    ),
    """
    p = prefix
    eps_chain = f"""{p}_pairs AS MATERIALIZED (
      SELECT vec_a, vec_b FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               COALESCE((CASE WHEN isnan({cos_ab}) THEN -2.0
                         ELSE ROUND({cos_ab}, 6) END), -2.0) AS cos_sim_r
        FROM semn a JOIN semn b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      ) WHERE cos_sim_r >= {threshold}
    ),
    {p}_edges AS (
      SELECT vec_a AS src, vec_b AS dst FROM {p}_pairs
      UNION
      SELECT vec_b AS src, vec_a AS dst FROM {p}_pairs
    ),
    {p}_reach(vec_id, label) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.src, r.label FROM {p}_reach r JOIN {p}_edges e ON e.dst = r.vec_id
    ),
    {p}_labels AS (
      SELECT vec_id, MIN(label) AS group_id FROM {p}_reach GROUP BY vec_id
    ),
    {p}_surv AS (
      SELECT vec_id, group_id, centroid_sim FROM (
        SELECT l.vec_id, l.group_id, s.centroid_sim,
               ROW_NUMBER() OVER (PARTITION BY l.group_id
                                  ORDER BY s.centroid_sim ASC, l.vec_id) AS rn
        FROM {p}_labels l JOIN sem_csim s USING (vec_id)
      ) WHERE rn = 1
    )"""
    return (base if with_base else "") + eps_chain


# The SemDeDup ε sweep's second operating point (r10): the paper's knob
# is ε — retention rate vs dedup fraction (arXiv:2303.09540 fig. 2). The
# registered semantic arm runs at NEARDUP_COS (0.4, aggressive: large
# ε-groups, low retention); the semantic_hi arm at 0.9 keeps everything
# but tight near-dups. Retention is monotone in ε (test-pinned sweep).
SEMDEDUP_EPS_HI = 0.9


def semdedup_prune(
    e: DataFrame,
    cents: list[tuple[int, list[float]]],
    threshold: float = NEARDUP_COS,
    pairs: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup's keep-policy over the within-cluster pairs: connect the
    ε-graph into groups (`operators.dedup.connected_components` — the
    same min-label propagation the MinHash pipeline uses), then KEEP the
    one member per group with the LOWEST cosine to its cluster centroid
    (the paper's retention rule — low-centroid-similarity examples are
    the least redundant with the cluster's mode; arXiv:2303.09540 §3),
    tie-broken on vec_id. Returns ``(survivors, pruned)``:

    - survivors: (vec_id, group_id, centroid_sim) — singletons keep
      themselves; ``centroid_sim`` is the retention score (rounded
      cosine to the cluster centroid) the election ran on;
    - pruned: (vec_id, group_id, keep_id) — every evicted member with
      the representative it lost to (the audit trail a 100 TB curation
      run keeps).

    Scale shape: one map-only assignment, the bounded within-cell pair
    join, O(diameter) label sweeps over the ε-subgraph only, one
    group-keyed min_by aggregate, one join back. The centroid-cosine
    scoring is a map-side literal lookup (element_at over the inlined
    codebook) — no join against a centroid table.

    ``pairs`` (r10, the ε-sweep sharing hook): a precomputed candidate
    frame carrying ``cos_sim_r`` — an ε sweep builds the pair join ONCE
    at its loosest ε and each operating point filters it (pairs at a
    tighter ε are exactly the looser set filtered, since the join is
    ε-independent). When given, only rows with cos_sim_r ≥ threshold
    are used and the join is never rebuilt.

    ``assigned`` (r11): a precomputed (vec_id, embedding, cell_id)
    assignment frame — the other half of the sweep-sharing hook. The
    assignment is ε-independent too, so a sweep that passes ``pairs``
    without ``assigned`` would still rebuild (and checkpoint) the
    k-means cell routing once per operating point; threading ONE
    checkpointed assignment through every arm makes the dial truly
    pay-once (`plans.curation._semantic_arms` does)."""
    from sentinela_py_spark.functions.litutil import fast_lit
    from sentinela_py_spark.operators.dedup import connected_components

    if assigned is None:
        assigned = assign_cells_literal(e, cents).transform(barrier)
    if pairs is None:
        pairs = semantic_neardup_pairs(e, cents, threshold, assigned=assigned)
    else:
        pairs = pairs.filter(F.col("cos_sim_r") >= threshold)
    comp = connected_components(
        assigned.select("vec_id"),
        pairs.select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")),
        id_col="vec_id",
    ).select(F.col("doc_id").alias("vec_id"), "group_id")
    cents_sorted = sorted(cents)
    vecs = fast_lit([[float(x) for x in v] for _cid, v in cents_sorted], 2)
    ids = F.lit([int(cid) for cid, _v in cents_sorted])
    cvec = F.element_at(vecs, F.array_position(ids, F.col("cell_id")).cast("int"))
    csim = F.nanvl(F.round(cosine(F.col("embedding"), cvec), 6), F.lit(-2.0))
    # scored feeds BOTH the election aggregate and the join back —
    # materialize once (same reason as `assigned` above)
    scored = (
        assigned.join(comp, "vec_id")
        .select("vec_id", "group_id", csim.alias("centroid_sim"))
        .transform(barrier)
    )
    keepers = scored.groupBy("group_id").agg(
        F.min_by("vec_id", F.struct(F.col("centroid_sim"), F.col("vec_id"))).alias(
            "keep_id"
        )
    )
    labeled = scored.join(keepers, "group_id")
    survivors = labeled.filter(F.col("vec_id") == F.col("keep_id")).select(
        "vec_id", "group_id", "centroid_sim"
    )
    pruned = labeled.filter(F.col("vec_id") != F.col("keep_id")).select(
        "vec_id", "group_id", "keep_id"
    )
    return survivors, pruned


@register(
    "q_embedding_neardup",
    oracle=f"""
    WITH {_km_sql()},
    sem_assigned AS MATERIALIZED ({_assigned_sql('km_cents')}),
    sem AS MATERIALIZED (
      SELECT vec_id, embedding, cell_id,
             SQRT({_NORMSQ_SQL.format(a='embedding')}) AS norm
      FROM sem_assigned
    ),
    sem_pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             COALESCE((CASE WHEN isnan(
               {_DOT_SQL.format(a='a.embedding', b='b.embedding')} / (a.norm * b.norm)
             ) THEN -2.0 ELSE ROUND(
               {_DOT_SQL.format(a='a.embedding', b='b.embedding')} / (a.norm * b.norm), 6
             ) END), -2.0) AS cos_sim_r
      FROM sem a JOIN sem b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
    ),
    bucketed AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket,
             SQRT({_NORMSQ_SQL.format(a='embedding')}) AS norm
      FROM embeddings
    ),
    probed AS (
      SELECT vec_id, embedding, norm, xor(bucket, probe_xor) AS probe
      FROM bucketed CROSS JOIN (SELECT UNNEST([{", ".join(str(x) for x in PROBE_XORS)}]) AS probe_xor)
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ROUND({_DOT_SQL.format(a='a.embedding', b='b.embedding')}
               / (a.norm * b.norm), 6) AS cos_sim_r
      FROM bucketed a JOIN probed b
        ON a.bucket = b.probe AND a.vec_id < b.vec_id
    ),
    probe_cand AS (
      SELECT p.vec_id AS vec_a, s.vec_id AS vec_b,
             ROUND({_DOT_SQL.format(a='p.embedding', b='s.embedding')}
               / (p.norm * s.norm), 6) AS cos_sim_r
      FROM probed p JOIN bucketed s ON s.bucket = p.probe
      WHERE NOT ({_VEC_SPLIT_SQL.format(v='p.vec_id')})
        AND {_VEC_SPLIT_SQL.format(v='s.vec_id')}
    ),
    probe_hits AS (
      SELECT vec_a, MIN(vec_b) AS vec_b, arg_min(cos_sim_r, vec_b) AS cos_sim_r
      FROM probe_cand WHERE cos_sim_r >= {NEARDUP_COS}
      GROUP BY vec_a
    )
    SELECT 'all_pairs' AS method, vec_a, vec_b, cos_sim_r
    FROM pairs WHERE cos_sim_r >= {NEARDUP_COS}
    UNION ALL
    SELECT 'corpus_probe' AS method, vec_a, vec_b, cos_sim_r FROM probe_hits
    UNION ALL
    SELECT 'semantic' AS method, vec_a, vec_b, cos_sim_r
    FROM sem_pairs WHERE cos_sim_r >= {NEARDUP_COS}
    ORDER BY method, vec_a, vec_b
    """,
    survey_ref=(
        "dedup: embedding-cosine near-duplicate pairs via hyperplane-LSH bucket equi-join "
        "(multi-probe Hamming<=1) — the 100 TB path; exact twin = exact_neardup_pairs "
        "(tests); corpus_probe arm = batch twin of the streaming embedding-index probe "
        "(streaming/pipeline.py embedding_dedup_batch_against_corpus step 3); semantic "
        "arm = SemDeDup candidate generation (within-k-means-cluster pairs under the "
        "trained IVF codebook; keep-policy in semdedup_prune)"
    ),
    tags=("dedup", "similarity", "sketch"),
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, LSH-bucketed: candidates are pairs whose
    hyperplane-sign buckets agree on all or all-but-one of the N_PLANES
    bits (multi-probe: each candidate probes its own bucket plus every
    single-bit flip). The join is a hash equi-join on the bucket id —
    candidate work scales with bucket occupancy, never |corpus|², which is
    the difference between this and the exact twin at 100 TB. True cosine
    is computed on the surviving candidates only (precision 1.0 by
    construction; recall is the LSH collision probability — see
    tests/test_stress_scale.py for the recall-vs-exact assertion).

    For a fixed candidate the probe values are distinct, so a pair can
    match on at most one probe — candidate generation needs no
    dedup shuffle. Norms are hoisted out of the pair scoring.

    Two arms over ONE materialized bucket projection (lazy
    localCheckpoint):

    - ``all_pairs``: the within-corpus self-join above;
    - ``corpus_probe``: dedup-at-ingest as batch algebra — the md5-split
      'accepted' half is the bucket-keyed index, the rest the incoming
      batch; each probe multi-probes the index and TRUE cosine confirms
      (`embedding_cross_corpus_candidates`, the streaming probe's twin);
    - ``semantic``: SemDeDup candidate generation (Abbas et al. 2023) —
      within-TRAINED-k-means-cluster pairs under the memoized IVF
      codebook (`semantic_neardup_pairs`): the data-adaptive partitioning
      member of the family, sharing the offline training the bench's
      ``training`` arm prices. The keep-policy (lowest centroid-cosine
      survivor per ε-group) is `semdedup_prune`, test-verified."""
    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))
    bucketed = bucketed_embeddings(e, PLANES).transform(barrier)
    all_pairs = embedding_neardup_pairs(e, planes=PLANES, threshold=NEARDUP_COS, bucketed=bucketed)
    split = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < "8"
    probe_hits = embedding_cross_corpus_candidates(
        bucketed.filter(~split), bucketed.filter(split)
    )
    cents, _books = _trained_codebooks(e, sf_dir)
    sem_pairs = semantic_neardup_pairs(e, cents)
    return (
        all_pairs.select(F.lit("all_pairs").alias("method"), "vec_a", "vec_b", "cos_sim_r")
        .unionByName(
            probe_hits.select(
                F.lit("corpus_probe").alias("method"), "vec_a", "vec_b", "cos_sim_r"
            )
        )
        .unionByName(
            sem_pairs.select(
                F.lit("semantic").alias("method"), "vec_a", "vec_b", "cos_sim_r"
            )
        )
        .orderBy("method", "vec_a", "vec_b")
    )


def _semantic_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedicated semantic-arm bench builder — constructs only the
    within-cluster pair join (codebook from the per-corpus memo), so the
    arm's timing never pays the other arms' expression-build cost."""
    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))
    cents, _books = _trained_codebooks(e, sf_dir)
    return semantic_neardup_pairs(e, cents).select(
        F.lit("semantic").alias("method"), "vec_a", "vec_b", "cos_sim_r"
    )


# all_pairs / corpus_probe are dedicated too: a method_arm union-filter
# cannot prune the semantic branch past its lazy localCheckpoint (a
# checkpoint is a pruning BARRIER), so a filtered arm would execute the
# within-cluster pair join it never reads — the q_decontamination
# fuzzy-arm lesson.
def _en_bucketed(spark: SparkSession, sf_dir: str):
    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))
    return e, bucketed_embeddings(e, PLANES).transform(barrier)


def _en_all_pairs_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, bucketed = _en_bucketed(spark, sf_dir)
    return embedding_neardup_pairs(
        e, planes=PLANES, threshold=NEARDUP_COS, bucketed=bucketed
    ).select(F.lit("all_pairs").alias("method"), "vec_a", "vec_b", "cos_sim_r")


def _en_corpus_probe_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    _e, bucketed = _en_bucketed(spark, sf_dir)
    split = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < "8"
    return embedding_cross_corpus_candidates(
        bucketed.filter(~split), bucketed.filter(split)
    ).select(F.lit("corpus_probe").alias("method"), "vec_a", "vec_b", "cos_sim_r")


register_arms(
    "q_embedding_neardup",
    all_pairs=_en_all_pairs_arm,
    corpus_probe=_en_corpus_probe_arm,
    semantic=_semantic_arm,
)


@register(
    "q_ann_lsh_topk",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM bucketed WHERE vec_id < {N_QUERY_VECTORS}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM bucketed WHERE vec_id >= {N_QUERY_VECTORS}),
    scored AS (
      SELECT query_id, neighbor_id, q.bucket,
             {_DOT_SQL.format(a='qv', b='cv')}
               / (SQRT({_NORMSQ_SQL.format(a='qv')}) * SQRT({_NORMSQ_SQL.format(a='cv')})) AS cos_sim
      FROM q JOIN c ON q.bucket = c.bucket
    ),
    ranked AS (
      SELECT query_id, neighbor_id, bucket, ROUND(cos_sim, 6) AS cos_sim_r,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY ROUND(cos_sim, 6) DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, bucket, cos_sim_r, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    survey_ref="similarity: hyperplane-LSH bucketed ANN (equi-join on bucket replaces cross product)",
    tags=("similarity", "sketch"),
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: the bucket equi-join prunes the cross
    product to same-bucket candidates (16 buckets here; at 100 TB the
    bucket id is the shuffle key and candidate work scales with bucket
    occupancy, not |corpus|). Exact cosine + top-k inside the bucket."""
    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))
    bucketed = e.select("vec_id", "embedding", lsh_bucket(F.col("embedding")).alias("bucket"))
    q = bucketed.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "bucket"
    )
    c = bucketed.filter(F.col("vec_id") >= N_QUERY_VECTORS).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), "bucket"
    )
    scored = c.join(F.broadcast(q), "bucket").select(
        "query_id", "neighbor_id", "bucket",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim_r"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim_r").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "bucket", "cos_sim_r", "rank")
        .orderBy("query_id", "rank")
    )


def centroid_row_of(cents: DataFrame) -> DataFrame:
    """Fold a (cell_id, centroid) codebook frame into the ONE-row
    cell_id-sorted struct array every assignment broadcast consumes —
    placeholder and k-means-trained codebooks ride the same path."""
    return cents.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cell_id"), F.col("centroid")))
        ).alias("__cents")
    )


def _centroid_row(
    e: DataFrame, n_cells: int, centroid_source: DataFrame | None = None
) -> DataFrame:
    """ONE-row frame holding the cell_id-sorted centroid struct array —
    the single definition `ivf_assign` and `ivf_probe_cells` both
    broadcast, so their equivalence at nprobe=1 (test-pinned) can never
    drift on the centroid side. Centroids here are the UNTRAINED
    first-n_cells placeholder (kept for the layout-only arms/oracles);
    the deployment path trains them with
    `functions.kmeans.kmeans_centroids_local`."""
    return centroid_row_of(
        (e if centroid_source is None else centroid_source)
        .filter(F.col("vec_id") < n_cells)
        .select(F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid"))
    )


def _assign_with_row(
    e: DataFrame, cents_row: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """MAP-SIDE argmax assignment against a one-row broadcast centroid
    array: an array of rounded sims, ``array_position(sims,
    array_max(sims))`` picking the first (= lowest cell_id) maximum. No
    Exchange touches the corpus between the scan and the assignment
    (pinned in test_plan_quality) — a row_number() rendering would
    shuffle N×n_cells rows keyed by id, an avoidable n_cells× corpus
    shuffle at 100 TB. A zero-norm vector's cosine is NaN; ``nanvl``
    coalesces it to −2.0 (below any real cosine) so the argmax stays
    defined and deterministic instead of propagating NaN through
    array_max."""
    sims = F.transform(
        F.col("__cents"),
        lambda c: F.nanvl(F.round(cosine(F.col(vec_col), c["centroid"]), 6), F.lit(-2.0)),
    )
    best = F.array_position(F.col("__sims"), F.array_max(F.col("__sims"))).cast("int")
    return (
        e.crossJoin(F.broadcast(cents_row))
        .withColumn("__sims", sims)
        .select(
            id_col,
            vec_col,
            F.element_at(F.col("__cents"), best)["cell_id"].alias("cell_id"),
        )
    )


def assign_cells(
    e: DataFrame, cents: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, vec, cell_id): map-side argmax-cosine assignment of ``e``
    against an explicit (cell_id, centroid) codebook FRAME — for
    codebooks too large to inline as literals (k·dim beyond ~10^5
    values); the frame aggregates to one row and broadcasts. For
    driver-resident codebooks (the k-means loop, the trained search arm)
    `assign_cells_literal` skips the aggregate+broadcast stages
    entirely."""
    return _assign_with_row(e, centroid_row_of(cents), id_col, vec_col)


# Literal-inlining boundary for the cells·dim centroid matrix — the
# assignment analog of functions/vectors.ADC_T2_LITERAL_MAX (same
# boundary class: a plan literal is rebuilt into every query tree and
# re-shipped with every task binary, fine at 2¹⁸ doubles ≈ 2 MB, absurd
# at a 10⁹-vector deployment's 10⁵ cells × 64 dims =
# 6.4·10⁶). Past it the assignment auto-routes through the broadcast
# (cell_id, centroid) FRAME path (`assign_cells`) — one broadcast
# exchange instead of a plan-embedded matrix, bit-identical scores.
ASSIGN_LITERAL_MAX = 2**18


def assign_literal_mode(n_cells: int, dim: int) -> str:
    """Resolve how `assign_cells_literal` ships the codebook:
    ``"literal"`` (inline cells·dim doubles in the plan) at or below
    `ASSIGN_LITERAL_MAX` entries, ``"broadcast"`` (the `assign_cells`
    one-row broadcast frame) above it."""
    return "literal" if n_cells * dim <= ASSIGN_LITERAL_MAX else "broadcast"


def assign_cells_literal(
    e: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cell_id): the same argmax-cosine assignment as
    `assign_cells`, but against DRIVER-RESIDENT centroids inlined as
    literal arrays — a MAP-ONLY projection with zero extra stages (no
    centroid aggregate, no broadcast exchange). This is how distributed
    k-means actually iterates (Spark MLlib collects centers to the
    driver every Lloyd step): the codebook is k·dim doubles, tiny
    relative to any corpus that needs clustering. Same NaN→−2.0 guard
    and first-maximum (= lowest cell id) tie-break as the frame path.

    The centroid matrix enters the plan as ONE nested array literal
    (`functions.litutil.fast_lit` — a single JSON parse that folds to
    the identical literal), not k·dim CreateArray nodes — at k=8,
    dim=64 the node-by-node form costs ~1 s of driver-side analysis per
    assignment, which the Lloyd loop pays every iteration (and even
    element-wise ``F.lit`` conversion costs ~0.2 s of py4j per build).

    Past `ASSIGN_LITERAL_MAX` cells·dim entries the auto guard
    (`assign_literal_mode`) reroutes through the broadcast-frame path
    (`assign_cells`) instead — same argmax, same NaN guard, same
    tie-break, bit-identical assignments (test-pinned at a forced
    boundary), but the codebook rides ONE broadcast exchange rather
    than being re-embedded in every plan tree."""
    from sentinela_py_spark.functions.litutil import fast_lit

    cents = sorted(cents)
    if assign_literal_mode(len(cents), len(cents[0][1])) == "broadcast":
        cents_df = e.sparkSession.createDataFrame(
            [(int(cid), [float(x) for x in v]) for cid, v in cents],
            "cell_id long, centroid array<double>",
        )
        return assign_cells(e, cents_df, id_col, vec_col)
    vecs = fast_lit([[float(x) for x in vec] for _cid, vec in cents], 2)
    ids = F.lit([int(cid) for cid, _vec in cents])
    sims = F.transform(
        vecs, lambda c: F.nanvl(F.round(cosine(F.col(vec_col), c), 6), F.lit(-2.0))
    )
    best = F.array_position(F.col("__sims"), F.array_max(F.col("__sims"))).cast("int")
    return (
        e.withColumn("__sims", sims)
        .select(id_col, vec_col, F.element_at(ids, best).cast("bigint").alias("cell_id"))
    )


def ivf_assign(
    e: DataFrame, n_cells: int = N_CELLS, centroid_source: DataFrame | None = None
) -> DataFrame:
    """IVF cell assignment with the PLACEHOLDER codebook (first n_cells
    vectors by id) — see `_assign_with_row` for the map-side argmax
    mechanics shared with the trained path (`assign_cells`).

    ``centroid_source`` (default: ``e`` itself) is the frame the centroid
    row is built from — pass the CORPUS here when assigning out-of-corpus
    rows (e.g. query vectors) so both sides share one codebook."""
    return _assign_with_row(e, _centroid_row(e, n_cells, centroid_source))


def ivf_probe_cells(
    e: DataFrame,
    n_cells: int = N_CELLS,
    nprobe: int = 1,
    centroid_source: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, embedding, cell_id) with ONE ROW PER PROBED CELL — the
    query's ``nprobe`` nearest centroids, still fully MAP-SIDE: the same
    one-row broadcast centroid array as `ivf_assign`, per-row
    (sim, cell_id) structs sorted by a deterministic comparator (sim
    DESC, cell_id ASC), sliced to nprobe and exploded. ``nprobe`` is the
    standard IVF recall dial — a query near a cell boundary misses its
    true neighbours under nprobe=1, and probing the next-nearest cells
    multiplies candidate work by nprobe while recovering them. At
    nprobe=1 this reproduces `ivf_assign`'s argmax exactly (first maximum
    = lowest cell id on ties — pinned in tests; callers on the default
    should route through `ivf_assign` itself, whose argmax skips this
    path's comparator sort + explode — `ivf_pq_topk` does). A zero-norm
    vector's NaN cosine is coalesced to −2.0 BEFORE ranking — without it
    every comparator branch is false for NaN and both (a,b) and (b,a)
    return 1, an inconsistent comparator with undefined sort order."""
    return _probe_with_row(e, _centroid_row(e, n_cells, centroid_source), nprobe)


def _probe_with_row(
    e: DataFrame,
    cents_row: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The probe body shared by `ivf_probe_cells` (placeholder row) and
    `probe_cells_literal`'s past-the-guard broadcast route (trained
    codebook frame folded through `centroid_row_of`) — one definition,
    so literal and frame probes can never drift."""
    sims = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            F.nanvl(
                F.round(cosine(F.col(vec_col), c["centroid"]), 6), F.lit(-2.0)
            ).alias("sim"),
            c["cell_id"].alias("cell_id"),
        ),
    )
    ranked = F.array_sort(sims, _sim_comparator)
    return (
        e.crossJoin(F.broadcast(cents_row))
        .withColumn("__probe", F.explode(F.slice(ranked, 1, nprobe)))
        .select(id_col, vec_col, F.col("__probe.cell_id").alias("cell_id"))
    )


def _sim_comparator(a, b):
    """(sim DESC, cell_id ASC) — deterministic and total because NaN sims
    were already coalesced to −2.0 (see callers)."""
    return (
        F.when(a["sim"] > b["sim"], F.lit(-1))
        .when(a["sim"] < b["sim"], F.lit(1))
        .when(a["cell_id"] < b["cell_id"], F.lit(-1))
        .otherwise(F.lit(1))
    )


def probe_cells_literal(
    e: DataFrame,
    cents: list[tuple[int, list[float]]],
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """`ivf_probe_cells` against DRIVER-RESIDENT (trained) centroids —
    one row per probed cell, map-only, the literal twin of the
    frame-backed path exactly as `assign_cells_literal` is `ivf_assign`'s
    (same nested-array-literal inlining, same NaN guard, same
    comparator). Closes the trained-codebook nprobe>1 gap: the recall
    dial no longer requires the placeholder codebook.

    Same `ASSIGN_LITERAL_MAX` auto guard as `assign_cells_literal`
    (r10): past cells·dim literal entries the codebook rides ONE
    broadcast centroid row (`_probe_with_row` — the body `ivf_probe_-
    cells` executes) instead of being re-embedded in every plan;
    identical comparator and NaN guard, bit-identical probes
    (test-pinned at a forced boundary)."""
    from sentinela_py_spark.functions.litutil import fast_lit

    cents = sorted(cents)
    if assign_literal_mode(len(cents), len(cents[0][1])) == "broadcast":
        cents_df = e.sparkSession.createDataFrame(
            [(int(cid), [float(x) for x in v]) for cid, v in cents],
            "cell_id long, centroid array<double>",
        )
        return _probe_with_row(
            e, centroid_row_of(cents_df), nprobe, id_col=id_col, vec_col=vec_col
        )
    vecs = fast_lit([[float(x) for x in v] for _cid, v in cents], 2)
    ids = F.lit([int(cid) for cid, _v in cents])
    sims = F.zip_with(
        vecs,
        ids,
        lambda v, cid: F.struct(
            F.nanvl(F.round(cosine(F.col(vec_col), v), 6), F.lit(-2.0)).alias("sim"),
            cid.cast("bigint").alias("cell_id"),
        ),
    )
    ranked = F.array_sort(sims, _sim_comparator)
    return (
        e.withColumn("__probe", F.explode(F.slice(ranked, 1, nprobe)))
        .select(id_col, vec_col, F.col("__probe.cell_id").alias("cell_id"))
    )


# PQ constants mirrored from functions/vectors.py (PQ_M subspaces of
# EMB_DIM/PQ_M dims, PQ_K codewords = slices of the first PQ_K vectors) —
# shared by the q_ann_ivf_topk pq arm and q_quantized_refine_topk below.
from sentinela_py_spark.functions.vectors import PQ_K, PQ_M  # noqa: E402

_PQ_D = EMB_DIM // PQ_M

# squared L2 between subspace m's slices of v and s.cv — multiplication,
# not pow(), and an ordered list_sum so the double fold matches Spark's.
_PQ_D2_SQL = (
    f"list_sum(list_transform(generate_series(1, {_PQ_D}), i -> "
    f"(CAST(v.embedding[mi.m*{_PQ_D}+i] AS DOUBLE) - CAST(s.cv[mi.m*{_PQ_D}+i] AS DOUBLE))"
    f" * (CAST(v.embedding[mi.m*{_PQ_D}+i] AS DOUBLE) - CAST(s.cv[mi.m*{_PQ_D}+i] AS DOUBLE))))"
)

COARSE_K = 20

# Shared DuckDB CTE bodies: deterministic IVF assignment and the PQ
# code/reconstruction relations (the same algebra q_quantized_refine_topk
# proves stage-wise; q_ann_ivf_topk composes them with the cell routing).


def _cell_ranked_sql(q_rel: str, c_rel: str) -> str:
    """In-cell exact-cosine ranking of a (query_id, qv, cell_id) relation
    against a (neighbor_id, cv, cell_id) relation — the flat-search body
    shared by the flat / trained / nprobe2 oracle arms."""
    cos = (
        f"ROUND({_DOT_SQL.format(a='qv', b='cv')}"
        f" / (SQRT({_NORMSQ_SQL.format(a='qv')}) * SQRT({_NORMSQ_SQL.format(a='cv')})), 6)"
    )
    return f"""
      SELECT query_id, neighbor_id, {q_rel}.cell_id, {cos} AS cos_sim_r,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY {cos} DESC, neighbor_id) AS rank
      FROM {q_rel} JOIN {c_rel} ON {q_rel}.cell_id = {c_rel}.cell_id
"""

def _resid_sql() -> str:
    """The residual frame the PQ chain trains and encodes on: every
    trained-assigned vector minus its cell centroid (`functions.kmeans
    .ivf_residuals_sql` over the tassigned/km_cents CTEs)."""
    from sentinela_py_spark.functions.kmeans import ivf_residuals_sql

    return ivf_residuals_sql(EMB_DIM, assigned_rel="tassigned", cents_rel="km_cents")


def _pqt_sql() -> str:
    """The residual-PQ training chain: codewords train on ``pq_resid``
    (vec − trained centroid — the CTE the oracle defines right before
    this chain), mirroring `_train_codebooks`."""
    from sentinela_py_spark.functions.kmeans import KMEANS_ITERS, pq_train_sql

    return pq_train_sql(PQ_M, PQ_K, KMEANS_ITERS, EMB_DIM, src="pq_resid", prefix="pqt")


def _adc_sql() -> str:
    """DuckDB twin of the ADC search (`functions.vectors.ivf_pq_adc_topk`
    + `adc_tables`) as chained CTEs over the km/pqt relations: the three
    lookup tables (cell norms, centroid·codeword cross terms, codeword
    norms) and the per-query subspace table are each an ordered
    ``list_sum`` fold over the SAME codebook doubles the Spark literals
    hold; per-candidate sums force ascending-m order with ``list(v ORDER
    BY m)`` to match the Spark side's ascending-m ``F.aggregate``."""
    d = _PQ_D
    dot_qc = _DOT_SQL.format(a="a.embedding", b="c.centroid")
    nq = _NORMSQ_SQL.format(a="a.embedding")
    refine_cos = (
        f"ROUND({_DOT_SQL.format(a='e.embedding', b='q.qv')}"
        f" / (SQRT({_NORMSQ_SQL.format(a='e.embedding')}) * SQRT({_NORMSQ_SQL.format(a='q.qv')})), 6)"
    )
    return f"""adc_cn AS (
      SELECT cell_id, {_NORMSQ_SQL.format(a='centroid')} AS v FROM km_cents
    ),
    adc_t3 AS (
      SELECT m, cw, list_sum(list_transform(generate_series(1, {d}),
               i -> CAST(t.sub[i] AS DOUBLE) * CAST(t.sub[i] AS DOUBLE))) AS v
      FROM pqt_cents t
    ),
    adc_t2 AS (
      SELECT k.cell_id, t.m, t.cw,
             list_sum(list_transform(generate_series(1, {d}),
               i -> CAST(k.centroid[t.m*{d}+i] AS DOUBLE) * CAST(t.sub[i] AS DOUBLE))) AS v
      FROM km_cents k CROSS JOIN pqt_cents t
    ),
    adc_q AS MATERIALIZED (
      SELECT a.vec_id AS query_id, a.embedding AS qv, a.cell_id,
             {dot_qc} AS qdotc, SQRT({nq}) AS qn
      FROM tassigned a JOIN km_cents c USING (cell_id)
      WHERE a.vec_id < {N_QUERY_VECTORS}
    ),
    adc_qlut AS MATERIALIZED (
      SELECT q.query_id, t.m, t.cw,
             list_sum(list_transform(generate_series(1, {d}),
               i -> CAST(q.qv[t.m*{d}+i] AS DOUBLE) * CAST(t.sub[i] AS DOUBLE))) AS v
      FROM adc_q q CROSS JOIN pqt_cents t
    ),
    adc_parts AS (
      SELECT q.query_id, k.vec_id, q.cell_id, q.qdotc, q.qn,
             list_sum(list(ql.v ORDER BY k.m)) AS lsum,
             list_sum(list(t2.v ORDER BY k.m)) AS t2sum,
             list_sum(list(t3.v ORDER BY k.m)) AS t3sum
      FROM pqt_codes k
      JOIN tassigned c ON k.vec_id = c.vec_id
      JOIN adc_q q ON q.cell_id = c.cell_id AND k.vec_id <> q.query_id
      JOIN adc_qlut ql ON ql.query_id = q.query_id AND ql.m = k.m AND ql.cw = k.cw
      JOIN adc_t2 t2 ON t2.cell_id = c.cell_id AND t2.m = k.m AND t2.cw = k.cw
      JOIN adc_t3 t3 ON t3.m = k.m AND t3.cw = k.cw
      GROUP BY q.query_id, k.vec_id, q.cell_id, q.qdotc, q.qn
    ),
    adc_coarse AS (
      SELECT query_id, vec_id, cell_id FROM (
        SELECT p.query_id, p.vec_id, p.cell_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
                 ROUND((p.qdotc + p.lsum) / (p.qn * SQRT(n.v + 2*p.t2sum + p.t3sum)), 6) DESC,
                 p.vec_id) AS crnk
        FROM adc_parts p JOIN adc_cn n ON p.cell_id = n.cell_id
      ) WHERE crnk <= {COARSE_K}
    ),
    adc_arm AS (
      SELECT query_id, vec_id AS neighbor_id, cell_id, cos_sim_r, rank FROM (
        SELECT a.query_id, a.vec_id, a.cell_id,
               {refine_cos} AS cos_sim_r,
               ROW_NUMBER() OVER (PARTITION BY a.query_id ORDER BY
                 {refine_cos} DESC, a.vec_id) AS rank
        FROM adc_coarse a
        JOIN embeddings e ON a.vec_id = e.vec_id
        JOIN adc_q q ON a.query_id = q.query_id
      ) WHERE rank <= {TOP_K}
    ),
    adc_hardneg AS (
      SELECT query_id, vec_id AS neighbor_id, cell_id, cos_sim_r, rank FROM (
        SELECT a.query_id, a.vec_id, a.cell_id,
               {refine_cos} AS cos_sim_r,
               ROW_NUMBER() OVER (PARTITION BY a.query_id ORDER BY
                 {refine_cos} DESC, a.vec_id) AS rank
        FROM adc_coarse a
        JOIN embeddings e ON a.vec_id = e.vec_id
        JOIN adc_q q ON a.query_id = q.query_id
        WHERE {refine_cos} < {NEARDUP_COS_FOR_MINING}
      ) WHERE rank <= {HARD_NEG_K}
    )"""


@register(
    "q_ann_ivf_topk",
    oracle=f"""
    WITH cents AS (
      SELECT vec_id AS cell_id, embedding AS centroid FROM embeddings WHERE vec_id < {N_CELLS}
    ),
    assigned AS MATERIALIZED ({_ASSIGNED_SQL}),
    q AS (SELECT vec_id AS query_id, embedding AS qv, cell_id FROM assigned WHERE vec_id < {N_QUERY_VECTORS}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, cell_id FROM assigned WHERE vec_id >= {N_QUERY_VECTORS}),
    ranked AS ({_cell_ranked_sql('q', 'c')}),
    {_km_sql()},
    tassigned AS MATERIALIZED ({_assigned_sql('km_cents')}),
    tq AS (SELECT vec_id AS query_id, embedding AS qv, cell_id FROM tassigned WHERE vec_id < {N_QUERY_VECTORS}),
    tc AS (SELECT vec_id AS neighbor_id, embedding AS cv, cell_id FROM tassigned WHERE vec_id >= {N_QUERY_VECTORS}),
    tranked AS ({_cell_ranked_sql('tq', 'tc')}),
    q2 AS (
      SELECT vec_id AS query_id, embedding AS qv, cell_id
      FROM ({_assigned_sql('km_cents', src=f'(SELECT * FROM embeddings WHERE vec_id < {N_QUERY_VECTORS})', rn_pred='rn <= 2')})
    ),
    npranked AS ({_cell_ranked_sql('q2', 'tc')}),
    pq_resid AS MATERIALIZED ({_resid_sql()}),
    {_pqt_sql()},
    pq_cand AS MATERIALIZED (
      SELECT a.vec_id, a.embedding, a.cell_id,
             list_transform(generate_series(1, {EMB_DIM}),
                            i -> k.centroid[i] + r.deq[i]) AS deq
      FROM tassigned a
      JOIN pqt_recon r USING (vec_id)
      JOIN km_cents k ON a.cell_id = k.cell_id
    ),
    pq_coarse AS (
      SELECT query_id, vec_id, cell_id, embedding, qv,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               ROUND({_DOT_SQL.format(a='deq', b='qv')}
                 / (SQRT({_NORMSQ_SQL.format(a='deq')}) * SQRT({_NORMSQ_SQL.format(a='qv')})), 6) DESC,
               vec_id) AS crnk
      FROM pq_cand c
      JOIN (SELECT vec_id AS query_id, embedding AS qv, cell_id FROM tassigned WHERE vec_id < {N_QUERY_VECTORS}) qc
        USING (cell_id)
      WHERE c.vec_id <> qc.query_id
    ),
    pq_arm AS (
      SELECT query_id, vec_id AS neighbor_id, cell_id, cos_sim_r, rank FROM (
        SELECT query_id, vec_id, cell_id,
               ROUND({_DOT_SQL.format(a='embedding', b='qv')}
                 / (SQRT({_NORMSQ_SQL.format(a='embedding')}) * SQRT({_NORMSQ_SQL.format(a='qv')})), 6) AS cos_sim_r,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 ROUND({_DOT_SQL.format(a='embedding', b='qv')}
                   / (SQRT({_NORMSQ_SQL.format(a='embedding')}) * SQRT({_NORMSQ_SQL.format(a='qv')})), 6) DESC,
                 vec_id) AS rank
        FROM pq_coarse WHERE crnk <= {COARSE_K}
      ) WHERE rank <= {TOP_K}
    ),
    {_adc_sql()}
    SELECT 'flat' AS method, query_id, neighbor_id, cell_id, cos_sim_r, rank
    FROM ranked WHERE rank <= {TOP_K}
    UNION ALL
    SELECT 'pq' AS method, query_id, neighbor_id, cell_id, cos_sim_r, rank
    FROM pq_arm
    UNION ALL
    SELECT 'adc' AS method, query_id, neighbor_id, cell_id, cos_sim_r, rank
    FROM adc_arm
    UNION ALL
    SELECT 'hardneg' AS method, query_id, neighbor_id, cell_id, cos_sim_r, rank
    FROM adc_hardneg
    UNION ALL
    SELECT 'trained' AS method, query_id, neighbor_id, cell_id, cos_sim_r, rank
    FROM tranked WHERE rank <= {TOP_K}
    UNION ALL
    SELECT 'nprobe2' AS method, query_id, neighbor_id, cell_id, cos_sim_r, rank
    FROM npranked WHERE rank <= {TOP_K}
    ORDER BY method, query_id, rank
    """,
    survey_ref=(
        "similarity: IVF-cell ANN (broadcast centroid assignment) — flat arm (exact "
        "in-cell cosine, placeholder codebook), pq arm (the COMPOSED IVF-PQ layout of "
        "functions/vectors.ivf_pq_topk), adc arm (precomputed-table ADC search over "
        "the stored codes column — functions/vectors.ivf_pq_adc_topk), trained arm "
        "(deterministic distributed k-means codebook — functions/kmeans.py, the "
        "FAISS-style deployment path), nprobe2 arm (multi-cell probe recall dial, "
        "ivf_probe_cells at nprobe=2), hardneg arm (r11: contrastive hard-negative "
        "mining riding the ADC refine candidate stream — the deployment path of "
        "q_cosine_topk's exact-scan hard_neg arm)"
    ),
    tags=("similarity", "sketch"),
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, six arms tagged by ``method``:

    - ``flat``: exact cosine over every candidate in the query's cell
      (query vectors excluded from the candidate side), PLACEHOLDER
      codebook (first N_CELLS vectors) — the layout baseline;
    - ``pq``: the COMPOSED IVF-PQ layout (`functions/vectors.ivf_pq_topk`)
      under the TRAINED codebooks with RESIDUAL encoding — k-means cell
      routing, candidates coarse-ranked on ``centroid + PQ(vec −
      centroid)`` against per-subspace codewords trained on residuals
      (the FAISS IVFPQ construction; the store persists the M-int codes
      and this arm derives the reconstruction as a map-side lookup
      riding the scan), COARSE_K survivors re-ranked exactly.
      Candidates exclude only the query itself — generic-corpus
      semantics, mirrored by the oracle. (The placeholder-codebook PQ
      layout remains stage-wise proven in q_quantized_refine_topk; here
      the composed search runs what a deployment runs.);
    - ``adc``: the same trained residual-PQ index searched by
      ASYMMETRIC DISTANCE COMPUTATION (`functions/vectors
      .ivf_pq_adc_topk` — FAISS's precomputed-table IVFPQ): the coarse
      pass scans ONLY the stored M-int ``codes`` column (no ``deq``, no
      float vectors — column pruning makes PQ's bytes-per-vector promise
      an I/O fact, asserted in tests/test_plan_quality) and scores each
      candidate with 3·PQ_M lookup-table reads; the refine pass fetches
      vectors for the COARSE_K survivors through a second, partition-
      and column-pruned read of the same store;
    - ``trained``: trained-centroid IVF-flat — k-means centroids
      (functions/kmeans.py: md5-ranked init, fixed Lloyd iterations,
      integer-exact means), then the same flat search. Trained centroids
      are what keeps cells balanced on real data (the placeholder's
      hot-cell failure mode — see tests/test_kmeans.py for the balance
      proof on a clustered corpus);
    - ``nprobe2``: the recall dial — each query probes its TWO nearest
      cells (`ivf_probe_cells`), candidate work ×2, recovering true
      neighbours that sit across a cell boundary from the query. Corpus
      vectors live in exactly one cell, so a (query, neighbor) pair can
      match on at most one probe — no dedup shuffle;
    - ``hardneg`` (r11): contrastive hard-negative mining AS AN INDEX
      SEARCH — the same ADC coarse pass (codes-only scan), but the
      refine stream is filtered by the false-negative guard
      (cos < `NEARDUP_COS_FOR_MINING`) before the top-`HARD_NEG_K`
      window (`ivf_pq_adc_topk(exclude_cos_at_or_above=...)`). This is
      the deployment path `q_cosine_topk`'s hard_neg arm declares: at
      100 TB mining rides the index's candidate stream, never an O(n²)
      scored scan; recall vs the exact mining is measured in
      tests/test_vectors.py::TestAdcSearch.

    Codebook training (IVF centroids + PQ codewords) and the corpus
    encode (cell ids + PQ codes per vector) happen ONCE per corpus — the
    stored-index semantics of a real vector lake (FAISS trains and
    encodes offline, searches online): `_ivf_index` memoizes the three
    index frames per (session, sf_dir) behind lazy localCheckpoints, so
    the registered arms time SEARCH against the stored index and the
    bench's ``training`` arm prices the full offline build explicitly.

    Every arm's candidate side rides the hot-cell occupancy guard
    (`capped_cell_candidates`): at fixture scale the cap never bites
    (test-pinned, so the cap-free oracles see identical rows); on real
    data it bounds the per-cell scan the same way the LSH bucket cap
    bounds band joins."""
    from sentinela_py_spark.functions.vectors import ivf_pq_adc_rank

    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))
    index = _ivf_index(e, sf_dir)
    # r15 union-shape work (r14 verdict #3 — collapse the per-arm probe
    # fan-out over the stored index): (a) arm-level orderBys dropped —
    # the union's global orderBy supersedes them, so each was a dead
    # Exchange+Sort pair (guide §2.4); (b) trained + nprobe2 read the
    # ONE checkpointed capped-candidate view instead of re-running the
    # cap window each; (c) adc + hardneg rank ONE shared coarse+refine
    # stream (their plans differed only in the final filter/k cut — the
    # whole codes scan, ADC scoring, coarse window and refine join ran
    # twice for identical values). Dedicated bench arm builders keep the
    # original full per-arm paths, so arm rows price what they always
    # priced; every arm's VALUES are expression-identical (oracle-pinned).
    flat = _ivf_flat_arm(e, cand=index["cand"], sort=False)

    def _as_arm(df: DataFrame, method: str) -> DataFrame:
        return df.select(
            F.lit(method).alias("method"),
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell_id",
            F.col("cosine").alias("cos_sim_r"),
            F.col("rnk").alias("rank"),
        )

    pq = _as_arm(_ivf_pq_arm(e, sf_dir, index), "pq")
    refined = _ivf_adc_refined(e, sf_dir, index).transform(barrier)
    adc = _as_arm(ivf_pq_adc_rank(refined, k=TOP_K), "adc")
    hardneg = _as_arm(
        ivf_pq_adc_rank(
            refined,
            k=HARD_NEG_K,
            exclude_cos_at_or_above=NEARDUP_COS_FOR_MINING,
        ),
        "hardneg",
    )
    trained = _ivf_flat_arm(
        e, assigned=index["t_assigned"], cand=index["t_cand"],
        method="trained", sort=False,
    )
    np2 = _ivf_nprobe2_arm(e, sf_dir, index, cand=index["t_cand"], sort=False)
    return (
        flat.unionByName(pq)
        .unionByName(adc)
        .unionByName(hardneg)
        .unionByName(trained)
        .unionByName(np2)
        .orderBy("method", "query_id", "rank")
    )


register_arms(
    "q_quantized_refine_topk",
    int8=_method_arm("q_quantized_refine_topk", "int8"),
    pq=_method_arm("q_quantized_refine_topk", "pq"),
)

# Both arms' dominant cost IS the shared scored cross join (the lazy
# checkpoint both windows read), so the filtered-union form prices each
# arm correctly here — the barrier rule's failure mode (a pruned branch
# executing work the arm never reads) does not apply to a common base.
register_arms(
    "q_cosine_topk",
    topk=_method_arm("q_cosine_topk", "topk"),
    hard_neg=_method_arm("q_cosine_topk", "hard_neg"),
)


# Hot-cell guard default: shared with the LSH bucket cap — far above any
# fixture cell (sf0.1: ~250 vectors/cell at N_CELLS=8, test-pinned), low
# enough to bound a degenerate cell's per-query scan at deployment.
IVF_MAX_CELL_SIZE = DEFAULT_MAX_BUCKET_SIZE


def capped_cell_candidates(
    assigned: DataFrame, cap: int | None = IVF_MAX_CELL_SIZE
) -> tuple[DataFrame, DataFrame | None]:
    """(kept, audit): the IVF analog of the LSH hot-bucket guard — bound
    every cell of a (vec_id, embedding, cell_id) candidate frame to
    ``cap`` rows (deterministic xxhash64 sample; operators/scale
    .cap_buckets) so one degenerate cell cannot absorb the corpus and
    turn every query's candidate scan into brute force. With TRAINED
    centroids the cap should never bite (k-means balances occupancy —
    tests/test_kmeans.py); it stays armed as the audit-backed backstop,
    exactly like the LSH side. The audit frame (None when uncapped) lists
    every truncated cell — registered queries evaluate kept only and
    their oracles model no cap, which is sound because the cap provably
    never bites at fixture scale (tests/test_skew_guard.py pins this)."""
    from sentinela_py_spark.operators.scale import cap_buckets

    if cap is None:
        return assigned, None
    return cap_buckets(assigned, ["cell_id"], cap, ["vec_id"])


def _ivf_search(q: DataFrame, c: DataFrame, method: str, sort: bool = True) -> DataFrame:
    """Exact-cosine in-cell search: (query_id, qv, cell_id) × broadcast
    against (neighbor_id, cv, cell_id), per-query top-k — the flat-search
    body shared by the flat / trained / nprobe2 arms. ``sort=False``
    (r15) skips the arm-level orderBy for UNION consumers: inside the
    registered query the union's own global orderBy re-sorts anyway, so
    each arm-level sort was a dead Exchange+Sort pair in the physical
    plan (guide §2.4 — an orderBy used only to make output deterministic
    is an accidental shuffle when a later sort supersedes it). The
    dedicated bench arm builders keep the sort (their r4-era timing
    surface includes it — the r11 sorted_arm rule)."""
    scored = c.join(F.broadcast(q), "cell_id").select(
        "query_id", "neighbor_id", "cell_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim_r"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim_r").desc(), F.col("neighbor_id"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            F.lit(method).alias("method"),
            "query_id", "neighbor_id", "cell_id", "cos_sim_r", "rank",
        )
    )
    return out.orderBy("query_id", "rank") if sort else out


def _ivf_flat_arm(
    e: DataFrame,
    assigned: DataFrame | None = None,
    method: str = "flat",
    cand: DataFrame | None = None,
    sort: bool = True,
) -> DataFrame:
    """The IVF-flat (exact in-cell) arm of q_ann_ivf_topk — pass a
    trained ``assigned`` frame to reuse the search under another
    codebook, and/or a pre-capped ``cand`` frame shared across arms."""
    assigned = ivf_assign(e) if assigned is None else assigned
    q = assigned.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "cell_id"
    )
    if cand is None:
        cand, _audit = capped_cell_candidates(
            assigned.filter(F.col("vec_id") >= N_QUERY_VECTORS)
        )
    c = cand.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), "cell_id"
    )
    return _ivf_search(q, c, method, sort=sort)


def _train_codebooks(e: DataFrame) -> tuple[list, list]:
    """One full un-memoized training run: IVF centroids (cosine k-means),
    then PQ codewords trained on the RESIDUALS ``vec − centroid(cell)``
    — the FAISS IVFPQ training order (coarse quantizer first, product
    codewords on what it leaves behind): at the same byte budget the
    codebook spends its 16 codewords per subspace on within-cell
    variation instead of global position. The residual frame is one
    map-side assignment + subtraction against the freshly trained
    centroids (functions/kmeans.ivf_residuals), checkpointed so the
    PQ Lloyd iterations don't re-derive it per scan; its md5-ranked seed
    scan gives the residual-space init."""
    from sentinela_py_spark.functions.kmeans import (
        KMEANS_ITERS,
        ivf_residuals,
        kmeans_centroids_local,
        pq_train_codebooks_local,
    )

    cents = kmeans_centroids_local(e, N_CELLS, iters=KMEANS_ITERS, dim=EMB_DIM)
    resid = ivf_residuals(e, cents).transform(barrier)
    books = pq_train_codebooks_local(
        resid, m=PQ_M, k=PQ_K, iters=KMEANS_ITERS, dim=EMB_DIM
    )
    return cents, books


def _trained_codebooks(e: DataFrame, sf_dir: str) -> tuple[list, list]:
    """The IVF centroids and residual-PQ codebooks of this corpus,
    trained once per session and sf_dir. Training is deterministic
    (fixed init, fixed iterations), so one training serves every arm,
    bench rep and correctness run, the way FAISS trains a codebook once
    and serves searches against it. The bench `training` arm calls
    `_train_codebooks` directly so its cost stays measured."""
    return memo("codebooks", e.sparkSession, sf_dir, lambda: _train_codebooks(e))


def _ivf_index(e: DataFrame, sf_dir: str) -> dict[str, DataFrame]:
    """The stored ANN index, built once per session and sf_dir, laid out
    the way a vector lake stores it: cell assignments and PQ codes are
    computed at write time and read back by every search. Each index
    frame is one lazy barrier, so the first action pays the build; the
    bench `training` arm prices the full offline path explicitly."""
    return memo("ivf_index", e.sparkSession, sf_dir, lambda: _build_ivf_index(e, sf_dir))


def _build_ivf_index(e: DataFrame, sf_dir: str) -> dict[str, DataFrame]:
    from sentinela_py_spark.functions.kmeans import pq_stitch_codewords
    from sentinela_py_spark.functions.litutil import fast_lit
    from sentinela_py_spark.functions.vectors import (
        pq_codes_reconstruct,
        pq_residual_codes,
        read_ann_index,
        write_ann_index,
    )

    spark = e.sparkSession
    cents, books = _trained_codebooks(e, sf_dir)
    cand, _a1 = capped_cell_candidates(
        ivf_assign(e).filter(F.col("vec_id") >= N_QUERY_VECTORS)
    )
    t_assigned = assign_cells_literal(e, cents).transform(barrier)
    # Capped corpus-candidate view under the trained codebook,
    # derived ONCE from the checkpointed assignment and shared by
    # the trained + nprobe2 arms, so neither re-runs the cap window
    # over its own t_assigned scan.
    t_cand, _a2 = capped_cell_candidates(
        t_assigned.filter(F.col("vec_id") >= N_QUERY_VECTORS)
    )
    seed_vecs = fast_lit([[float(x) for x in v] for v in pq_stitch_codewords(books)], 2)
    cent_lit = fast_lit([[float(x) for x in v] for _, v in sorted(cents)], 2)
    t_for_pq, _a3 = capped_cell_candidates(t_assigned)  # cap BEFORE encode
    # RESIDUAL encode (FAISS IVFPQ), stored in its MINIMAL form: the
    # M-int codes of PQ(vec − centroid) against codewords trained on
    # residuals (_train_codebooks), beside the raw vector (the refine
    # pass's cold column). The reconstruction deq = centroid +
    # codeword(code) is NOT persisted — at deployment scale a stored
    # deq column is a second copy of the corpus; searches that want
    # it derive it read-side by pure lookup (pq_codes_reconstruct,
    # bit-identical to the write-time fused form — test-pinned).
    row_cent = F.element_at(cent_lit, (F.col("cell_id") + 1).cast("int"))
    pq_cand = t_for_pq.select(
        "vec_id",
        "embedding",
        "cell_id",
        pq_residual_codes(
            F.col("embedding"), row_cent, seed_vecs, PQ_M, EMB_DIM
        ).alias("codes"),
    )
    # The PQ index frame is PERSISTED through the real lake layout —
    # `vectors.write_ann_index` (parquet partitioned by cell_id) —
    # and read back for every search, so the registered/benched pq
    # arm runs the DEPLOYMENT plan: a partition-pruned parquet scan
    # of the probed cells, not an in-memory checkpoint. Doubles
    # round-trip parquet bit-exactly, so oracle parity is unaffected.
    store = temp_tree("ann", spark, sf_dir)
    write_ann_index(pq_cand, store)

    # the pq (reconstruct-coarse) arm derives deq from the stored
    # codes as a map-side lookup riding the scan
    pq_view = read_ann_index(spark, store).withColumn(
        "deq",
        pq_codes_reconstruct(
            F.col("codes"),
            F.element_at(cent_lit, (F.col("cell_id") + 1).cast("int")),
            seed_vecs,
            PQ_M,
            EMB_DIM,
        ),
    )
    return {
        "cand": cand.transform(barrier),
        "t_assigned": t_assigned,
        "t_cand": t_cand.transform(barrier),
        "pq_cand": pq_view,
        # the adc arm's TWO independent reads of the same store
        # (codes-only coarse scan, vector-fetch refine scan) — two
        # frames so each scan prunes its own columns; opened once
        # here so per-search cost excludes file listing, like every
        # other arm's memoized input
        "adc_codes": read_ann_index(spark, store),
        "adc_vecs": read_ann_index(spark, store),
        "store": store,
    }


def _ivf_training_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench arm: time the FULL offline index build, memo bypassed —
    codebook training (IVF + residual-PQ k-means) plus the corpus encode
    (cell id + the M-int residual codes per vector — exactly the frame
    `_ivf_index` writes; the reconstruction is read-side lookup, not a
    stored column). Materializing the returned frame IS the encode
    pass."""
    from sentinela_py_spark.functions.kmeans import pq_stitch_codewords
    from sentinela_py_spark.functions.litutil import fast_lit
    from sentinela_py_spark.functions.vectors import pq_residual_codes

    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))
    cents, books = _train_codebooks(e)
    seed_vecs = fast_lit([[float(x) for x in v] for v in pq_stitch_codewords(books)], 2)
    cent_lit = fast_lit([[float(x) for x in v] for _, v in sorted(cents)], 2)
    row_cent = F.element_at(cent_lit, (F.col("cell_id") + 1).cast("int"))
    encoded, _audit = capped_cell_candidates(assign_cells_literal(e, cents))
    return encoded.select(
        "vec_id",
        "cell_id",
        pq_residual_codes(
            F.col("embedding"), row_cent, seed_vecs, PQ_M, EMB_DIM
        ).alias("codes"),
    )


def _ivf_pq_arm(e: DataFrame, sf_dir: str, index: dict | None = None) -> DataFrame:
    """The trained IVF-PQ search over the stored index — the ONE
    definition both the registered pq arm and its bench builder use (a
    second call site drifting from the oracle-checked one would make the
    bench time a different plan than correctness checks)."""
    from sentinela_py_spark.functions.vectors import ivf_pq_topk

    index = _ivf_index(e, sf_dir) if index is None else index
    cents, _books = _trained_codebooks(e, sf_dir)
    return ivf_pq_topk(
        e,
        e.filter(F.col("vec_id") < N_QUERY_VECTORS),
        k=TOP_K,
        coarse_k=COARSE_K,
        n_cells=N_CELLS,
        dim=EMB_DIM,
        centroids=cents,
        encoded_corpus=index["pq_cand"],
    )


def _ivf_adc_arm(e: DataFrame, sf_dir: str, index: dict | None = None) -> DataFrame:
    """The ADC search arm — `functions.vectors.ivf_pq_adc_topk` over the
    stored index's CODES column: the coarse pass scans (vec_id, cell_id,
    codes) and scores by lookup-table sums (3·PQ_M element_at + adds per
    candidate — no reconstruction, no float-vector read); the refine
    pass is a second, independently column-pruned read of the same store
    fetching vectors for the COARSE_K survivors only. The deployment
    search FAISS calls precomputed-table IVFPQ."""
    index = _ivf_index(e, sf_dir) if index is None else index
    cents, books = _trained_codebooks(e, sf_dir)
    from sentinela_py_spark.functions.vectors import ivf_pq_adc_topk

    return ivf_pq_adc_topk(
        index["adc_codes"],
        index["adc_vecs"],
        e.filter(F.col("vec_id") < N_QUERY_VECTORS),
        cents,
        books,
        k=TOP_K,
        coarse_k=COARSE_K,
        m=PQ_M,
        dim=EMB_DIM,
    )


def _ivf_adc_refined(
    e: DataFrame, sf_dir: str, index: dict | None = None
) -> DataFrame:
    """The rank-free ADC candidate stream (codes-only coarse pass +
    exact-cosine refine at COARSE_K) the REGISTERED query's adc and
    hardneg arms both cut (r15): the two arms' plans differed only in
    the final (k, exclude) window, so the whole coarse scan + scoring +
    refine join ran twice for identical values. The dedicated bench
    arms keep calling the fused `ivf_pq_adc_topk` (full per-arm
    pricing); `ivf_pq_adc_rank` over this stream is expression-identical
    to the fused call's tail (oracle-pinned)."""
    from sentinela_py_spark.functions.vectors import ivf_pq_adc_refined

    index = _ivf_index(e, sf_dir) if index is None else index
    cents, books = _trained_codebooks(e, sf_dir)
    return ivf_pq_adc_refined(
        index["adc_codes"],
        index["adc_vecs"],
        e.filter(F.col("vec_id") < N_QUERY_VECTORS),
        cents,
        books,
        coarse_k=COARSE_K,
        m=PQ_M,
        dim=EMB_DIM,
    )


def _ivf_adc_hardneg_arm(
    e: DataFrame, sf_dir: str, index: dict | None = None
) -> DataFrame:
    """Hard-negative mining over the ADC refine stream (r11 — the
    deployment path of q_cosine_topk's exact-scan hard_neg arm): the
    SAME stored-index coarse pass as the adc arm, with the refine
    candidates filtered by the false-negative guard
    (`NEARDUP_COS_FOR_MINING`) before the top-`HARD_NEG_K` window. At
    100 TB this is the only mining shape that works: the candidate pool
    comes from the codes-only index scan, the guard is a filter riding
    the refine read, and no O(n²) scored scan exists anywhere."""
    index = _ivf_index(e, sf_dir) if index is None else index
    cents, books = _trained_codebooks(e, sf_dir)
    from sentinela_py_spark.functions.vectors import ivf_pq_adc_topk

    return ivf_pq_adc_topk(
        index["adc_codes"],
        index["adc_vecs"],
        e.filter(F.col("vec_id") < N_QUERY_VECTORS),
        cents,
        books,
        k=HARD_NEG_K,
        coarse_k=COARSE_K,
        m=PQ_M,
        dim=EMB_DIM,
        exclude_cos_at_or_above=NEARDUP_COS_FOR_MINING,
    )


# Dedicated per-arm builders (NOT method_arm filters of the 5-arm
# union): the union's construction cost — every arm's expression trees,
# built via py4j — lands in whatever arm is being timed, which poisoned
# the r4→r5 flat-arm comparison (~+0.7 s of other arms' build). Each
# builder assembles ONLY its own subtree over the shared stored index.
def _ivf_arm_builder(arm: str):
    if arm not in ("flat", "trained", "nprobe2", "pq", "adc", "hardneg"):
        raise ValueError(f"unknown q_ann_ivf_topk arm {arm!r}")

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))
        index = _ivf_index(e, sf_dir)
        if arm == "flat":
            return _ivf_flat_arm(e, cand=index["cand"])
        if arm == "trained":
            return _ivf_flat_arm(e, assigned=index["t_assigned"], method="trained")
        if arm == "nprobe2":
            return _ivf_nprobe2_arm(e, sf_dir, index)
        if arm == "adc":
            return _ivf_adc_arm(e, sf_dir, index)
        if arm == "hardneg":
            return _ivf_adc_hardneg_arm(e, sf_dir, index)
        return _ivf_pq_arm(e, sf_dir, index)

    return build


register_arms(
    "q_ann_ivf_topk",
    flat=_ivf_arm_builder("flat"),
    pq=_ivf_arm_builder("pq"),
    adc=_ivf_arm_builder("adc"),
    hardneg=_ivf_arm_builder("hardneg"),
    trained=_ivf_arm_builder("trained"),
    nprobe2=_ivf_arm_builder("nprobe2"),
    training=_ivf_training_probe,
)


def _ivf_nprobe2_arm(
    e: DataFrame,
    sf_dir: str,
    index: dict | None = None,
    cand: DataFrame | None = None,
    sort: bool = True,
) -> DataFrame:
    """q_ann_ivf_topk's nprobe=2 arm over the TRAINED codebook: corpus
    cells from the stored index, query side exploded to its 2 nearest
    trained centroids (`probe_cells_literal` — the recall dial,
    previously pytest-only, now demonstrated on the deployed index so
    the placeholder codebook survives only as the flat baseline). The
    flat search has no coarse-cut, so unlike the PQ path there is no
    coarse_k∝nprobe coupling to compensate — the wider pool feeds the
    exact top-k directly."""
    index = _ivf_index(e, sf_dir) if index is None else index
    cents, _books = _trained_codebooks(e, sf_dir)
    probes = probe_cells_literal(
        e.filter(F.col("vec_id") < N_QUERY_VECTORS), cents, nprobe=2
    )
    q = probes.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "cell_id"
    )
    if cand is None:
        cand, _audit = capped_cell_candidates(
            index["t_assigned"].filter(F.col("vec_id") >= N_QUERY_VECTORS)
        )
    c = cand.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), "cell_id"
    )
    return _ivf_search(q, c, "nprobe2", sort=sort)


# ---------------------------------------------------------------------------
# Quantized coarse→refine ANN (functions/vectors.py) — driver-checked.
# ---------------------------------------------------------------------------

# int8 min/max quantization in DuckDB, mirroring functions/vectors.py:
# scale = (max-min)/255 (1.0 for constant vectors); code = round((v-min)/scale)
# - 128; dequantized = (code+128)*scale + min = round((v-min)/scale)*scale + min
# (the ±128 shift cancels, so the oracle skips the tinyint materialization —
# round() is half-away-from-zero in both engines and the operand is ≥ 0).
_DEQ_SQL = (
    "list_transform({v}, x -> round((CAST(x AS DOUBLE) - CAST(list_min({v}) AS DOUBLE)) / "
    "(CASE WHEN CAST(list_max({v}) AS DOUBLE) > CAST(list_min({v}) AS DOUBLE) "
    "THEN (CAST(list_max({v}) AS DOUBLE) - CAST(list_min({v}) AS DOUBLE)) / 255.0 ELSE 1.0 END), 0) "
    "* (CASE WHEN CAST(list_max({v}) AS DOUBLE) > CAST(list_min({v}) AS DOUBLE) "
    "THEN (CAST(list_max({v}) AS DOUBLE) - CAST(list_min({v}) AS DOUBLE)) / 255.0 ELSE 1.0 END) "
    "+ CAST(list_min({v}) AS DOUBLE))"
)


def _refine_arm_sql(qz_cte: str) -> str:
    """Coarse top-COARSE_K on the `deq` approximation, exact refine to
    TOP_K — shared by the int8 and PQ oracle arms."""
    return f"""
      SELECT query_id, vec_id, cosine, rnk FROM (
        SELECT query_id, vec_id,
               ROUND({_DOT_SQL.format(a='embedding', b='qv')}
                 / (SQRT({_NORMSQ_SQL.format(a='embedding')}) * SQRT({_NORMSQ_SQL.format(a='qv')})), 6) AS cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 ROUND({_DOT_SQL.format(a='embedding', b='qv')}
                   / (SQRT({_NORMSQ_SQL.format(a='embedding')}) * SQRT({_NORMSQ_SQL.format(a='qv')})), 6) DESC,
                 vec_id) AS rnk
        FROM (
          SELECT query_id, vec_id, embedding, qv,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                   ROUND({_DOT_SQL.format(a='deq', b='qv')}
                     / (SQRT({_NORMSQ_SQL.format(a='deq')}) * SQRT({_NORMSQ_SQL.format(a='qv')})), 6) DESC,
                   vec_id) AS crnk
          FROM {qz_cte} CROSS JOIN qs
          WHERE vec_id <> query_id
        ) WHERE crnk <= {COARSE_K}
      ) WHERE rnk <= {TOP_K}
    """


@register(
    "q_quantized_refine_topk",
    oracle=f"""
    WITH qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERY_VECTORS}),
    qz AS (
      SELECT vec_id, embedding, {_DEQ_SQL.format(v='embedding')} AS deq FROM embeddings
    ),
    seeds AS (SELECT vec_id AS cw, embedding AS cv FROM embeddings WHERE vec_id < {PQ_K}),
    pq_codes AS (
      SELECT vec_id, m, cw FROM (
        SELECT v.vec_id, mi.m, s.cw,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id, mi.m
                                  ORDER BY ROUND({_PQ_D2_SQL}, 9), s.cw) AS rn
        FROM embeddings v
        CROSS JOIN (SELECT UNNEST(generate_series(0, {PQ_M - 1})) AS m) mi
        CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    pq_qz AS (
      SELECT r.vec_id, e.embedding, r.deq FROM (
        SELECT vec_id, flatten(list(sub ORDER BY m)) AS deq FROM (
          SELECT c.vec_id, c.m, s.cv[c.m*{_PQ_D}+1 : c.m*{_PQ_D}+{_PQ_D}] AS sub
          FROM pq_codes c JOIN seeds s ON s.cw = c.cw
        ) GROUP BY vec_id
      ) r JOIN embeddings e USING (vec_id)
    )
    SELECT 'int8' AS method, query_id, vec_id, cosine, rnk FROM ({_refine_arm_sql('qz')})
    UNION ALL
    SELECT 'pq' AS method, query_id, vec_id, cosine, rnk FROM ({_refine_arm_sql('pq_qz')})
    ORDER BY method, query_id, rnk
    """,
    survey_ref=(
        "similarity at scale: compressed-representation coarse top-C → exact float refine "
        "of the C survivors — int8 arm (4× smaller scan) and product-quantization arm "
        "(M-byte codes, 32× smaller; the IVF-PQ family) — functions/vectors.py"
    ),
    tags=("similarity", "quantization"),
)
def q_quantized_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage compressed-representation ANN, both lake layouts in one
    result, each arm tagged:

    - ``int8``: coarse rank on dequantized per-vector min/max int8 codes
      (error ≤ scale/2, 1/4 the bytes of float32);
    - ``pq``: coarse rank on the product-quantization reconstruction —
      PQ_M subspaces × PQ_K deterministic codewords, PQ_M bytes per
      vector (32× smaller), encode+reconstruct fused map-side with the
      one-row codebook broadcast exactly like the IVF centroid row.

    Both arms keep COARSE_K survivors then re-rank exactly on the float
    vectors. The oracles reproduce the identical rounding/argmin algebra,
    so the *approximate* pipelines are exactly checkable. At 100 TB the
    coarse pass is the only one that touches every row — at 1/4 (int8) or
    1/32 (PQ) of the float bytes; the refine reads |Q|·C float vectors."""
    from sentinela_py_spark.functions.vectors import coarse_refine_topk, pq_refine_topk

    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))
    queries = e.filter(F.col("vec_id") < N_QUERY_VECTORS)
    int8 = coarse_refine_topk(e, queries, k=TOP_K, coarse_k=COARSE_K).select(
        F.lit("int8").alias("method"), "query_id", "vec_id", "cosine", "rnk"
    )
    pq = pq_refine_topk(e, queries, k=TOP_K, coarse_k=COARSE_K, dim=EMB_DIM).select(
        F.lit("pq").alias("method"), "query_id", "vec_id", "cosine", "rnk"
    )
    return int8.unionByName(pq).orderBy("method", "query_id", "rnk")
