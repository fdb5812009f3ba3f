"""Vector storage/compression helpers: per-vector int8 quantization.

At 100 TB an embedding lake stores float32 vectors at 4 bytes/dim;
min/max int8 quantization cuts that 4× (1 byte/dim + two scalars per
vector) with a bounded per-element error of scale/2 — the standard
coarse-search representation (the IVF/PQ family's simplest member).
Everything here is pure Column algebra over `array` columns
(`array_min/array_max/transform`), so quantization is a map-only
projection that rides the ingest scan, and dequantized math stays inside
whole-stage codegen.

The intended search shape at scale: coarse top-C on DEQUANTIZED codes
(4× less I/O on the big side), then exact refine of the C survivors
against the float column — `coarse_refine_topk` below. Recall loss is
bounded by the quantization error; tests assert recall==1.0 at C=3k on
the driver corpus.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "quantize_vec",
    "dequantize_vec",
    "quantize_embeddings",
    "coarse_refine_topk",
    "pq_codebook_seeds",
    "pq_reconstruct",
    "pq_reconstruct_vecs",
    "pq_codes_vecs",
    "pq_codes_reconstruct",
    "pq_residual_reconstruct_vecs",
    "pq_residual_codes",
    "pq_refine_topk",
    "ivf_pq_topk",
    "adc_tables",
    "adc_t2_mode",
    "ivf_pq_adc_topk",
    "write_ann_index",
    "read_ann_index",
    "read_ann_index_tree",
    "write_ann_index_tree_base",
    "tree_compacted_through",
    "compact_ann_index_tree",
]

_LEVELS = 255  # int8 code points (codes stored shifted to [-128, 127])


def quantize_vec(vec: Column) -> Column:
    """struct(codes: array<tinyint>, vmin: double, scale: double) — each
    element mapped to round((v - vmin)/scale) - 128. A constant vector
    (max == min) gets scale 1 and all-(-128) codes, which dequantize
    back to exactly vmin."""
    vmin = F.array_min(vec).cast("double")
    vmax = F.array_max(vec).cast("double")
    scale = F.when(vmax > vmin, (vmax - vmin) / F.lit(float(_LEVELS))).otherwise(F.lit(1.0))
    codes = F.transform(
        vec,
        lambda v: (F.round((v.cast("double") - vmin) / scale, 0) - 128).cast("tinyint"),
    )
    return F.struct(codes.alias("codes"), vmin.alias("vmin"), scale.alias("scale"))


def dequantize_vec(q: Column) -> Column:
    """array<double>: codes → (code + 128) * scale + vmin. Per-element
    absolute error ≤ scale/2 by construction."""
    return F.transform(
        q["codes"],
        lambda c: (c.cast("double") + 128) * q["scale"] + q["vmin"],
    )


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Add a `q` struct column (codes/vmin/scale) next to the float
    vector — the write-time projection of the compressed lake layout
    (codes in their own parquet column; float column optional cold
    storage)."""
    return embeddings.withColumn("q", quantize_vec(F.col("embedding")))


def coarse_refine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    coarse_k: int,
) -> DataFrame:
    """Two-stage ANN: rank candidates per query by cosine on DEQUANTIZED
    int8 codes (the 4×-smaller representation — at scale, the only pass
    that touches every row), keep ``coarse_k`` survivors, then re-rank
    those exactly on the float vectors and keep ``k``.

    Queries broadcast (small side); the coarse window partitions by
    query id, so per-query state is coarse_k rows. Output:
    (query_id, vec_id, cosine, rnk) — exact scores on the final ranking."""
    qz = quantize_embeddings(embeddings).select(
        F.col("vec_id"), F.col("embedding"), dequantize_vec(F.col("q")).alias("deq")
    )
    return _coarse_refine(qz, queries, k, coarse_k)


def _coarse_refine(
    qz: DataFrame,
    queries: DataFrame,
    k: int,
    coarse_k: int,
) -> DataFrame:
    """Shared coarse→refine ranker over a (id, float vec, `deq` approx
    vec) input — int8 and PQ reconstructions both feed this."""
    from pyspark.sql import Window as W

    from sentinela_py_spark.plans.simops import cosine

    qs = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
    )
    coarse_w = W.partitionBy("query_id").orderBy(
        F.col("coarse_cos").desc(), F.col("vec_id")
    )
    coarse = (
        qz.crossJoin(qs)
        .filter(F.col("vec_id") != F.col("query_id"))
        # 6dp rounding before ranking (as everywhere in simops): the
        # (score, id) order is then deterministic across engines and
        # partitionings, so the coarse_k cutoff is oracle-checkable
        .withColumn("coarse_cos", F.round(cosine(F.col("deq"), F.col("qvec")), 6))
        .withColumn("crnk", F.row_number().over(coarse_w))
        .filter(F.col("crnk") <= coarse_k)
    )
    exact_w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        coarse.withColumn("cosine", F.round(cosine(F.col("embedding"), F.col("qvec")), 6))
        .withColumn("rnk", F.row_number().over(exact_w))
        .filter(F.col("rnk") <= k)
        .select("query_id", F.col("vec_id"), "cosine", "rnk")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the other half of the IVF-PQ vector-lake
# family. The vector splits into PQ_M contiguous subvectors; each subvector
# is replaced by the id of its nearest codeword in that subspace's
# K-codeword codebook — dim·4 bytes shrink to M code bytes (32× at
# dim=64/M=8 vs float32, vs int8's 4×). "Training" is deterministic like
# IVF's: the codebook for every subspace is the matching slice of the
# first K corpus vectors, so both engines rebuild the identical structure
# and the approximation is exactly oracle-checkable.
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (subvector length = dim / PQ_M)
PQ_K = 16  # codewords per subspace


def pq_codebook_seeds(
    embeddings: DataFrame,
    n_codewords: int = PQ_K,
) -> DataFrame:
    """ONE-row DataFrame holding the codeword seed vectors (the first
    ``n_codewords`` by id, sorted) — broadcast into the encode step the
    same way the IVF centroid row is."""
    return (
        embeddings.filter(F.col("vec_id") < n_codewords)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("vec_id").alias("cw"), F.col("embedding").alias("cv")))
            ).alias("seeds")
        )
    )


def _sub_l2sq(a: Column, b: Column, start: int, d: int) -> Column:
    """Squared L2 between 1-based slices [start, start+d) of two vectors —
    left-to-right double fold, multiplication not pow, so Spark and the
    DuckDB oracle accumulate bit-identically."""
    diffs = F.zip_with(
        F.slice(a, start, d),
        F.slice(b, start, d),
        lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def pq_reconstruct(vec: Column, seeds: Column, m: int = PQ_M, dim: int = 64) -> Column:
    """`pq_reconstruct_vecs` over a struct-array codebook (the
    `pq_codebook_seeds` row shape) — extracts the vectors and delegates."""
    return pq_reconstruct_vecs(vec, F.transform(seeds, lambda s: s["cv"]), m, dim)


def pq_reconstruct_vecs(vec: Column, seed_vecs: Column, m: int = PQ_M, dim: int = 64) -> Column:
    """array<double>: the PQ approximation of ``vec`` — per subspace, the
    codeword slice minimizing squared L2 (9dp-rounded before the argmin,
    ties to the lowest codeword id = array order), concatenated back in
    subspace order. ``seed_vecs`` is a plain array<array<double>> of k
    full-dim codeword vectors — either the placeholder seeds or k-means
    trained codebooks stitched full-dim (functions/kmeans
    .pq_stitch_codewords); both ride this same encode algebra.
    Encode+reconstruct fused into one map-side expression: at scale the
    stored form is the M tinyint codes; reconstruction rides the scan."""
    d = dim // m

    # Let-bind the per-subspace distance array through a 1-element
    # transform: `ds` is a lambda variable, so the K subspace-L2 folds
    # evaluate once per (row, subspace) instead of twice (argmin = both
    # array_position and array_min reference them; Catalyst does not CSE
    # repeated subtrees inside one expression).
    def _best_codeword(mi):
        dists = F.transform(
            seed_vecs, lambda s: F.round(_sub_l2sq(vec, s, mi * d + 1, d), 9)
        )
        return F.transform(
            F.array(dists),
            lambda ds: F.element_at(
                seed_vecs, F.array_position(ds, F.array_min(ds)).cast("int")
            ),
        ).getItem(0)

    subs = F.transform(F.sequence(F.lit(0), F.lit(m - 1)), _best_codeword)
    return F.flatten(
        F.zip_with(
            subs,
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s, mi: F.transform(
                F.slice(s, mi * d + 1, d), lambda x: x.cast("double")
            ),
        )
    )


def pq_codes_vecs(vec: Column, seed_vecs: Column, m: int = PQ_M, dim: int = 64) -> Column:
    """array<int>: the PQ CODES of ``vec`` — per subspace, the index of
    the codeword slice minimizing squared L2 (9dp-rounded, ties to the
    lowest codeword id), in subspace order. This is the argmin of
    `pq_reconstruct_vecs` with the reconstruction left out: the M-small-
    int column a vector lake actually persists (M bytes/vector at K ≤
    256), against which ADC search (`ivf_pq_adc_topk`) runs without ever
    rebuilding a float vector. DuckDB twin: the ``pqt_codes`` relation of
    `functions.kmeans.pq_train_sql` (same round, same tie-break)."""
    d = dim // m

    def _code(mi):
        dists = F.transform(
            seed_vecs, lambda s: F.round(_sub_l2sq(vec, s, mi * d + 1, d), 9)
        )
        return F.transform(
            F.array(dists),
            lambda ds: (F.array_position(ds, F.array_min(ds)) - 1).cast("int"),
        ).getItem(0)

    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), _code)


def pq_residual_codes(
    vec: Column, cent: Column, seed_vecs: Column, m: int = PQ_M, dim: int = 64
) -> Column:
    """array<int>: the IVF-PQ stored form — codes of the RESIDUAL
    ``vec − centroid(cell)`` against codewords trained on residuals
    (`pq_residual_reconstruct_vecs`'s argmin, reconstruction omitted).
    The residual let-binds through a 1-element transform for the same
    CollapseProject reason as the reconstruct twin."""
    resid = F.zip_with(vec, cent, lambda x, c: x.cast("double") - c.cast("double"))
    return F.transform(
        F.array(resid), lambda rv: pq_codes_vecs(rv, seed_vecs, m, dim)
    ).getItem(0)


def pq_codes_reconstruct(
    codes: Column, cent: Column, seed_vecs: Column, m: int = PQ_M, dim: int = 64
) -> Column:
    """array<double>: rebuild the residual-PQ reconstruction ``centroid +
    codeword(codeₘ)`` from a STORED codes column — pure element lookups
    (no argmin), the read-side half of the codes-only index layout.
    Bit-identical to `pq_residual_reconstruct_vecs` of the original
    vector (same codeword picked, same one IEEE add per element —
    test-pinned), so a store can persist M small ints instead of dim
    doubles and searches that want the reconstruction derive it as a
    map-side projection riding the scan."""
    d = dim // m
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda mi: F.zip_with(
                F.slice(cent, mi * d + 1, d),
                F.slice(
                    F.element_at(
                        seed_vecs,
                        (F.element_at(codes, (mi + 1).cast("int")) + 1).cast("int"),
                    ),
                    mi * d + 1,
                    d,
                ),
                lambda c, w: c.cast("double") + w.cast("double"),
            ),
        )
    )


def pq_residual_reconstruct_vecs(
    vec: Column, cent: Column, seed_vecs: Column, m: int = PQ_M, dim: int = 64
) -> Column:
    """array<double>: the IVF-PQ RESIDUAL reconstruction of ``vec`` —
    ``centroid + PQ(vec − centroid)`` where ``cent`` is the row's
    assigned-cell centroid and ``seed_vecs`` holds codewords TRAINED ON
    RESIDUALS. This is the FAISS IVFPQ encoding (encode_vectors subtracts
    the coarse centroid before the subspace argmin): at the same byte
    budget the codebook spends its codewords on within-cell variation
    instead of global position, so reconstruction error — hence coarse-
    rank recall — is strictly better than raw-vector PQ on clustered
    data (tests/test_kmeans.py pins the comparison).

    The residual is let-bound through a 1-element transform (the
    `pq_reconstruct_vecs` argmin references its input m·K times, and
    Catalyst's CollapseProject would otherwise inline — and re-evaluate —
    the zip_with subtraction at every reference)."""
    resid = F.zip_with(vec, cent, lambda x, c: x.cast("double") - c.cast("double"))
    return F.transform(
        F.array(resid),
        lambda rv: F.zip_with(
            cent, pq_reconstruct_vecs(rv, seed_vecs, m, dim), lambda c, r: c.cast("double") + r
        ),
    ).getItem(0)


def pq_refine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    coarse_k: int,
    dim: int = 64,
) -> DataFrame:
    """Coarse→refine top-k where the coarse representation is the PQ
    reconstruction (M bytes/vector): broadcast the one-row codebook,
    reconstruct map-side, rank coarse_k by approximate cosine, re-rank
    the survivors exactly — the IVF-PQ search shape minus the cell
    routing (compose with the IVF cell join for the full layout)."""
    seeds_row = F.broadcast(pq_codebook_seeds(embeddings))
    qz = (
        embeddings.crossJoin(seeds_row)
        .select(
            F.col("vec_id"),
            F.col("embedding"),
            pq_reconstruct(F.col("embedding"), F.col("seeds"), PQ_M, dim).alias("deq"),
        )
    )
    return _coarse_refine(qz, queries, k, coarse_k)


def ivf_pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    coarse_k: int,
    n_cells: int = 8,
    dim: int = 64,
    nprobe: int = 1,
    centroids: list[tuple[int, list[float]]] | None = None,
    encoded_corpus: DataFrame | None = None,
) -> DataFrame:
    """The full IVF-PQ search layout — cell routing composed with PQ
    compression, both deterministic:

    1. every vector is assigned its nearest centroid MAP-SIDE
       (`plans.simops.ivf_assign` — array-algebra argmax, no corpus
       shuffle);
    2. a query only sees candidates in its own cell (nprobe=1: the
       equi-join on cell_id replaces the cross product — candidate work
       scales with cell occupancy);
    3. within the cell, candidates coarse-rank on their PQ reconstruction
       (m bytes/vector — the only representation the cell scan touches);
    4. the coarse_k survivors re-rank exactly on the float vectors.

    This is the canonical billion-scale ANN layout (IVF for I/O pruning,
    PQ for bytes-per-vector, exact refine for ranking quality) expressed
    as four DataFrame stages. Output: (query_id, vec_id, cell_id, cosine,
    rnk).

    Query cells are computed by running the same map-side assignment over
    the QUERY frame against the CORPUS centroids — queries need not be
    corpus members (a corpus-assignment join would silently drop
    out-of-corpus queries). ``nprobe`` widens the search to each query's
    nprobe nearest cells (the standard recall dial for boundary queries:
    candidate work × nprobe, registered queries stay at the default 1;
    a pair can match on at most one (query, cell) row since corpus
    vectors live in exactly one cell, so no dedup shuffle is needed).
    Scale ``coarse_k`` with nprobe — the wider candidate pool otherwise
    squeezes true neighbours out of the fixed-size PQ-ranked cut and can
    LOWER recall (measured: recall@5 drops 22→19 on the test corpus at
    nprobe=2 with coarse_k held at 20; restored at coarse_k=20·nprobe —
    the same coupling FAISS documents for its nprobe/k_factor pair).

    ``centroids`` swaps the placeholder IVF codebook for a TRAINED,
    driver-resident one (functions/kmeans), a (cell_id, vector) list
    inlined via `assign_cells_literal` / `probe_cells_literal` (map-only,
    no codebook stages — nprobe > 1 included).

    ``encoded_corpus`` is a PRE-BUILT index frame (vec_id, embedding,
    cell_id, deq) — the stored form a vector lake writes once (cells and
    codes at ingest, not per query); when given, the corpus-side
    assignment/encode above are skipped and only the query routing +
    search run."""
    from pyspark.sql import Window as W

    from sentinela_py_spark.plans.simops import (  # noqa: F401 — both cell routers
        assign_cells_literal,
        cosine,
        ivf_assign,
        ivf_probe_cells,
        probe_cells_literal,
    )
    if encoded_corpus is not None:
        cand = encoded_corpus
    else:
        assigned = (
            ivf_assign(embeddings, n_cells)
            if centroids is None
            else assign_cells_literal(embeddings, centroids)
        )
        seeds_row = F.broadcast(pq_codebook_seeds(embeddings))
        cand = assigned.crossJoin(seeds_row).select(
            "vec_id",
            "embedding",
            "cell_id",
            pq_reconstruct(F.col("embedding"), F.col("seeds"), PQ_M, dim).alias("deq"),
        )
    # nprobe=1 keeps the cheaper argmax assignment (proven equivalent to
    # the probe path's rank-1 cell by test); >1 pays the comparator sort
    # + explode only when the recall dial is actually turned.
    if centroids is not None:
        q_cells = (
            assign_cells_literal(queries, centroids)
            if nprobe == 1
            else probe_cells_literal(queries, centroids, nprobe=nprobe)
        )
    else:
        q_cells = (
            ivf_assign(queries, n_cells, centroid_source=embeddings)
            if nprobe == 1
            else ivf_probe_cells(queries, n_cells, nprobe=nprobe, centroid_source=embeddings)
        )
    qs = F.broadcast(
        q_cells.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            "cell_id",
        )
    )
    coarse_w = W.partitionBy("query_id").orderBy(F.col("coarse_cos").desc(), F.col("vec_id"))
    coarse = (
        cand.join(qs, "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("coarse_cos", F.round(cosine(F.col("deq"), F.col("qvec")), 6))
        .withColumn("crnk", F.row_number().over(coarse_w))
        .filter(F.col("crnk") <= coarse_k)
    )
    exact_w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        coarse.withColumn("cosine", F.round(cosine(F.col("embedding"), F.col("qvec")), 6))
        .withColumn("rnk", F.row_number().over(exact_w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cell_id", "cosine", "rnk")
    )


def adc_tables(
    centroids: list[tuple[int, list[float]]],
    books: list[list[list[float]]],
    with_t2: bool = True,
) -> tuple[list[list[list[float]]] | None, list[list[float]], list[float]]:
    """Driver-side ADC lookup tables from the collected codebooks — the
    candidate-independent half of FAISS's precomputed-tables IVFPQ search
    (faiss IndexIVFPQ.use_precomputed_table; the residual reconstruction
    ``centroid + codeword`` makes ‖recon‖² and ⟨·,·⟩ decomposable into
    per-(cell, subspace, codeword) terms):

    - ``t2[cell][m][j]`` = ⟨centroid_sub(cell, m), codeword(m, j)⟩ — the
      centroid-residual cross term;
    - ``t3[m][j]``       = ‖codeword(m, j)‖²;
    - ``cn[cell]``       = ‖centroid(cell)‖².

    Sizes are cells·M·K + M·K + cells doubles — ``t3``/``cn`` stay
    literal-inlined at any cell count (M·K and 1 double per cell), but
    ``t2`` grows as cells·M·K and at a 10⁹-vector deployment's
    10⁵ cells × M·K reaches ~10⁸ doubles — past literal
    inlining. `ivf_pq_adc_topk` crosses that boundary automatically
    (`adc_t2_mode`): above `ADC_T2_LITERAL_MAX` entries it skips the
    driver-side t2 entirely (``with_t2=False`` here returns ``(None,
    t3, cn)``) and instead derives a broadcast ``(cell_id, t2c[m][j])``
    frame IN SPARK, folded through the coarse pass's cell join — the
    exact boundary FAISS's ``use_precomputed_table`` flag manages.
    Every entry is a
    left-to-right double fold over the SAME collected codebook values
    both engines hold bit-identically (tests/test_kmeans.py), so scores
    assembled from these literals stay oracle-exact: Python's sequential
    ``acc += x*y`` is the identical IEEE sequence to the engines'
    ordered ``list_sum(list_transform(...))`` / ``F.aggregate`` folds."""
    cvecs = [[float(x) for x in v] for _, v in sorted(centroids)]
    m = len(books)
    d = len(books[0][0])

    def _dot(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    t2 = (
        [
            [[_dot(c[mi * d : (mi + 1) * d], w) for w in books[mi]] for mi in range(m)]
            for c in cvecs
        ]
        if with_t2
        else None
    )
    t3 = [[_dot(w, w) for w in books[mi]] for mi in range(m)]
    cn = [_dot(c, c) for c in cvecs]
    return t2, t3, cn


# cells·M·K doubles beyond which ivf_pq_adc_topk ships t2 as a broadcast
# frame instead of a plan literal. 2^18 doubles ≈ 2 MB of values (≈ 5 MB
# as fast_lit's JSON text) — comfortably inside literal inlining; one
# step past it (2048 cells at M·K = 128) the t2 literal dominates the
# plan, and at a 10⁹-vector deployment's 10⁵ cells it would be ~10⁸
# doubles. The broadcast path costs one extra (tiny, cell-keyed) hash
# join, so the guard errs toward literals only while they're genuinely
# cheap.
ADC_T2_LITERAL_MAX = 2**18


def adc_t2_mode(n_cells: int, m: int = PQ_M, k: int = PQ_K) -> str:
    """Resolve how `ivf_pq_adc_topk` ships the cell-dependent ADC table:
    ``"literal"`` (inline cells·M·K doubles in the plan) below
    `ADC_T2_LITERAL_MAX` entries, ``"broadcast"`` (a Spark-derived
    (cell_id, t2c) frame folded through the cell join) above it."""
    return "literal" if n_cells * m * k <= ADC_T2_LITERAL_MAX else "broadcast"


def ivf_pq_adc_topk(
    index_codes: DataFrame,
    index_vecs: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    books: list[list[list[float]]],
    k: int,
    coarse_k: int,
    m: int = PQ_M,
    dim: int = 64,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_cos_at_or_above: float | None = None,
) -> DataFrame:
    """IVF-PQ search by ASYMMETRIC DISTANCE COMPUTATION —
    ``ivf_pq_adc_refined`` (coarse scan + exact-cosine refine) composed
    with ``ivf_pq_adc_rank`` (optional mining filter + top-k cut). The
    split exists so ONE refined candidate stream can be ranked under
    several (k, exclude) settings without re-running the coarse pass
    (q_ann_ivf_topk's adc and hardneg arms share it); this wrapper
    keeps the original single-call surface. The coarse pass
    never rebuilds a float vector and never reads one:

    1. each query computes, MAP-SIDE on the tiny query frame, its
       per-subspace lookup table ``lut[m][j] = ⟨q_sub(m), codeword(m,
       j)⟩`` (M·K sub-dots) plus ⟨q, centroid(cell)⟩ and ‖q‖;
    2. the coarse pass scans ``index_codes`` — (id, cell_id, codes), the
       M-byte column of the stored index and NOTHING else (at 100 TB
       this is the difference between scanning M bytes and dim·8 bytes
       per candidate) — and scores each candidate with 3·M array lookups
       and adds: cos(q, recon) falls out of the identity ``⟨q, c + r⟩ =
       ⟨q,c⟩ + Σₘ lut[m][codeₘ]`` and ``‖c + r‖² = cn[cell] +
       2·Σₘ t2[cell][m][codeₘ] + Σₘ t3[m][codeₘ]`` (`adc_tables`);
    3. the ``coarse_k`` survivors (broadcast — k·|queries| rows) join
       back to ``index_vecs`` on (cell_id, id) for the exact re-rank —
       the only pass that touches float vectors, partition-pruned to the
       probed cells and column-pruned to (id, cell, vector).

    ``index_codes`` / ``index_vecs`` may be the same `read_ann_index`
    frame read twice — passing two fresh reads keeps the two scans'
    column pruning independent (asserted in tests/test_vectors.py::
    TestAdcSearch::test_adc_coarse_scan_never_reads_float_vectors).
    ``nprobe`` composes with the recall dial exactly as on `ivf_pq_topk`
    (each query explodes to its nprobe nearest cells; the per-query LUT
    is cell-independent and the ⟨q, centroid⟩ term is already per
    (query, cell) row; scale ``coarse_k`` with nprobe — the same
    k_factor coupling).
    Scores are identical to the reconstruct-then-cosine path up to
    float addition order (the ranking agreement is test-pinned); the
    arm's oracle mirrors the ADC algebra itself, so correctness does not
    lean on that agreement. Output: (query_id, vec_id, cell_id, cosine,
    rnk) with exact cosines, like `ivf_pq_topk`.

    The cell-dependent table ships as `adc_t2_mode` picks (it crosses
    at `ADC_T2_LITERAL_MAX` = cells·M·K entries):
    "literal" inlines t2 in the plan next to the codebooks; "broadcast"
    never materializes t2 on the driver at all — a (cell_id, t2c[m][j])
    frame is DERIVED IN SPARK from a cells-row centroid frame and the
    (codebook-scale) codeword literal, then broadcast-hash-joined into
    the coarse pass on cell_id, so the per-candidate term is one
    array lookup either way. The derivation uses the same left-to-right
    `F.aggregate(zip_with(...))` fold as `adc_tables`' Python ``acc +=
    x*y``, so both forms score bit-identically (test-pinned). ``t3``
    (M·K) and the per-query LUT stay literal at any cell count.

    The remaining cells-sized family is guarded the same way:
    ⟨q, centroid⟩ (the cells·dim matrix)
    and ``cn`` = ‖centroid‖² (cells doubles). Its auto guard is the
    ASSIGNMENT-class boundary (`plans.simops.assign_literal_mode`,
    cells·dim vs t2's cells·M·K — it crosses a factor M·K/dim later);
    past it both terms derive from the shared broadcast (cell_id, cent)
    frame — qdotc/cnb fold map-side after a broadcast cell join on the
    k-row query frame — and the query-side cell routing itself
    (`assign_cells_literal` / `probe_cells_literal`) auto-crosses at the
    same boundary, so at deployment cell counts (a 10⁹-vector corpus's
    10⁵ cells ≈ 6.4·10⁶ matrix entries) NO cells-sized literal
    remains anywhere in the plan. Bit-identity literal ≡ broadcast is
    pinned in TestAdcSearch at a forced boundary.

    ``exclude_cos_at_or_above`` turns the search into HARD-NEGATIVE
    MINING over the refine candidate stream: after the exact re-rank
    cosines are computed for the ``coarse_k`` survivors, candidates at or
    above the threshold are dropped BEFORE the top-k window — the
    false-negative guard of contrastive mining (candidates that similar
    are probably unlabeled positives; see `plans.simops.q_cosine_topk`'s
    hard_neg arm for the exact-scan twin and the guard's rationale). This
    is the deployment path that arm's docstring declares: at corpus scale
    the mining filter rides THIS candidate stream — the coarse pass still
    scans only the M-byte codes column — instead of an exact O(n²) scored
    scan. Recall vs the exact mining is bounded by coarse_k/nprobe
    exactly like the search's own recall (measured in TestAdcSearch)."""
    refined = ivf_pq_adc_refined(
        index_codes,
        index_vecs,
        queries,
        centroids,
        books,
        coarse_k,
        m=m,
        dim=dim,
        nprobe=nprobe,
        vec_col=vec_col,
        id_col=id_col,
    )
    return ivf_pq_adc_rank(
        refined, k, id_col=id_col, exclude_cos_at_or_above=exclude_cos_at_or_above
    )


def ivf_pq_adc_rank(
    refined: DataFrame,
    k: int,
    id_col: str = "vec_id",
    exclude_cos_at_or_above: float | None = None,
) -> DataFrame:
    """The final cut of the ADC search over a `ivf_pq_adc_refined`
    stream: the optional hard-negative false-positive guard
    (filter-then-rank, the order the exact-scan hard_neg arm applies),
    then the per-query top-``k`` window. Split from the fused search so
    several (k, exclude) cuts can share ONE refined stream (r15 —
    q_ann_ivf_topk's adc + hardneg arms); expression-identical to the
    tail of the original fused `ivf_pq_adc_topk`."""
    from pyspark.sql import Window as W

    exact_w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    if exclude_cos_at_or_above is not None:
        refined = refined.filter(F.col("cosine") < exclude_cos_at_or_above)
    return (
        refined.withColumn("rnk", F.row_number().over(exact_w))
        .filter(F.col("rnk") <= k)
        .select("query_id", id_col, "cell_id", "cosine", "rnk")
    )


def ivf_pq_adc_refined(
    index_codes: DataFrame,
    index_vecs: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    books: list[list[list[float]]],
    coarse_k: int,
    m: int = PQ_M,
    dim: int = 64,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The rank-free front of `ivf_pq_adc_topk`: the codes-only ADC
    coarse pass, then the exact-cosine refine join for the ``coarse_k``
    survivors — everything INDEPENDENT of the final
    (k, exclude_cos_at_or_above) cut. Output: one (query_id, ``id_col``,
    cell_id, cosine) row per refine candidate, expression-identical to
    the pre-rank stream inside the original fused search, so any
    `ivf_pq_adc_rank` cut over it is bit-identical to the fused call."""
    from pyspark.sql import Window as W

    from sentinela_py_spark.functions.litutil import fast_lit
    from sentinela_py_spark.plans.simops import (
        assign_cells_literal,
        cosine,
        dot_product,
        l2_norm_sq,
        assign_literal_mode,
        probe_cells_literal,
    )

    d = dim // m
    mode = adc_t2_mode(len(centroids), m, len(books[0]))
    # The query-side centroid family (⟨q, centroid⟩ via the cells·dim
    # matrix and cn = ‖centroid‖², cells doubles) has its own, LATER
    # boundary — the assignment class (cells·dim vs t2's cells·M·K).
    # Past it both terms derive from the same broadcast (cell_id,
    # centroid) frame the t2 path uses: qdotc folds on the query frame
    # after a broadcast cell join, cnb rides the same derived frame —
    # no cells-sized literal remains anywhere in the plan (r9 verdict
    # item #2; bit-identity pinned in TestAdcSearch).
    cmode = assign_literal_mode(len(centroids), dim)
    t2, t3, cn = adc_tables(centroids, books, with_t2=(mode == "literal"))
    # one JSON parse per table instead of ~2700 py4j element conversions
    # per search BUILD (fast_lit folds to the identical literal)
    t3_lit = fast_lit(t3, 2)
    books_lit = fast_lit([[[float(x) for x in w] for w in book] for book in books], 3)
    cents_df = None
    if mode == "broadcast" or cmode == "broadcast":
        cents_df = queries.sparkSession.createDataFrame(
            [(int(ci), [float(x) for x in v]) for ci, v in sorted(centroids)],
            "cell_id bigint, cent array<double>",
        )
    if cmode == "literal":
        cn_lit = fast_lit(cn, 1)
        cent_lit = fast_lit([[float(x) for x in v] for _, v in sorted(centroids)], 2)
        qcent = F.element_at(cent_lit, (F.col("cell_id") + 1).cast("int"))
    qlut = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda mi: F.transform(
            F.element_at(books_lit, (mi + 1).cast("int")),
            lambda w: F.aggregate(
                F.zip_with(
                    F.slice(F.col(vec_col), mi * d + 1, d),
                    w,
                    lambda x, y: x.cast("double") * y.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        ),
    )
    q_cells = (
        assign_cells_literal(queries, centroids, id_col=id_col, vec_col=vec_col)
        if nprobe == 1
        else probe_cells_literal(
            queries, centroids, nprobe=nprobe, id_col=id_col, vec_col=vec_col
        )
    )
    if cmode == "broadcast":
        # ⟨q, centroid⟩ and ‖centroid‖² from the broadcast centroid
        # frame, joined on the query frame's probed cell — same ordered
        # folds as the literal path on the same double values.
        q_cells = q_cells.join(F.broadcast(cents_df), "cell_id")
        qdotc_expr = dot_product(F.col(vec_col), F.col("cent"))
        cnb_expr = l2_norm_sq(F.col("cent"))
    else:
        qdotc_expr = dot_product(F.col(vec_col), qcent)
        cnb_expr = F.element_at(cn_lit, (F.col("cell_id") + 1).cast("int"))
    qs = F.broadcast(
        q_cells.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            "cell_id",
            qdotc_expr.alias("qdotc"),
            cnb_expr.alias("cnb"),
            F.sqrt(l2_norm_sq(F.col(vec_col))).alias("qn"),
            qlut.alias("lut"),
        )
    )

    def _msum(term):
        """Σ over subspaces of a per-(m, code) lookup — ascending-m fold,
        the order the oracle's list(v ORDER BY m) reproduces."""
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, mi: acc + term(mi),
        )

    def _code_at(mi):
        return (F.element_at(F.col("codes"), (mi + 1).cast("int")) + 1).cast("int")

    lsum = _msum(
        lambda mi: F.element_at(
            F.element_at(F.col("lut"), (mi + 1).cast("int")), _code_at(mi)
        )
    )
    if mode == "literal":
        t2_lit = fast_lit(t2, 3)
        t2_df = None
        t2_cell = F.element_at(t2_lit, (F.col("cell_id") + 1).cast("int"))
    else:
        # t2 never touches the driver: derive (cell_id, t2c[m][j]) from
        # the shared cells-row centroid frame + the codebook literal with
        # the SAME ordered fold adc_tables runs in Python (bit-identical),
        # then broadcast it through the coarse pass's cell join below.
        t2c = F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda mi: F.transform(
                F.element_at(books_lit, (mi + 1).cast("int")),
                lambda w: F.aggregate(
                    F.zip_with(
                        F.slice(F.col("cent"), mi * d + 1, d),
                        w,
                        lambda x, y: x.cast("double") * y.cast("double"),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
            ),
        )
        t2_df = cents_df.select("cell_id", t2c.alias("t2c"))
        t2_cell = F.col("t2c")
    t2sum = _msum(
        lambda mi: F.element_at(
            F.element_at(t2_cell, (mi + 1).cast("int")),
            _code_at(mi),
        )
    )
    t3sum = _msum(
        lambda mi: F.element_at(
            F.element_at(t3_lit, (mi + 1).cast("int")), _code_at(mi)
        )
    )
    rnorm = F.sqrt(F.col("cnb") + F.lit(2.0) * t2sum + t3sum)
    coarse_w = W.partitionBy("query_id").orderBy(F.col("adc_cos").desc(), F.col(id_col))
    coarse = index_codes.select(id_col, "cell_id", "codes").join(qs, "cell_id")
    if t2_df is not None:
        coarse = coarse.join(F.broadcast(t2_df), "cell_id")
    survivors = (
        coarse.filter(F.col(id_col) != F.col("query_id"))
        .withColumn("adc_cos", F.round((F.col("qdotc") + lsum) / (F.col("qn") * rnorm), 6))
        .withColumn("crnk", F.row_number().over(coarse_w))
        .filter(F.col("crnk") <= coarse_k)
        .select("query_id", id_col, "cell_id", "qvec")
    )
    return (
        index_vecs.select(id_col, "cell_id", vec_col)
        .join(F.broadcast(survivors), [id_col, "cell_id"])
        .withColumn("cosine", F.round(cosine(F.col(vec_col), F.col("qvec")), 6))
        .select("query_id", id_col, "cell_id", "cosine")
    )


def write_ann_index(encoded: DataFrame, path: str) -> None:
    """Persist an encoded IVF(-PQ) index frame as parquet PARTITIONED BY
    cell_id — the physical lake layout where the IVF promise becomes an
    I/O guarantee: a query probing nprobe cells reads nprobe directories
    and Spark never opens the rest (static partition pruning for literal
    cell filters, dynamic partition pruning for the broadcast cell join —
    asserted in tests/test_vectors.py). The MINIMAL deployment frame is
    (vec_id, embedding, cell_id, codes) — raw vector as the refine-pass
    cold column, M small ints as the coarse representation; a stored
    `deq` column is a second copy of the corpus at scale, so searches
    that want the reconstruction derive it read-side
    (`pq_codes_reconstruct`). Any extra columns ride along untouched.
    One write task per cell keeps files cell-clustered; at 10^5+ cells
    add a second shard key inside hot cells (a ``maxRecordsPerFile``
    write option)."""
    encoded.repartition(F.col("cell_id")).write.mode("overwrite").partitionBy(
        "cell_id"
    ).parquet(path)


def read_ann_index(spark, path: str) -> DataFrame:
    """Read a `write_ann_index` layout back as the `encoded_corpus` input
    of `ivf_pq_topk` (cell_id comes back as a partition column; cast to
    the bigint the search algebra expects)."""
    df = spark.read.parquet(path)
    return df.withColumn("cell_id", F.col("cell_id").cast("bigint"))


def read_ann_index_tree(spark, path: str) -> DataFrame:
    """Read an EPOCH-PARTITIONED index tree (``{path}/epoch=E/cell_id=C``)
    as one search-ready frame: epoch is dropped (it exists for replay
    idempotence, not for search) and cell_id keeps its partition-column
    role, so probe-side partition pruning holds across every epoch.

    The tree layout is epoch-partitioned ALL the way down — the offline
    base is itself an epoch-level entry (`write_ann_index_tree_base`
    puts it at ``epoch=-1``, below any streaming epoch id), streamed
    appends land at ``epoch=N`` (`streaming.pipeline
    .ann_index_append_batch`), and `compact_ann_index_tree` folds
    epochs back into a fresh base. A FLAT `write_ann_index` layout
    (``{path}/cell_id=C`` at the root) must NOT be mixed under the same
    root as epoch dirs: parquet partition discovery requires one
    consistent directory depth, and the mix fails loudly at read time.
    Use the flat layout for batch-only stores and the tree layout the
    moment a stream appends."""
    df = spark.read.parquet(path)
    return df.drop("epoch").withColumn("cell_id", F.col("cell_id").cast("bigint"))


# The offline base's epoch id. Streaming epoch ids are Spark-assigned
# non-negative monotonic ints, so -1 sorts below every possible append
# and can never collide with one.
ANN_TREE_BASE_EPOCH = -1


def write_ann_index_tree_base(encoded: DataFrame, path: str) -> None:
    """Write an encoded IVF(-PQ) frame as the OFFLINE BASE of an index
    tree: ``{path}/epoch=-1/cell_id=C``, the same minimal (id, vector,
    cell, codes) frame and one-file-per-cell clustering as
    `write_ann_index`, nested one epoch level down so streamed appends
    (``epoch=N``) and the base share one consistent partition-discovery
    depth (the flat layout and the tree layout must never mix under one
    root — see `read_ann_index_tree`)."""
    encoded.repartition(F.col("cell_id")).write.mode("overwrite").partitionBy(
        "cell_id"
    ).parquet(os.path.join(path, f"epoch={ANN_TREE_BASE_EPOCH}"))


def _tree_marker_path(path: str) -> str:
    # underscore prefix: parquet partition discovery skips the file
    return os.path.join(path, "_compaction.json")


def tree_compacted_through(path: str) -> int | None:
    """Highest streaming epoch folded into the tree's base by
    `compact_ann_index_tree` (None if the
    tree was never compacted). `ann_index_append_batch` consults this to
    no-op a checkpoint-replayed epoch whose rows already live in the
    base — without it, replay-after-compaction would re-create the
    epoch dir and double every row it carries."""
    try:
        with open(_tree_marker_path(path)) as f:
            return int(json.load(f)["through_epoch"])
    except FileNotFoundError:
        return None


def _tree_epochs(path: str) -> list[int]:
    return sorted(
        int(p.split("=", 1)[1])
        for p in os.listdir(path)
        if p.startswith("epoch=")
    )


def _swap_tree_root(path: str, tmp: str, through_epoch: int) -> None:
    """Publish a rewritten tree: stamp the marker, then swap directories.
    On a local/HDFS-like FS this is two renames — a reader racing the
    swap can lose, which is acceptable for an OFFLINE maintenance job
    run in a quiet window; on an object store, publish a new versioned
    root and flip a pointer instead (same code shape, no rename)."""
    with open(_tree_marker_path(tmp), "w") as f:
        json.dump({"through_epoch": through_epoch}, f)
    old = path + ".old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def compact_ann_index_tree(spark, path: str) -> int:
    """Fold every epoch of an index tree into a fresh offline base — the
    maintenance half of the streaming-append story. One epoch per
    micro-batch is the classic small-files spiral: a cell probed by
    every query accumulates one file per epoch forever, and at
    micro-batch cadence the per-cell file count (and with it open-file
    and footer-read cost per probe) grows without bound. Compaction
    rewrites the tree as ``epoch=-1`` with ONE file per cell (the same
    clustering the offline builder produces), stamps ``_compaction.json``
    with the highest epoch folded in, and swaps the root. Searches see
    identical rows before and after (test-pinned); a checkpoint-replayed
    append of a folded epoch no-ops against the marker. Returns the
    ``through_epoch`` stamped. Run it on the maintenance cadence that
    keeps per-cell file counts flat (e.g. every K epochs)."""
    epochs = _tree_epochs(path)
    if not epochs:
        raise ValueError(f"not an index tree (no epoch= dirs): {path}")
    prior = tree_compacted_through(path)
    through = max(max(epochs), prior if prior is not None else ANN_TREE_BASE_EPOCH)
    tmp = path + ".compact-tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    # the parquet write fully materializes the read before the old root
    # is touched, so the swap never races its own input
    write_ann_index_tree_base(read_ann_index_tree(spark, path), tmp)
    _swap_tree_root(path, tmp, through)
    return through
