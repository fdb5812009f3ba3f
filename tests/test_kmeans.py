"""Deterministic k-means codebook training (functions/kmeans.py).

Pins the three properties the trained-IVF arm rests on:

- **bit-reproducibility**: Spark centroids are invariant to input
  partitioning and EXACTLY equal to the DuckDB CTE chain's
  (``kmeans_cents_sql``) — the integer-sum mean leaves no float
  accumulation order anywhere;
- **cell balance**: on a clustered corpus engineered so the first-N
  placeholder codebook funnels the bulk into ONE cell (the hot-cell
  failure VERDICT r4 flagged), trained centroids split the bulk and the
  max/mean occupancy ratio collapses;
- **occupancy guard**: `capped_cell_candidates` never bites at fixture
  scale (so the registered cap-free oracles stay sound) and bounds +
  audits a degenerate hot cell.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from sentinela_py_spark.functions.kmeans import (
    KMEANS_ITERS,
    kmeans_cents_sql,
    kmeans_centroids_local,
    pq_stitch_codewords,
    pq_train_codebooks_local,
    pq_train_sql,
)
from sentinela_py_spark.plans.simops import (
    _DOT_SQL,
    _NORMSQ_SQL,
    IVF_MAX_CELL_SIZE,
    N_CELLS,
    assign_cells,
    assign_cells_literal,
    capped_cell_candidates,
    ivf_assign,
)
from sentinela_py_spark.tables import load_table

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
SF_BENCH = "/root/testdata/sf0.1"

DIM = 8


def _noise(i: int, j: int, scale: float = 0.05) -> float:
    """Deterministic pseudo-noise in [-scale, scale)."""
    b = hashlib.md5(f"kmnoise-{i}-{j}".encode()).digest()
    return (int.from_bytes(b[:4], "big") / 2**32 - 0.5) * 2 * scale


def _clustered_corpus(spark):
    """The placeholder's hot-cell trap: ids 1..7 are scattered outliers on
    axes e1..e7, id 0 sits in the BULK direction (e0) — so the first-8
    placeholder codebook has exactly one centroid near the bulk, and all
    480 bulk vectors pile into that one cell. 488 rows, dim 8."""
    rows = []
    for i in range(8):  # ids 0..7: axis e_i (id 0 = the bulk axis)
        vec = [1.0 if j == i else _noise(i, j) for j in range(DIM)]
        rows.append((i, vec))
    for i in range(8, 488):  # the bulk: e0 + noise
        vec = [1.0 if j == 0 else _noise(i, j) for j in range(DIM)]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _cents_frame(e, k: int, **kw):
    """(cell_id, centroid) frame of the trained codebook, for
    `assign_cells`."""
    return e.sparkSession.createDataFrame(
        kmeans_centroids_local(e, k, **kw), "cell_id bigint, centroid array<double>"
    )


def _occupancy_ratio(assigned, k: int) -> float:
    counts = [r["n"] for r in assigned.groupBy("cell_id").agg(F.count("*").alias("n")).collect()]
    return max(counts) / (sum(counts) / k)


def test_trained_centroids_balance_clustered_corpus(spark):
    e = _clustered_corpus(spark)
    placeholder_ratio = _occupancy_ratio(ivf_assign(e, 8), 8)
    assert placeholder_ratio > 5.0  # the bulk lands in ~one cell

    cents = _cents_frame(e, 8, iters=KMEANS_ITERS, dim=DIM)
    trained_ratio = _occupancy_ratio(assign_cells(e, cents), 8)
    assert trained_ratio < 3.0
    assert trained_ratio < placeholder_ratio / 2


def test_kmeans_iters_saturate_by_the_module_constant(spark):
    """The training-quality dial: quantization error falls monotonically
    with Lloyd iterations and FLATTENS by KMEANS_ITERS on the clustered
    corpus (measured: SSE 14.54 @2 → 12.84 @4 → 10.400 @8 → 10.397 @12),
    so the module constant sits at the saturated point — more iterations
    buy oracle-CTE length, not codebook quality. The count stays a fixed
    constant (never a convergence test) so the DuckDB twin remains a
    fixed chain of CTEs."""
    e = _clustered_corpus(spark)

    def sse(iters: int) -> float:
        cents = kmeans_centroids_local(e, 8, iters=iters, dim=DIM)
        lit = F.lit([v for _, v in sorted(cents)])
        c = F.element_at(lit, (F.col("cell_id") + 1).cast("int"))
        err = F.aggregate(
            F.zip_with(F.col("embedding"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return assign_cells_literal(e, cents).agg(F.sum(err).alias("s")).collect()[0]["s"]

    assert KMEANS_ITERS == 8
    e2, e8, e12 = sse(2), sse(KMEANS_ITERS), sse(12)
    assert e8 < e2  # training past the old demo constant still improves
    # ...but the 8→12 gain is noise next to the 2→8 gain: saturated.
    assert (e8 - e12) < 0.05 * (e2 - e8)


# slow (97 s): re-trains under several partition layouts; the
# bit-for-bit-vs-DuckDB and balance tests keep default coverage.
@pytest.mark.slow
def test_kmeans_deterministic_across_partitionings(spark):
    e = load_table(spark, SF_SMOKE, "embeddings")
    ca = dict(kmeans_centroids_local(e, N_CELLS, dim=64))
    cb = dict(kmeans_centroids_local(e.repartition(13), N_CELLS, dim=64))
    assert ca == cb  # bit-exact: integer sums leave no accumulation order


def test_kmeans_matches_duckdb_bit_for_bit(spark):
    spark_cents = dict(
        kmeans_centroids_local(
            load_table(spark, SF_SMOKE, "embeddings"), N_CELLS, dim=64
        )
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{os.path.join(SF_SMOKE, 'embeddings.parquet')}')"
    )
    sql = kmeans_cents_sql(
        N_CELLS, KMEANS_ITERS, 64, dot_sql_fmt=_DOT_SQL, normsq_sql_fmt=_NORMSQ_SQL
    )
    duck = con.execute(
        f"WITH {sql} SELECT cell_id, centroid FROM km_cents ORDER BY cell_id"
    ).fetchall()
    assert len(duck) == N_CELLS
    for cell_id, centroid in duck:
        sc = spark_cents[cell_id]
        assert len(sc) == len(centroid)
        for x, y in zip(sc, centroid):
            assert x == y or (math.isnan(x) and math.isnan(y))  # EXACT, no tolerance


def test_pq_codebooks_match_duckdb_bit_for_bit(spark):
    from sentinela_py_spark.functions.vectors import PQ_K, PQ_M

    books = pq_train_codebooks_local(
        load_table(spark, SF_SMOKE, "embeddings"), m=PQ_M, k=PQ_K, dim=64
    )
    assert len(books) == PQ_M and all(len(b) == PQ_K for b in books)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{os.path.join(SF_SMOKE, 'embeddings.parquet')}')"
    )
    duck = con.execute(
        f"WITH {pq_train_sql(PQ_M, PQ_K, KMEANS_ITERS, 64)} "
        "SELECT m, cw, sub FROM pqt_cents ORDER BY m, cw"
    ).fetchall()
    assert len(duck) == PQ_M * PQ_K
    for m, cw, sub in duck:
        assert books[m][cw] == list(sub)  # EXACT, no tolerance


def test_trained_codewords_cut_reconstruction_error(spark):
    """The point of training: trained codewords reconstruct the corpus
    strictly better than the first-K placeholder slices (total squared
    L2 over the fixture corpus)."""
    from sentinela_py_spark.functions.vectors import (
        PQ_K,
        PQ_M,
        pq_codebook_seeds,
        pq_reconstruct,
        pq_reconstruct_vecs,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    err = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("deq"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

    seeds_row = F.broadcast(pq_codebook_seeds(e, PQ_K))
    placeholder = (
        e.crossJoin(seeds_row)
        .select(pq_reconstruct(F.col("embedding"), F.col("seeds"), PQ_M, 64).alias("deq"), "embedding")
        .agg(F.sum(err).alias("sse"))
        .collect()[0]["sse"]
    )
    stitched = F.lit(pq_stitch_codewords(pq_train_codebooks_local(e, m=PQ_M, k=PQ_K, dim=64)))
    trained = (
        e.select(pq_reconstruct_vecs(F.col("embedding"), stitched, PQ_M, 64).alias("deq"), "embedding")
        .agg(F.sum(err).alias("sse"))
        .collect()[0]["sse"]
    )
    assert trained < placeholder * 0.9


def test_residual_pq_reconstruction_beats_raw_pq(spark):
    """The r5→r6 upgrade: codewords trained and applied on RESIDUALS
    (vec − cell centroid, the FAISS IVFPQ construction) reconstruct the
    corpus strictly better than codewords trained on raw vectors at the
    SAME byte budget — on the clustered corpus the codebook no longer
    wastes codewords on the coarse structure the IVF centroids already
    encode."""
    from sentinela_py_spark.functions.kmeans import ivf_residuals
    from sentinela_py_spark.functions.vectors import (
        pq_reconstruct_vecs,
        pq_residual_reconstruct_vecs,
    )

    e = _clustered_corpus(spark)
    m, k = 4, 8  # same budget both arms: 4 codes/vector over dim 8
    cents = kmeans_centroids_local(e, 8, dim=DIM)
    err = F.aggregate(
        F.zip_with(
            F.col("embedding"), F.col("deq"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

    raw_seeds = F.lit(pq_stitch_codewords(pq_train_codebooks_local(e, m=m, k=k, dim=DIM)))
    raw_sse = (
        e.select(pq_reconstruct_vecs(F.col("embedding"), raw_seeds, m, DIM).alias("deq"), "embedding")
        .agg(F.sum(err).alias("sse"))
        .collect()[0]["sse"]
    )

    resid = ivf_residuals(e, cents)
    res_seeds = F.lit(pq_stitch_codewords(pq_train_codebooks_local(resid, m=m, k=k, dim=DIM)))
    cent = F.element_at(
        F.lit([v for _, v in sorted(cents)]), (F.col("cell_id") + 1).cast("int")
    )
    res_sse = (
        assign_cells_literal(e, cents)
        .select(
            pq_residual_reconstruct_vecs(F.col("embedding"), cent, res_seeds, m, DIM).alias("deq"),
            "embedding",
        )
        .agg(F.sum(err).alias("sse"))
        .collect()[0]["sse"]
    )
    assert res_sse < raw_sse  # strictly better at the same byte budget


def test_subsampled_training_matches_duckdb_and_stays_deterministic(spark):
    """train_frac: the codebook trained on the md5 subsample is
    bit-identical to the DuckDB chain with the same predicate, invariant
    to partitioning, and actually trained on fewer rows."""
    from sentinela_py_spark.functions.kmeans import (
        kmeans_centroids_local,
        training_sample,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    n_sample = training_sample(e, 0.5).count()
    assert 0 < n_sample < e.count()

    a = kmeans_centroids_local(e, N_CELLS, dim=64, train_frac=0.5)
    b = kmeans_centroids_local(e.repartition(11), N_CELLS, dim=64, train_frac=0.5)
    assert a == b
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{os.path.join(SF_SMOKE, 'embeddings.parquet')}')"
    )
    sql = kmeans_cents_sql(
        N_CELLS, KMEANS_ITERS, 64,
        dot_sql_fmt=_DOT_SQL, normsq_sql_fmt=_NORMSQ_SQL, train_frac=0.5,
    )
    duck = dict(
        con.execute(
            f"WITH {sql} SELECT cell_id, centroid FROM km_cents ORDER BY cell_id"
        ).fetchall()
    )
    assert {cid: vec for cid, vec in a} == {cid: list(v) for cid, v in duck.items()}


def test_probe_cells_literal_matches_frame_path(spark):
    """The literal (trained-codebook) nprobe router must reproduce the
    frame-backed `ivf_probe_cells` exactly when fed the same centroids —
    so the recall dial works identically under trained codebooks."""
    from sentinela_py_spark.plans.simops import ivf_probe_cells, probe_cells_literal

    e = load_table(spark, SF_SMOKE, "embeddings")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id") < N_CELLS).collect()
    ]
    for nprobe in (1, 2, 3):
        frame = {
            (r["vec_id"], r["cell_id"])
            for r in ivf_probe_cells(e, N_CELLS, nprobe=nprobe).collect()
        }
        lit = {
            (r["vec_id"], r["cell_id"])
            for r in probe_cells_literal(e, cents, nprobe=nprobe).collect()
        }
        assert lit == frame


def test_assign_broadcast_mode_bit_identical_to_literal(spark, monkeypatch):
    """Past the literal guard the assignment rides the broadcast-frame
    path — same argmax, NaN guard and tie-break, so the two modes must
    return BIT-identical (vec_id, cell_id) assignments. Forcing
    ASSIGN_LITERAL_MAX to 1 takes the broadcast path."""
    from sentinela_py_spark.plans import simops
    from sentinela_py_spark.plans.simops import assign_cells_literal

    e = load_table(spark, SF_SMOKE, "embeddings")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id") < N_CELLS).collect()
    ]
    lit = {
        (r["vec_id"], r["cell_id"])
        for r in assign_cells_literal(e, cents).collect()
    }
    monkeypatch.setattr(simops, "ASSIGN_LITERAL_MAX", 1)
    bc = {
        (r["vec_id"], r["cell_id"])
        for r in assign_cells_literal(e, cents).collect()
    }
    assert lit == bc


def test_assign_auto_guard_engages_at_forced_boundary(spark, monkeypatch):
    """Force the boundary under the fixture's cells·dim and the auto
    path must switch to the broadcast plan (a BroadcastExchange appears,
    the plan-embedded literal matrix disappears) while returning the
    same assignments."""
    from sentinela_py_spark.plans import simops
    from sentinela_py_spark.plans.simops import assign_cells_literal

    e = load_table(spark, SF_SMOKE, "embeddings")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id") < N_CELLS).collect()
    ]
    want = {(r["vec_id"], r["cell_id"]) for r in assign_cells_literal(e, cents).collect()}

    def plan_of(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastExchange" not in plan_of(assign_cells_literal(e, cents))
    monkeypatch.setattr(simops, "ASSIGN_LITERAL_MAX", 1)
    forced = assign_cells_literal(e, cents)
    assert "BroadcastExchange" in plan_of(forced)
    assert {(r["vec_id"], r["cell_id"]) for r in forced.collect()} == want


def test_probe_guard_engages_at_forced_boundary(spark, monkeypatch):
    """`probe_cells_literal` crosses the SAME assignment-class boundary
    as `assign_cells_literal` (r10): force it under the fixture's
    cells·dim and the auto path must reroute through the broadcast
    centroid row (`_probe_with_row` — a BroadcastExchange appears) while
    probing the identical (vec_id, cell_id) set at every nprobe."""
    from sentinela_py_spark.plans import simops
    from sentinela_py_spark.plans.simops import probe_cells_literal

    e = load_table(spark, SF_SMOKE, "embeddings")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id") < N_CELLS).collect()
    ]

    def plan_of(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    for nprobe in (1, 2):
        lit = probe_cells_literal(e, cents, nprobe=nprobe)
        want = {(r["vec_id"], r["cell_id"]) for r in lit.collect()}
        assert "BroadcastExchange" not in plan_of(lit)
        monkeypatch.setattr(simops, "ASSIGN_LITERAL_MAX", 1)
        forced = probe_cells_literal(e, cents, nprobe=nprobe)
        assert "BroadcastExchange" in plan_of(forced)
        assert {(r["vec_id"], r["cell_id"]) for r in forced.collect()} == want
        monkeypatch.setattr(simops, "ASSIGN_LITERAL_MAX", 2**18)


def test_assign_guard_math_at_deployment_cell_counts():
    """The guard inlines codebook-scale matrices and broadcasts past
    ASSIGN_LITERAL_MAX — in particular at a 10^9-vector deployment's
    10^5 cells × 64 dims = 6.4M doubles, past literal inlining."""
    from sentinela_py_spark.plans.simops import (
        ASSIGN_LITERAL_MAX,
        EMB_DIM,
        assign_literal_mode,
    )

    assert assign_literal_mode(N_CELLS, EMB_DIM) == "literal"
    assert assign_literal_mode(100_000, 64) == "broadcast"
    boundary = ASSIGN_LITERAL_MAX // 64
    assert assign_literal_mode(boundary, 64) == "literal"
    assert assign_literal_mode(boundary + 1, 64) == "broadcast"


def test_cell_cap_never_bites_at_fixture_scale(spark):
    """The registered arms' oracles model no cap — sound because no cell
    reaches IVF_MAX_CELL_SIZE at either the correctness sf (0.01) or the
    bench sf (0.1), under the placeholder AND the trained codebook."""
    for sf in (SF_ORACLE, SF_BENCH):
        e = load_table(spark, sf, "embeddings")
        for assigned in (
            ivf_assign(e),
            assign_cells(e, _cents_frame(e, N_CELLS, dim=64)),
        ):
            _kept, audit = capped_cell_candidates(assigned)
            assert audit.count() == 0


def test_cell_cap_bounds_hot_cell_with_audit(spark):
    """Degenerate corpus: every vector on one axis → one hot cell. The
    guard bounds the kept frame at the cap and the audit reports the
    truncation exactly — never silent."""
    n, cap = 300, 64
    # exact copies (the template-flood shape): every cosine ties at 1.0,
    # the argmax resolves to the lowest cell id, ONE cell gets everything
    rows = [(i, [1.0] + [0.0] * (DIM - 1)) for i in range(n)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned = ivf_assign(e, 4)
    kept, audit = capped_cell_candidates(assigned, cap)
    sizes = {r["cell_id"]: r["n"] for r in kept.groupBy("cell_id").agg(F.count("*").alias("n")).collect()}
    assert max(sizes.values()) <= cap
    a = audit.collect()
    assert len(a) == 1
    assert a[0]["n_kept"] == cap
    assert a[0]["bucket_size"] - a[0]["n_dropped"] == cap
    assert a[0]["bucket_size"] == n  # all 300 landed in the one hot cell
    # deterministic sample: same kept ids under a different partitioning
    kept_ids = sorted(r["vec_id"] for r in kept.collect())
    kept2, _ = capped_cell_candidates(assigned.repartition(7), cap)
    assert sorted(r["vec_id"] for r in kept2.collect()) == kept_ids


def test_ivf_max_cell_size_default_sane():
    assert IVF_MAX_CELL_SIZE >= 1024
