"""Distributed linear-classifier quality filter (model-based curation).

The production curation step the rule-based quality signals feed: train
a linear classifier on weak labels and keep documents the MODEL scores
positive — the DCLM / fineweb-edu "quality classifier" stage, where a
cheap linear model (fasttext-style) generalizes a handful of seed
judgments across the whole corpus. At 100 TB the shape must be: a
training loop whose per-iteration cost is ONE map-side pass + a d-double
aggregate (never a collect of rows), and a scoring pass that is a pure
map-only projection riding the feature scan.

Spark rendering (the MLlib/`kmeans.py` pattern): weights live on the
driver as d+1 Python floats; each iteration computes the L2-regularized
HINGE subgradient with one `agg` over the feature frame — active-margin
indicator + per-feature terms summed as DECIMAL(28,15) so the gradient
is ORDER-INSENSITIVE (bit-identical under any partitioning, and
replayable in DuckDB: `svm_weights_sql` below generates the twin CTE
chain the oracle runs). Hinge, not logistic, is deliberate: the
subgradient needs only +, ×, and a comparison — all IEEE-exact and
identical across engines — where a sigmoid would drag in `exp`, whose
libm implementations differ bit-wise between JVM and DuckDB. A fixed
iteration count + a compile-time decaying step schedule keep the loop
deterministic (no convergence test, nothing data-dependent).

Scale notes: per iteration the executors see one whole-stage-codegen
pass over (d+1) columns and shuffle exactly d+2 partial-aggregate
doubles per task; the driver holds d+1 floats. Scoring
(`linear_score`) is a literal-weight column expression — no join, no
UDF. Cost at any corpus size ∝ ITERS full scans, same as one extra
quality rule; train on a `training_sample`-style subsample when even
that is too much (the FAISS/k-means setup, `operators/sampling.py`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "SVM_ITERS",
    "SVM_ETA",
    "SVM_DECAY",
    "SVM_LAMBDA",
    "linear_score",
    "svm_weights",
    "svm_weights_sql",
]

# Fixed training schedule: a DECAYING step η_t = η₀/(1 + decay·t) —
# constant-step hinge subgradient descent oscillates around the optimum
# (measured: sign-agreement with the labels swung 0.96 → 0.73 between
# adjacent constant-step iteration counts), while the decaying schedule
# converges and is FLAT across extra iterations (0.970/0.972/0.972 at
# 12/16/20 on the driver corpus). Still deterministic by construction:
# iterations unroll, so each one renders its own Python-computed η_t
# double as a literal in both engines — no data-dependent stopping.
# Features should be roughly centered/unit-scaled (see the call site) so
# the hinge margin target of 1 is reachable with O(1) weights inside the
# fixed schedule.
SVM_ITERS = 12
SVM_ETA = 1.0
SVM_DECAY = 0.5
SVM_LAMBDA = 0.01


def linear_score(feature_cols: list[str], weights: list[float]) -> Column:
    """w·x as a LEFT-TO-RIGHT literal-weight chain — ((w0·x0 + w1·x1) +
    w2·x2) + … — the same association order `svm_weights_sql`'s
    ``w0*x0 + w1*x1 + …`` parses to, so scores are bit-identical across
    engines. Pure map-side column algebra: scoring a corpus is a
    projection, no join, no UDF."""
    expr = F.lit(float(weights[0])) * F.col(feature_cols[0])
    for c, wj in zip(feature_cols[1:], weights[1:]):
        expr = expr + F.lit(float(wj)) * F.col(c)
    return expr


def svm_weights(
    features: DataFrame,
    feature_cols: list[str],
    iters: int = SVM_ITERS,
) -> list[float]:
    """Train the L2-regularized linear SVM by decaying-step subgradient
    descent; returns the d+1 weights (include a constant 1.0 column for
    the bias). The label column ``y`` must be DOUBLE ±1.0.

    Per iteration: margin m = y·(w·x) with the CURRENT driver-resident
    weights as literals; every row with m < 1 contributes −y·x_j to
    gradient component j (exact sign-flip products of stored doubles),
    summed as DECIMAL(28,15) — order-insensitive, so the result is
    bit-identical under any partitioning and equals DuckDB's sum over
    the same rows. The update w_j ← w_j − η_t·(λ·w_j + g_j/n), with the
    decaying η_t = η₀/(1 + decay·t), is IEEE ops on identical operands
    in both engines (each iteration's η_t is computed ONCE in Python
    and rendered into the SQL twin via repr — the shortest round-trip
    representation, so both engines hold the exact same double). Weights are
    therefore reproducible bit-for-bit from the feature frame alone
    (pinned by tests against a pure-Python replay AND the
    `svm_weights_sql` DuckDB chain).

    Raises ``ValueError`` on an empty feature frame — even at
    ``iters=0``, where the loop body would otherwise never see it. The
    row count cannot change across iterations (the frame is fixed), so
    it is taken ONCE up front and reused by every update.

    The feature frame is scanned ``iters`` times — localCheckpoint it
    when its lineage is expensive (the call sites do)."""
    n = features.count()
    if n == 0:
        raise ValueError("svm_weights: empty feature frame")
    w = [0.0] * len(feature_cols)
    for t in range(iters):
        eta_t = SVM_ETA / (1.0 + SVM_DECAY * t)
        margin = F.col("y") * linear_score(feature_cols, w)
        terms = [
            F.coalesce(
                F.sum(
                    F.when(margin < 1.0, (-F.col("y")) * F.col(c))
                    .otherwise(F.lit(0.0))
                    .cast("decimal(28,15)")
                ).cast("double"),
                F.lit(0.0),
            ).alias(f"g{j}")
            for j, c in enumerate(feature_cols)
        ]
        row = features.agg(*terms).collect()[0]
        w = [w[j] - eta_t * (SVM_LAMBDA * w[j] + row[f"g{j}"] / n) for j in range(len(w))]
    return w


def svm_weights_sql(
    src: str,
    id_expr: str,
    feature_exprs: list[str],
    label_expr: str,
    prefix: str = "svm",
) -> str:
    """DuckDB twin of `svm_weights` as a chain of CTE definitions (no
    leading WITH; embed inside a WITH list): ``{prefix}_feat`` (doc id +
    x0..xd + y, MATERIALIZED — referenced every iteration, and default
    CTE inlining would otherwise grow the scan tree exponentially like
    the k-means chain did) → one gradient + one update CTE per
    iteration → final one-row ``{prefix}_w`` (w0..wd). The gradient sums
    the identical DECIMAL(28,15) terms over the identical 6dp-rounded
    features, and each iteration's update line renders its η_t (and λ)
    via ``repr`` so the SQL literals are the exact doubles the Python
    loop used.

    Defined only for a NON-EMPTY ``{prefix}_feat`` — the chain has no
    empty-input guard (``g/n`` with n=0 would yield NULL weights), by
    design: `svm_weights` raises ``ValueError`` on an empty frame
    before any SQL twin could be compared, so the engines never diverge
    on that degenerate input."""
    d = len(feature_exprs)
    feats = ", ".join(f"{e} AS x{j}" for j, e in enumerate(feature_exprs))
    parts = [
        f"""{prefix}_feat AS MATERIALIZED (
      SELECT {id_expr} AS fid, {feats}, {label_expr} AS y FROM {src}
    )""",
        f"""{prefix}_w0 AS (
      SELECT {', '.join(f'CAST(0.0 AS DOUBLE) AS w{j}' for j in range(d))}
    )""",
    ]
    dot = " + ".join(f"w.w{j} * f.x{j}" for j in range(d))
    for i in range(SVM_ITERS):
        grads = ", ".join(
            f"COALESCE(CAST(SUM(CASE WHEN f.y * ({dot}) < 1"
            f" THEN CAST(-f.y * f.x{j} AS DECIMAL(28,15))"
            f" ELSE CAST(0 AS DECIMAL(28,15)) END) AS DOUBLE), 0.0) AS g{j}"
            for j in range(d)
        )
        # every w_i is referenced TWICE (its gradient CTE and the next
        # update) — default CTE inlining would square the scan tree per
        # iteration (2^iters scans of the feature relation, the k-means
        # chain's "Too many open files" failure); MATERIALIZED keeps the
        # chain linear. w_i is one row, so materialization is free.
        parts.append(
            f"""{prefix}_g{i} AS MATERIALIZED (
      SELECT {grads}, COUNT(*) AS n
      FROM {prefix}_feat f CROSS JOIN {prefix}_w{i} w
    )"""
        )
        eta_t = SVM_ETA / (1.0 + SVM_DECAY * i)
        updates = ", ".join(
            f"w.w{j} - {eta_t!r} * ({SVM_LAMBDA!r} * w.w{j} + g.g{j} / g.n) AS w{j}"
            for j in range(d)
        )
        parts.append(
            f"""{prefix}_w{i + 1} AS MATERIALIZED (
      SELECT {updates} FROM {prefix}_g{i} g CROSS JOIN {prefix}_w{i} w
    )"""
        )
    parts.append(f"{prefix}_w AS (SELECT * FROM {prefix}_w{SVM_ITERS})")
    return ",\n    ".join(parts)
