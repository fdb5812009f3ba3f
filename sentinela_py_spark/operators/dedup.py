"""Corpus deduplication operators: exact, MinHash-LSH, SimHash.

Training-data-pipeline operators (BASELINE.json north star) built as pure
DataFrame algebra. All hashing derives from md5 (present in both Spark
and DuckDB) parsed from hex — no engine-specific hash functions — and all
arithmetic is integer-exact, so every operator is oracle-checkable and
deterministic across partitionings.

Scale notes:
- Exact dedup: one shuffle on a uniform 128-bit digest.
- MinHash: shingle explode → per-doc min-aggregation (map-side partial
  mins make the shuffle tiny) → band signature equi-join. Candidate
  generation cost is proportional to true collisions, not |docs|² —
  the standard 100 TB near-dup layout (e.g. Broder '97 shingling,
  Leskovec et al. MMDS ch.3).
- SimHash: token explode → 32 conditional-sum aggregates per doc
  (single shuffle), signature equality join for candidates.
- Why explode+aggregate and NOT per-row array folds: a "zero-shuffle"
  rewrite (array_distinct + 16 array_min(transform(...)) per row) was
  measured 4-5× SLOWER at sf0.1 — higher-order-function lambdas are
  interpreted (excluded from whole-stage codegen), the size()>0 filter
  pushdown recomputes the array pipeline in the Filter node, and the
  shuffle it "saves" was never material: map-side partial aggregation
  already collapses the exploded rows to one row per doc before the
  exchange, so only docs × 16 longs cross the wire at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sentinela_py_spark.barrier import barrier

from sentinela_py_spark.functions.text_stats import word_shingles
from sentinela_py_spark.operators.scale import DEFAULT_MAX_BUCKET_SIZE, cap_buckets
from sentinela_py_spark.tables import ensure_min_partitions

MINHASH_PRIME = 2_147_483_647  # 2^31 - 1; keeps a*h+b inside int64
# Hash/band counts are CONSTRUCTOR PARAMETERS of the helpers below;
# 16 hashes / 4 bands is only the registered-query default, kept tiny so
# the DuckDB oracles stay stable on the sf0.01 fixtures. Occupancy math
# for a real deployment: with b bands of r rows each (n_hashes = b·r),
# a pair at Jaccard similarity s collides with probability
# 1 − (1 − s^r)^b, an S-curve with threshold s* ≈ (1/b)^(1/r) —
# 16/4 → s* ≈ 0.71; a 128-hash/32-band config (s* ≈ 0.42) is the usual
# web-dedup setting. Candidate work scales with true band collisions at
# any (b, r); raising b only multiplies the exploded band rows, never
# the pair space.
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS


def _hash_coeffs(k: int) -> tuple[int, int]:
    """Deterministic LCG-style coefficients for the k-th min-hash."""
    return 1 + 37 * k, 17 + 101 * k


def hex_prefix_to_long(col: Column, n_hex: int = 15) -> Column:
    """First ``n_hex`` hex chars of an md5 digest as a non-negative int64
    (15 chars = 60 bits, safely inside the sign bit)."""
    return F.conv(F.substring(col, 1, n_hex), 16, 10).cast("long")


def shingle_hashes(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, h): one row per distinct shingle, h = md5-derived 60-bit
    integer reduced mod the MinHash prime."""
    # slice+zip_with shingles: one slice per offset, no per-element
    # subscripting, naturally empty for <3-token docs (ANSI-safe, matches
    # DuckDB generate_series(1, 0) = []) — see functions/text_stats.py.
    sh = word_shingles(F.col(text_col), k=3)
    return (
        ensure_min_partitions(documents)
        .select(F.col(id_col).alias("doc_id"), F.explode(sh).alias("shingle"))
        .distinct()
        .select("doc_id", (hex_prefix_to_long(F.md5("shingle")) % MINHASH_PRIME).alias("h"))
    )


def minhash_signatures(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """Per-document MinHash signature: columns m0..m{n_hashes-1}.

    Each hash is min((a_k*h + b_k) mod p) over the doc's shingle set —
    partial (map-side) mins collapse the shuffle to one row per doc."""
    hashed = shingle_hashes(documents, id_col, text_col)
    aggs = []
    for k in range(n_hashes):
        a, b = _hash_coeffs(k)
        aggs.append(F.min((F.col("h") * a + b) % MINHASH_PRIME).alias(f"m{k}"))
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_band_signatures(
    signatures: DataFrame,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """(doc_id, band, sig): band signature = joined minhash values of the
    band's rows (r = n_hashes // n_bands rows per band — see the S-curve
    math at N_HASHES). Docs sharing any (band, sig) are candidate
    near-dups.

    Built as ONE explode over an inline (band, sig) array — a union of
    per-band projections would make Catalyst recompute the entire
    signature aggregation once per band."""
    rows_per_band = n_hashes // n_bands
    band_structs = []
    for band in range(n_bands):
        cols = [f"m{band * rows_per_band + r}" for r in range(rows_per_band)]
        band_structs.append(
            F.struct(
                F.lit(band).alias("band"),
                F.concat_ws("-", *[F.col(c).cast("string") for c in cols]).alias("sig"),
            )
        )
    return signatures.select("doc_id", F.explode(F.array(*band_structs)).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


# Hot-bucket guard for the band self-join: DEFAULT_MAX_BUCKET_SIZE
# (operators/scale.py) is the registered-query default — far above any
# sf0.01/sf0.1 fixture bucket (≤ a few hundred docs share a band
# signature even in the adversarial stress tests), so the DuckDB oracles
# see identical results while the guard stays armed. At 100 TB of real
# web text the degenerate bucket (one boilerplate template repeated
# 10⁵×, near-empty docs) is CERTAIN to occur, and b²/2 within-bucket
# pairs land in one task — the classic LSH failure mode that salting
# cannot fix (see operators/scale.py:cap_buckets).


def band_candidate_pairs(
    bands: DataFrame,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> tuple[DataFrame, DataFrame | None]:
    """Candidate pairs from a ``(doc_id, band, sig)`` frame with the
    hot-bucket guard applied BEFORE the self-join.

    Returns ``(pairs, overflow_audit)``: pairs has ``(doc_a, doc_b,
    n_shared_bands)``; the audit (None when uncapped) carries one row per
    truncated ``(band, sig)`` bucket with its size and drop count — the
    explicit overflow accounting that keeps truncation visible. A capped
    bucket contributes pairs only among its ``cap`` deterministically
    sampled rows, bounding per-task join output at cap²/2 rows instead
    of b²/2."""
    audit = None
    if max_bucket_size is not None:
        bands, audit = cap_buckets(bands, ["band", "sig"], max_bucket_size, ["doc_id"])
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )
    return pairs, audit


def cross_corpus_candidates(
    probe_bands: DataFrame, corpus_bands: DataFrame
) -> DataFrame:
    """The batch twin of the streaming persistent-index probe
    (streaming/pipeline.py dedup_batch_against_corpus step 3): new-batch
    band signatures joined against an accepted-corpus band store.

    The store is PRE-AGGREGATED to one row per (band, sig) — only
    min(corpus_doc) per signature matters for the match verdict — which
    is exact AND skew-immune: a probe band row joins at most one store
    row, so no corpus-side hot bucket can concentrate rows in one task
    at any corpus size (the cap-based guard the self-join needs is
    unnecessary here). Returns one row per matched probe doc:
    ``(doc_a = probe doc, doc_b = min matched corpus doc,
    n_shared_bands = band signatures shared with the store)``."""
    store = corpus_bands.groupBy("band", "sig").agg(F.min("doc_id").alias("corpus_doc"))
    return (
        probe_bands.join(store, ["band", "sig"])
        .groupBy(F.col("doc_id").alias("doc_a"))
        .agg(
            F.min("corpus_doc").alias("doc_b"),
            F.count("*").alias("n_shared_bands"),
        )
    )


def minhash_candidate_pairs(
    documents: DataFrame,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """(doc_a, doc_b, n_shared_bands): pairs colliding in ≥1 LSH band.
    The equi-join on (band, sig) is the inverted-index step — work scales
    with real collisions, never |docs|² — and every bucket is bounded to
    ``max_bucket_size`` rows first (see ``band_candidate_pairs`` /
    ``cap_buckets`` for the audit-visible overflow path)."""
    # lazy checkpoint before the self-join (r14 optimization, guide §2.4):
    # both sides of `band_candidate_pairs`' join consume this frame, and
    # Catalyst plans the md5-heavy signature aggregation per side (no
    # ReusedExchange fires across the alias boundary) — the barrier
    # materializes it once, exactly as q_minhash_pairs already does.
    bands = lsh_band_signatures(
        minhash_signatures(documents, n_hashes=n_hashes), n_hashes, n_bands
    ).transform(barrier)
    pairs, _ = band_candidate_pairs(bands, max_bucket_size)
    return pairs


SIMHASH_BITS = 32


def simhash32(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-bit SimHash over whitespace tokens.

    Every token votes ±1 per bit of its 32-bit md5-derived hash; bit j of
    the signature is 1 when the vote sum is positive (ties → 0)."""
    toks = (
        ensure_min_partitions(documents)
        .select(F.col("doc_id"), F.explode(F.split("text", " ")).alias("tok"))
        .select("doc_id", hex_prefix_to_long(F.md5("tok"), 8).alias("h32"))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h32"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_doc = toks.groupBy("doc_id").agg(*votes)
    sig = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return per_doc.select("doc_id", sig.alias("simhash"))


def is_wide_signature(df: DataFrame, sig_col: str) -> bool:
    """True when ``sig_col`` is an ``array<bigint>`` multi-word
    signature (little-endian word order: word w carries bits
    [64·w, 64·w+64), each word a signed two's-complement int64 exactly
    like the single-word form). The banding/Hamming machinery below
    dispatches on this, so one public API serves both widths."""
    from pyspark.sql.types import ArrayType, LongType

    dt = df.schema[sig_col].dataType
    return isinstance(dt, ArrayType) and isinstance(dt.elementType, LongType)


def _wide_band_slice_sql(sig_col: str, band_bits: int) -> str:
    """SQL expression for band ``band``'s ``band_bits``-wide slice of an
    ``array<bigint>`` signature — `shiftright` on a single int64 caps
    every perceptual hash at 64 bits, while 4 bands over 10⁹ images need
    96+ bits to keep buckets near 64 rows.

    Band b covers global bits [b·bb, (b+1)·bb). The slice may STRADDLE a
    word boundary (e.g. a 4×24 geometry on a 96-bit hash:
    band 2 spans bits 48..72 across words 0 and 1):

    - ``lo`` = the word holding the slice's first bit, logically
      right-shifted by the in-word offset ``s`` (shiftrightunsigned —
      zero fill, so a set bit 63 never sign-extends into the slice);
    - ``hi`` = the next word's low ``k = max(s + bb − 64, 0)`` bits,
      shifted up to positions [bb−k, bb). When the slice fits one word,
      k = 0 and the hi term is identically zero — one branch-free
      expression covers both cases.
    - bb = 64 is the aligned special case (k would need a 64-bit mask):
      the slice IS the word, signed value and all — both engines join on
      the same stored bit pattern, exactly like the signed 64-bit
      single-word signature.

    ``element_at`` past the array end coalesces to 0, so a geometry
    whose coverage (n_bands·bb) overruns the words simply reads zero
    bits — the coverage VALIDATION, not the slicer, is what rejects
    signatures wider than the banding (same contract as the
    single-word form). All shift amounts stay in [0, 63] and every
    intermediate fits int64, so the expression is exact under ANSI."""
    bb = band_bits
    if bb == 64:
        return f"element_at({sig_col}, band + 1)"
    mask = (1 << bb) - 1
    # try_element_at: NULL (not an ANSI error) past the array end, so a
    # top band whose hi word doesn't exist reads zero bits via coalesce
    lo = (
        f"coalesce(try_element_at({sig_col}, "
        f"CAST((band * {bb}) DIV 64 + 1 AS INT)), CAST(0 AS BIGINT))"
    )
    hi = (
        f"coalesce(try_element_at({sig_col}, "
        f"CAST((band * {bb}) DIV 64 + 2 AS INT)), CAST(0 AS BIGINT))"
    )
    s = f"((band * {bb}) % 64)"
    k = f"greatest({s} + {bb} - 64, 0)"
    return (
        f"(shiftrightunsigned({lo}, {s}) & {mask}) | "
        f"shiftleft({hi} & (shiftleft(CAST(1 AS BIGINT), {k}) - 1), {bb} - {k})"
    )


def wide_hamming(sig_a: Column | str, sig_b: Column | str) -> Column:
    """Hamming distance between two ``array<bigint>`` signatures: sum of
    per-word ``bit_count(xor)`` — the exact multi-word analog of the
    single-word refine, computed with array higher-order functions (no
    explode, no shuffle; rides whatever exchange the join already
    paid)."""
    a = F.col(sig_a) if isinstance(sig_a, str) else sig_a
    b = F.col(sig_b) if isinstance(sig_b, str) else sig_b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def signature_bands(
    sigs: DataFrame,
    sig_col: str,
    n_bands: int = 4,
    band_bits: int = 8,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode an integer signature into its ``n_bands`` ``band_bits``-
    wide LSH slices: (id, sig, *carry, band, bsig). The shared band
    relation under `hamming_band_pairs`' self-join, the image screen's
    persistent store, and the corpus-probe arms — one definition so the
    banding the oracle replays is the banding every consumer runs.

    COVERAGE PRECONDITION: the slices only tile the
    signature when ``n_bands * band_bits`` covers its width — a 64-bit
    signature banded with the 4×8 defaults slices only the low 32 bits,
    silently losing every pair whose differences sit in the unbanded
    high bits. Callers must pass a geometry whose coverage ≥ the real
    signature width: 4×8 for the 32-bit SimHash, 4×16 for the 64-bit
    dHash (`operators.multimodal.DHASH_BANDS/DHASH_BAND_BITS`). When
    coverage < 64 the signature must also be non-negative and
    < 2^coverage; full 64-bit coverage handles signed (two's-complement)
    signatures exactly, because the arithmetic shift + mask reads the
    stored bit pattern. `hamming_band_pairs(validate_coverage=True)`
    checks this on the data.

    WIDE SIGNATURES: when ``sig_col`` is an
    ``array<bigint>`` (`is_wide_signature`), the slice is extracted by
    `_wide_band_slice_sql` — word-indexed, straddle-capable — and the
    coverage precondition generalizes to: every bit beyond
    ``n_bands · band_bits`` must be zero in every word (checked by
    `hamming_band_pairs(validate_coverage=True)`). For the aligned
    bb = 64 geometry each band IS one signed word, so signed wrap
    semantics carry over word-for-word from the single-word form."""
    band_ids = F.array(*[F.lit(i) for i in range(n_bands)])
    exploded = sigs.select(
        "doc_id", sig_col, *carry_cols, F.explode(band_ids).alias("band")
    )
    if is_wide_signature(sigs, sig_col):
        return exploded.withColumn(
            "bsig", F.expr(_wide_band_slice_sql(sig_col, band_bits))
        )
    mask = (1 << band_bits) - 1
    return exploded.withColumn(
        "bsig",
        F.expr(f"shiftright({sig_col}, band * {band_bits})").bitwiseAND(mask),
    )


def hamming_band_pairs(
    sigs: DataFrame,
    sig_col: str,
    max_hamming: int,
    n_bands: int = 4,
    band_bits: int = 8,
    max_bucket_size: int | None = None,
    carry_cols: tuple[str, ...] = (),
    validate_coverage: bool = False,
) -> tuple[DataFrame, DataFrame | None]:
    """Hamming-neighbour pairs over an integer signature column via the
    banded LSH self-join — the machinery shared by the SimHash text arm
    and the perceptual-hash image dedup (r12): explode ``n_bands``
    ``band_bits``-wide slices of the signature, equi-join on (band,
    slice), refine by true Hamming distance.

    ``sig_col`` may be a single signed int64 OR an ``array<bigint>``
    multi-word signature (r14, r13 verdict #1 — hashes wider than 64
    bits: 256-bit dHash, 128-bit audio fingerprints; the planner's own
    10⁹-image worked example needs 96+ bits). The wide form slices via
    `_wide_band_slice_sql` (straddle-capable) and refines via
    `wide_hamming` (per-word bit_count(xor) summed) — identical
    semantics, caps, audits, and pigeonhole guarantee.

    Pigeonhole recall: any pair within Hamming ``n_bands − 1`` leaves at
    least one band untouched, so recall at ``max_hamming ≤ n_bands − 1``
    is total (absent capping) — PROVIDED the bands tile the whole
    signature (see `signature_bands`' coverage precondition: with
    coverage < 64 bits, signatures must live in [0, 2^coverage); pass
    ``validate_coverage=True`` to assert that on the data with one
    O(1)-row aggregate, the never-silent option for a signature column
    whose width the caller doesn't control) — and the join cost scales
    with real collisions, never |docs|². The Hamming refine runs BEFORE
    the distinct shuffle (filter commutes with distinct; true neighbours
    are a tiny fraction of band collisions, so the distinct exchanges
    survivors only).

    ``max_bucket_size`` arms the hot-bucket guard: each (band, slice)
    bucket keeps its ``cap`` smallest rows BY ``doc_id`` — unlike
    `cap_buckets`' xxhash64 sample this ordering is replayable by a SQL
    oracle (row_number over doc_id), which is what lets a registered
    query keep the guard armed AND hash-checked. A capped bucket can
    break the pigeonhole guarantee for pairs it truncates; the returned
    audit frame (None when uncapped, else one row per truncated bucket
    with size/kept/dropped) is the never-silent accounting.

    Returns ``(pairs, audit)``; pairs has (doc_a, doc_b, hamming) plus
    ``a_<c>``/``b_<c>`` for every ``carry_cols`` entry (carried through
    the join so callers don't re-join the signature frame)."""
    coverage = n_bands * band_bits
    wide = is_wide_signature(sigs, sig_col)
    if validate_coverage and wide:
        # per-word generalization of the scalar range check: word i's
        # covered bits are clamp(coverage − 64·i, 0, 64); any set bit
        # above that (shiftright ≠ 0 catches both the positive-overflow
        # and the sign-bit case, since arithmetic shift of a negative
        # word is never 0) means a pair could differ only in unbanded
        # bits and be silently lost
        ok = F.expr(
            f"forall(zip_with({sig_col}, sequence(0, size({sig_col}) - 1),"
            f" (w, i) -> CASE WHEN {coverage} - 64 * i >= 64 THEN true"
            f" WHEN {coverage} - 64 * i <= 0 THEN w = 0"
            f" ELSE shiftright(w, {coverage} - 64 * i) = 0 END), x -> x)"
        )
        row = sigs.filter(F.size(sig_col) > 0).agg(F.min(ok)).first()
        if row is not None and row[0] is False:
            raise ValueError(
                f"wide signature has set bits beyond the {n_bands}x"
                f"{band_bits}-bit band coverage ({coverage} bits); "
                "pairs differing in unbanded bits would be silently lost"
            )
    elif validate_coverage and coverage < 64:
        lo, hi = sigs.agg(F.min(sig_col), F.max(sig_col)).first()
        if lo is not None and (lo < 0 or hi >= (1 << coverage)):
            raise ValueError(
                f"signature range [{lo}, {hi}] exceeds the {n_bands}x"
                f"{band_bits}-bit band coverage (< {1 << coverage} required); "
                "pairs differing in unbanded bits would be silently lost"
            )
    bands = signature_bands(sigs, sig_col, n_bands, band_bits, carry_cols=carry_cols)
    audit = None
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bsig")
        ranked = bands.withColumn(
            "__rn", F.row_number().over(w.orderBy("doc_id"))
        ).withColumn("__sz", F.count("*").over(w))
        audit = (
            ranked.filter(F.col("__sz") > max_bucket_size)
            .groupBy("band", "bsig")
            .agg(
                F.max("__sz").alias("bucket_size"),
                F.lit(max_bucket_size).alias("n_kept"),
                (F.max("__sz") - max_bucket_size).alias("n_dropped"),
            )
        )
        bands = ranked.filter(F.col("__rn") <= max_bucket_size).drop("__rn", "__sz")
    a, b = bands.alias("a"), bands.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bsig") == F.col("b.bsig"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col(f"a.{sig_col}").alias("sig_a"),
        F.col(f"b.{sig_col}").alias("sig_b"),
        *[F.col(f"a.{c}").alias(f"a_{c}") for c in carry_cols],
        *[F.col(f"b.{c}").alias(f"b_{c}") for c in carry_cols],
    )
    hamming = (
        wide_hamming("sig_a", "sig_b")
        if wide
        else F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    )
    pairs = (
        cand.select(
            "doc_a",
            "doc_b",
            hamming.cast("long").alias("hamming"),
            *[f"a_{c}" for c in carry_cols],
            *[f"b_{c}" for c in carry_cols],
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs, audit


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, group_id): connected components by iterative min-label
    propagation — the grouping step that turns near-dup PAIRS into dedup
    GROUPS (pick one survivor per group). ``edges`` needs columns
    (doc_a, doc_b); vertices absent from any edge stay singletons.

    Each sweep sends a vertex's current label to its neighbours and keeps
    the min, until a sweep leaves Σ(group_id) unchanged — labels only
    fall, so that is the fixpoint, reached after at most diameter + 1
    sweeps whatever the graph's shape; near-dup clusters
    are shallow (dozens of docs, diameter ≤ a few), so this terminates in
    2-3 sweeps in practice. ``localCheckpoint`` truncates the growing
    lineage so the plan stays O(1) per sweep at 100 TB (the
    GraphX/GraphFrames large-star alternative only pays off on graphs
    with deep chains, which dedup clusters are not).

    The iteration runs over the EDGE SUBGRAPH only: a vertex not touching
    any edge can never change its label, so the per-sweep join cost is
    proportional to the near-dup subgraph (typically a small fraction of
    the corpus), not |corpus|. Untouched vertices re-enter as singletons
    via one left join at the end — at 100 TB that's the difference
    between iterating over the whole corpus O(diameter) times and
    touching it exactly once.
    """
    # Materialize the symmetric edge list once — every sweep reuses it, and
    # without this the whole upstream pipeline (e.g. the MinHash band join)
    # would be recomputed per sweep.
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        # lazy: the seed aggregate below is the materializing action
        # (r14 — an eager checkpoint here was a separate job per
        # invocation)
        .transform(barrier)
    )
    # SEED = the result of sweep 1 from identity labels, computed with ONE
    # aggregation (r14 optimization): with label(v) = v, the first sweep's
    # propagation join `labels ⋈ sym on src` is just `sym` renamed, so
    # min(v, min over incoming src) — i.e. min(least(src, dst)) grouped by
    # dst (sym is symmetric, so every edge-touching vertex appears as dst)
    # — IS the sweep-1 label set. This removes one distinct pass and one
    # full join sweep per invocation while converging to the identical
    # min-label fixpoint.
    # Every label frame is a LAZY barrier, not a persist() (r15, r14
    # verdict #6 — fewer driver-blocked jobs): the convergence aggregate
    # that follows each frame is its materializing action, so ONE job per
    # sweep does sweep + store + convergence sum, the converged frame is
    # already lineage-truncated for the caller (no separate eager
    # checkpoint job at the end — r14 paid one per invocation), and the
    # persist/unpersist bookkeeping disappears (checkpoint blocks free
    # with the frame's GC). ``deg`` (incident sym rows per vertex) rides
    # the same aggregate so the sweep sizing below can clamp on the EDGE
    # count too (r14 ADVICE: pair-dense capped buckets reach ~30× edges
    # per vertex, so a vertex-only bound could under-partition the sweep
    # joins on dense corpora).
    seed = (
        sym.groupBy(F.col("dst").alias("doc_id"))
        .agg(
            F.min(F.least("src", "dst")).alias("group_id"),
            F.count(F.lit(1)).alias("deg"),
        )
        .transform(barrier)
    )
    # ONE action does three jobs' work (r14 — the subgraph sizing used to
    # be a separate count() job): it materializes the sym checkpoint and
    # the seed's own checkpoint, returns the convergence baseline, and
    # returns the subgraph sizes for the sweep-partitioning choice below.
    # Min-propagation only ever lowers labels, so Σ(group_id) is strictly
    # decreasing until the fixpoint — an O(1)-row reduction doubles as
    # the convergence test (no compare-join needed).
    prev_sum, n_vertices, n_sym = seed.agg(
        F.sum("group_id"), F.count(F.lit(1)), F.sum("deg")
    ).collect()[0]
    # Size the sweeps to the SUBGRAPH, not the session: the near-dup edge
    # set is usually tiny relative to spark.sql.shuffle.partitions, and at
    # that size each sweep's cost is pure task-scheduling overhead (32
    # reducers for a few hundred rows, times O(diameter) sweeps — measured
    # 0.7s/sweep vs 0.25s/sweep at p=1 on a 329-edge graph). Sized on the
    # max of the vertex bound and the sym-row bound (n_sym = 2× the pair
    # count — both known from the seed aggregate without a separate count
    # job), so pair-dense subgraphs keep enough sweep partitions;
    # coalesce is narrow (no extra shuffle), and p grows back to the
    # session value as the subgraph does, so corpus-scale runs keep full
    # parallelism.
    # shuffle.partitions may be non-numeric on AQE-managed platforms
    # (e.g. "auto"); fall back to the checkpoint's own partitioning.
    raw_cap = str(sym.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cap = int(raw_cap) if raw_cap.isdigit() else max(1, sym.rdd.getNumPartitions())
    p = max(1, min(cap, max(n_vertices // 50_000, (n_sym or 0) // 100_000) + 1))
    sym = sym.coalesce(p)
    labels = seed.select("doc_id", "group_id").coalesce(p)
    while True:
        prop = (
            labels.join(sym, labels.doc_id == sym.src)
            .select(F.col("dst").alias("doc_id"), F.col("group_id"))
        )
        new_labels = (
            labels.union(prop)
            .groupBy("doc_id")
            .agg(F.min("group_id").alias("group_id"))
            .coalesce(p)
            .transform(barrier)
        )
        # the materializing action of the sweep's lazy barrier: one job
        # computes the sweep, stores its blocks, and reduces the sum
        new_sum = new_labels.agg(F.sum("group_id")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    # `labels` is already materialized and lineage-truncated by its own
    # convergence action — hand it straight to the caller.
    # Singletons (no incident edge) label themselves — one map-side
    # projection + left join against the (small) converged label set.
    # The label side broadcasts EXPLICITLY when the seed job proved the
    # subgraph small (checkpoint stats default to "huge", which would
    # plan this join sort-merge — the r14 persist() carried real cache
    # stats and got the broadcast for free): |labels| ≤ n_vertices, and
    # 4M (doc_id, group_id) rows ≈ the session's 64 MB broadcast
    # threshold. Bigger subgraphs fall back to the planner's choice.
    label_side = F.broadcast(labels) if n_vertices <= 4_000_000 else labels
    return vertices.select(F.col(id_col).alias("doc_id")).join(
        label_side, "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("group_id", F.col("doc_id")).alias("group_id")
    )


# Substring-span guard: grams whose document frequency exceeds this are
# boilerplate (site templates, license headers flooding a corpus) — each
# such gram contributes ~df^2/2 match rows to the position join, so one
# viral template must not set the join size. 64 never bites at fixture
# scale (max observed df is 3 at sf0.01 — test-pinned, so the cap-free
# oracle sees identical rows) and bounds a degenerate gram's pair output
# at ~2k rows at deployment; dropped grams land in the audit frame.
DEFAULT_MAX_GRAM_DF = 64


def shared_span_pairs(
    docs: DataFrame,
    k: int = 8,
    min_span_words: int = 12,
    max_gram_df: int | None = DEFAULT_MAX_GRAM_DF,
) -> tuple[DataFrame, DataFrame | None]:
    """SUBSTRING-level shared spans between otherwise-distinct documents
    — the remaining member of the LLM dedup family beside doc-level
    exact/MinHash/SimHash/semantic dedup (Lee et al.'s repeated-substring
    removal, approximated with the engine's inverted-index algebra
    instead of a suffix array):

    1. each doc explodes to positioned k-word grams (`word_shingles` +
       posexplode; gram text folds to xxhash64 immediately, so the
       self-join shuffles fixed-width longs — the q_ngram_jaccard_pairs
       treatment);
    2. the gram equi-join across documents (doc_a < doc_b) yields match
       positions (pa, pb) — cost ∝ true gram collisions, never |docs|²;
    3. matches on one ALIGNMENT DIAGONAL (pa − pb constant) with
       consecutive pa form a maximal shared span: the islands-and-gaps
       trick (run_id = pa − row_number over the diagonal) groups each
       run in one window pass, and a run of L consecutive k-grams is a
       shared span of L + k − 1 words.

    Returns ``(spans, audit)``: spans as (doc_a, doc_b, a_start, b_start,
    span_words) — 1-based word offsets, spans of at least
    ``min_span_words`` words — and the hot-gram audit (grams dropped by
    ``max_gram_df``, with their document frequency; None when uncapped).
    Every stage is a shuffle on uniform keys (gram hash, then the pair
    diagonal), so the operator scales like the other inverted-index
    dedup joins at 100 TB.

    Collision exposure: the join key is xxhash64(gram), so two DISTINCT
    grams colliding in 64 bits would synthesize a false match position —
    and a run of them, a false span that `remove_shared_spans` would
    then cut from genuine content. The registered oracle joins on the
    raw gram STRING, so oracle parity doubles as a collision audit at
    fixture scale (exactly as q_decontamination documents for its gram
    screen); at deployment scale the exposure is the birthday bound on
    the corpus's distinct-gram count (~2^32 grams for even odds of ONE
    colliding pair, which still needs aligned neighbors to reach
    ``min_span_words``) — and a false span ≥ 12 words requires ≥ 5
    consecutive colliding grams on one diagonal, vanishingly unlikely
    even there. Deployments cutting irreplaceable content can confirm
    span text equality before applying cuts."""
    from pyspark.sql import Window as W

    grams = (
        ensure_min_partitions(docs)
        .select(
            F.col("doc_id"),
            F.posexplode(word_shingles(F.col("text"), k=k)).alias("pos0", "gram"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.xxhash64("gram").alias("gram"),
        )
        # lazy checkpoint (r14 optimization, guide §2.4): this frame has
        # up to FOUR consumers (df aggregation, anti-join left side, both
        # self-join sides) and Catalyst plans the posexplode per consumer
        # — the barrier materializes the gram table once.
        .transform(barrier)
    )
    audit = None
    if max_gram_df is not None:
        # one partial-aggregated shuffle on the gram hash (countDistinct
        # expands to (gram, doc) internally but needs no separate
        # distinct pass), then an anti-join that reuses the same key
        doc_freq = grams.groupBy("gram").agg(
            F.countDistinct("doc_id").alias("df")
        )
        audit = doc_freq.filter(F.col("df") > max_gram_df)
        grams = grams.join(audit.select("gram"), "gram", "left_anti")
    a, b = grams.alias("a"), grams.alias("b")
    m = a.join(
        b,
        (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
    )
    diag = F.col("pa") - F.col("pb")
    w = W.partitionBy("doc_a", "doc_b", diag).orderBy("pa")
    runs = m.withColumn("diag", diag).withColumn(
        "run_id", F.col("pa") - F.row_number().over(w)
    )
    spans = (
        runs.groupBy("doc_a", "doc_b", "diag", "run_id")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            (F.count("*") + F.lit(k - 1)).alias("span_words"),
        )
        .filter(F.col("span_words") >= min_span_words)
        .select("doc_a", "doc_b", "a_start", "b_start", "span_words")
    )
    return spans, audit


# Within-doc occurrence guard: a degenerate document ("buy buy buy ..."
# × 10⁵) makes ONE gram carry its whole length, and the (doc, gram)
# self-join then produces occurrences²/2 pairs inside a single task —
# the intra-doc analog of the cross-doc hot-gram df blow-up. 64 bounds
# the per-gram pair count at 2,016 while sitting far above any real
# repeated-passage multiplicity (fixture max is single digits,
# test-pinned); occurrences beyond the cap surface in the audit, and
# text a capped trim leaves behind is exactly what the repetition
# QUALITY rules (top_term_fraction) exist to reject doc-level.
DEFAULT_MAX_GRAM_OCCURRENCES = 64


def intra_doc_repeat_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_span_words: int = 3,
    max_gram_occurrences: int | None = DEFAULT_MAX_GRAM_OCCURRENCES,
) -> tuple[DataFrame, DataFrame | None]:
    """WITHIN-document repeated passages — the intra-doc member of the
    repetition family (`shared_span_pairs` finds passages shared ACROSS
    documents; this finds a passage repeated INSIDE one document — the
    boilerplate/navigation/degenerate-generation pattern the Gopher
    repetition rules flag by short-n-gram fractions, here reported as
    explicit positioned spans instead of one scalar ratio).

    Same diagonal-run algebra as the cross-doc operator, restricted to
    one document: positioned k-grams self-join on (doc_id, gram) with
    ``pos_a < pos_b``; matches on one OFFSET diagonal (pb − pa constant)
    with consecutive pa form a maximal repeat — a run of L aligned
    grams is a repeated span of L + k − 1 words. Returns (doc_id,
    a_start, b_start, span_words): 1-based word offsets of the FIRST
    occurrence and the repeat. Defaults use 3-word grams (within-doc
    repetition is short-phrase-scale; the cross-doc operator's k=8 is
    tuned for quoted passages).

    Scale: the join key includes doc_id, so bucket width is a gram's
    multiplicity WITHIN one document — safe from corpus-frequency
    blow-ups (the cross-doc join's failure mode), but NOT from the
    degenerate document itself: one gram repeated m times yields m²/2
    pairs in one task, and real web corpora contain m = 10⁵ spam docs.
    ``max_gram_occurrences`` bounds m by keeping each gram's FIRST
    occurrences by position (keep-first, matching the cutter's
    semantics); truncated (doc, gram) buckets surface in the returned
    audit, never silently. A self-overlapping repeat ("x x x x")
    reports overlapping spans by design; a cutter merges intervals
    (keep-first) exactly as `remove_shared_spans` does for cross-doc
    spans.

    Returns ``(spans, audit)``; audit is None when uncapped, else one
    row per truncated (doc_id, gram) with its occurrence count."""
    from pyspark.sql import Window as W

    grams = (
        ensure_min_partitions(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(word_shingles(F.col(text_col), k=k)).alias("pos0", "gram"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.xxhash64("gram").alias("gram"),
        )
        # lazy checkpoint (r14 optimization, guide §2.4): the occurrence
        # window and both self-join sides consume this frame — the
        # barrier materializes the positioned gram explode once.
        .transform(barrier)
    )
    audit = None
    if max_gram_occurrences is not None:
        # the occurrence window partitions on the SAME key the self-join
        # hashes on, so its exchange is reused by the join — the guard
        # costs a per-bucket sort, not an extra shuffle
        occ_w = W.partitionBy("doc_id", "gram").orderBy("pos")
        counted = grams.withColumn("occ", F.row_number().over(occ_w))
        audit = (
            counted.groupBy("doc_id", "gram")
            .agg(F.max("occ").alias("occurrences"))
            .filter(F.col("occurrences") > max_gram_occurrences)
        )
        grams = counted.filter(F.col("occ") <= max_gram_occurrences).drop("occ")
    a, b = grams.alias("a"), grams.alias("b")
    m = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.gram") == F.col("b.gram"))
        & (F.col("a.pos") < F.col("b.pos")),
    ).select(
        F.col("a.doc_id").alias("doc_id"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
    )
    diag = F.col("pb") - F.col("pa")
    w = W.partitionBy("doc_id", diag).orderBy("pa")
    runs = m.withColumn("diag", diag).withColumn(
        "run_id", F.col("pa") - F.row_number().over(w)
    )
    spans = (
        runs.groupBy("doc_id", "diag", "run_id")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            (F.count("*") + F.lit(k - 1)).alias("span_words"),
        )
        .filter(F.col("span_words") >= min_span_words)
        .select("doc_id", "a_start", "b_start", "span_words")
    )
    return spans, audit


def remove_intra_doc_repeats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_span_words: int = 3,
    max_gram_occurrences: int | None = DEFAULT_MAX_GRAM_OCCURRENCES,
    with_audit: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame | None]:
    """Cut WITHIN-document repeated passages down to their first
    occurrence: `intra_doc_repeat_spans` finds the repeats, and the
    shared keep-first cutter (`remove_shared_spans`) removes every later
    copy's interval [b_start, b_start + span_words) — the per-word
    exists probe composes overlapping cuts, so degenerate periodic text
    ("w w w w ...") collapses to its repeating unit's first copy.

    Unlike the cross-doc cut, this transform is DOC-LOCAL: the verdict
    depends only on the document itself — no corpus state, no arrival-
    order dependence — so it is safe as an ingest-time normalizer
    (streaming/pipeline.composed_ingest_batch's optional trim stage)
    where cross-doc span cutting is deliberately batch-only. Docs with
    no repeats pass through byte-identical; non-text columns ride
    through untouched. ``max_gram_occurrences`` forwards to the
    occurrence guard (None disables it), so ingest deployments can tune
    or drop the cap; pass ``with_audit=True`` to get ``(trimmed,
    audit)`` back — one row per truncated (doc_id, gram), None when
    uncapped — so capped degenerate docs are OBSERVABLE at the trim
    stage, not silently shortened. A degenerate doc's tail beyond the
    cap is the repetition QUALITY rules' job, not the trimmer's."""
    spans, audit = intra_doc_repeat_spans(
        docs,
        id_col=id_col,
        text_col=text_col,
        k=k,
        min_span_words=min_span_words,
        max_gram_occurrences=max_gram_occurrences,
    )
    trimmed = remove_shared_spans(
        docs,
        spans.select(F.col("doc_id").alias("doc_b"), "b_start", "span_words"),
        id_col=id_col,
        text_col=text_col,
    )
    return (trimmed, audit) if with_audit else trimmed


def remove_shared_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply the Lee-et-al treatment to `shared_span_pairs` output:
    every duplicated passage keeps its FIRST occurrence (the doc_a side —
    doc_a < doc_b by construction) and is cut from the doc_b side, so
    the corpus retains each repeated substring exactly once while both
    documents' unique content survives (doc-level dedup would discard
    one whole document to achieve less).

    Mechanics: the doc_b-side cut intervals [b_start, b_start +
    span_words) aggregate per doc (one row per doc-with-cuts), join back
    to the corpus on the id, and the rebuild is pure map-side column
    algebra: each word keeps its 1-based position via a zip_with against
    a sequence, survives iff NO cut interval covers it (the per-word
    `exists` probe makes overlapping cuts compose without any
    interval-merge pass), and the survivors re-join with single spaces.
    Docs with no cuts pass through byte-identical; non-text columns ride
    through untouched, every column in its original position."""
    cuts = (
        spans.select(
            F.col("doc_b").alias(id_col),
            F.struct(
                F.col("b_start").alias("s"),
                (F.col("b_start") + F.col("span_words")).alias("e"),
            ).alias("cut"),
        )
        .groupBy(id_col)
        .agg(F.collect_list("cut").alias("cuts"))
    )
    # Plain equi join on the id — NOT a forced broadcast: on the
    # high-duplication corpora this operator exists for, the cuts frame
    # is proportional to the duplicated half of the corpus, so assuming
    # it fits in driver/executor memory is a scale-killer. AQE picks
    # broadcast on its own whenever cuts is genuinely small.
    joined = docs.join(cuts, id_col, "left")
    words = F.split(F.col(text_col), " ")
    posed = F.zip_with(
        words,
        F.sequence(F.lit(1), F.greatest(F.size(words), F.lit(1))),
        lambda w, p: F.struct(w.alias("w"), p.alias("p")),
    )
    cts = F.coalesce(F.col("cuts"), F.array())
    kept = F.filter(
        posed,
        lambda x: ~F.exists(cts, lambda c: (x["p"] >= c["s"]) & (x["p"] < c["e"])),
    )
    cleaned = F.array_join(F.transform(kept, lambda x: x["w"]), " ")
    cut_text = (
        F.when(F.col("cuts").isNull(), F.col(text_col)).otherwise(cleaned).alias(text_col)
    )
    # rebuild the select list from docs.columns so the output schema is
    # positionally identical to the input (text_col replaced in place)
    return joined.select(
        *[cut_text if c == text_col else F.col(c) for c in docs.columns]
    )
