"""int8 vector quantization: bounded reconstruction error, constant-vector
round-trip, and coarse-quantized → exact-refine ANN recall vs the exact
brute-force ranking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentinela_py_spark.functions.vectors import (
    coarse_refine_topk,
    dequantize_vec,
    ivf_pq_topk,
    quantize_embeddings,
)
from sentinela_py_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


class TestQuantize:
    def test_error_bounded_by_half_scale(self, spark):
        e = load_table(spark, SF_DIR, "embeddings")
        checked = (
            quantize_embeddings(e)
            .select(
                F.col("vec_id"),
                F.col("q.scale").alias("scale"),
                F.zip_with(
                    "embedding",
                    dequantize_vec(F.col("q")),
                    lambda a, b: F.abs(a.cast("double") - b),
                ).alias("errs"),
            )
            .select("vec_id", "scale", F.array_max("errs").alias("max_err"))
            .collect()
        )
        assert len(checked) > 0
        for r in checked:
            # round() gives half-scale error; allow float32→double slop
            assert r["max_err"] <= r["scale"] / 2 + 1e-9, r["vec_id"]

    def test_constant_vector_roundtrips_exactly(self, spark):
        df = spark.createDataFrame([(1, [2.5, 2.5, 2.5])], ["vec_id", "embedding"])
        row = (
            quantize_embeddings(df)
            .select(dequantize_vec(F.col("q")).alias("deq"), F.col("q.codes").alias("codes"))
            .collect()[0]
        )
        assert row["deq"] == [2.5, 2.5, 2.5]
        assert row["codes"] == [-128, -128, -128]

    def test_codes_fit_int8(self, spark):
        e = load_table(spark, SF_DIR, "embeddings")
        bounds = (
            quantize_embeddings(e)
            .select(F.explode(F.col("q.codes")).alias("c"))
            .agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
            .collect()[0]
        )
        assert -128 <= bounds["lo"] and bounds["hi"] <= 127


class TestPQ:
    def test_seed_vectors_reconstruct_exactly(self, spark):
        """A codebook seed's own subvectors are all in the codebook at
        distance 0, so its PQ reconstruction is the vector itself."""
        from sentinela_py_spark.functions.vectors import (
            PQ_K,
            pq_codebook_seeds,
            pq_reconstruct,
        )

        e = load_table(spark, SF_DIR, "embeddings")
        seeds_row = F.broadcast(pq_codebook_seeds(e))
        rows = (
            e.filter(F.col("vec_id") < PQ_K)
            .crossJoin(seeds_row)
            .select(
                "vec_id",
                F.zip_with(
                    "embedding",
                    pq_reconstruct(F.col("embedding"), F.col("seeds")),
                    lambda a, b: F.abs(a.cast("double") - b),
                ).alias("errs"),
            )
            .select("vec_id", F.array_max("errs").alias("max_err"))
            .collect()
        )
        assert len(rows) == PQ_K
        assert all(r["max_err"] == 0.0 for r in rows)

    def test_pq_codes_compress_and_bound_error(self, spark):
        """Non-seed vectors reconstruct with bounded error: the PQ
        approximation can never beat the best codeword per subspace, and
        must match the brute-force argmin computed independently."""
        from sentinela_py_spark.functions.vectors import pq_codebook_seeds, pq_reconstruct

        e = load_table(spark, SF_DIR, "embeddings").limit(50)
        seeds_row = F.broadcast(pq_codebook_seeds(load_table(spark, SF_DIR, "embeddings")))
        recon = (
            e.crossJoin(seeds_row)
            .select(
                "vec_id",
                "embedding",
                pq_reconstruct(F.col("embedding"), F.col("seeds")).alias("deq"),
            )
            .collect()
        )
        import math

        seeds = {
            r["vec_id"]: r["embedding"]
            for r in load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 16).collect()
        }
        for row in recon:
            v, deq = row["embedding"], row["deq"]
            assert len(deq) == len(v) == 64
            for mi in range(8):
                sub = [float(x) for x in v[mi * 8:(mi + 1) * 8]]
                got = deq[mi * 8:(mi + 1) * 8]
                best = min(
                    (
                        round(sum((a - float(b)) ** 2 for a, b in zip(sub, s[mi * 8:(mi + 1) * 8])), 9),
                        cw,
                    )
                    for cw, s in sorted(seeds.items())
                )
                want = [float(x) for x in seeds[best[1]][mi * 8:(mi + 1) * 8]]
                assert all(math.isclose(a, b, rel_tol=0, abs_tol=1e-12) for a, b in zip(got, want)), (
                    row["vec_id"],
                    mi,
                )

    def test_ivf_pq_matches_in_cell_search(self, spark):
        """IVF-PQ = cell routing + PQ coarse + exact refine: a query's
        results must (a) all come from its own cell, and (b) contain the
        true in-cell top-k whenever coarse_k spans the cell (the PQ
        coarse stage can then never evict an in-cell winner)."""
        from sentinela_py_spark.functions.vectors import ivf_pq_topk
        from sentinela_py_spark.plans.simops import ivf_assign

        corpus = load_table(spark, SF_DIR, "embeddings")
        queries = corpus.filter(F.col("vec_id") < 3)
        got = ivf_pq_topk(corpus, queries, k=5, coarse_k=1000).collect()
        cells = {r["vec_id"]: r["cell_id"] for r in ivf_assign(corpus).collect()}
        for r in got:
            assert r["cell_id"] == cells[r["query_id"]]  # own cell only
        # exact in-cell top-5 for each query
        from pyspark.sql import Window as W

        from sentinela_py_spark.plans.simops import cosine

        assigned = ivf_assign(corpus)
        qs = assigned.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"), "cell_id"
        )
        w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
        want = (
            assigned.join(qs, "cell_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn("cos", F.round(cosine(F.col("embedding"), F.col("qvec")), 6))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 5)
            .select("query_id", "vec_id", "rnk")
            .collect()
        )
        assert {(r["query_id"], r["rnk"], r["vec_id"]) for r in got} == {
            (r["query_id"], r["rnk"], r["vec_id"]) for r in want
        }

    def test_pq_refine_recall_vs_exact(self, spark):
        from sentinela_py_spark.functions.vectors import pq_refine_topk

        corpus = load_table(spark, SF_DIR, "embeddings")
        queries = corpus.filter(F.col("vec_id") < 3)
        got = {
            (r["query_id"], r["vec_id"])
            for r in pq_refine_topk(corpus, queries, k=5, coarse_k=50).collect()
        }
        want = {
            (r["query_id"], r["vec_id"])
            for r in TestCoarseRefine()._exact_topk(corpus, queries, 5).collect()
        }
        # PQ at 32× compression is coarser than int8; with coarse_k=50 over
        # a ~500-vector corpus the true top-5 still survives the coarse cut
        assert len(got & want) / len(want) >= 0.8


class TestCoarseRefine:
    @pytest.fixture()
    def corpus(self, spark):
        return load_table(spark, SF_DIR, "embeddings")

    def _exact_topk(self, corpus, queries, k):
        from pyspark.sql import Window as W

        from sentinela_py_spark.plans.simops import cosine

        qs = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
        return (
            corpus.crossJoin(F.broadcast(qs))
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn("cosine", F.round(cosine(F.col("embedding"), F.col("qvec")), 6))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "vec_id", "cosine", "rnk")
        )

    def test_full_recall_with_wide_coarse(self, spark, corpus):
        queries = corpus.filter(F.col("vec_id") < 3)
        got = sorted(
            (r["query_id"], r["rnk"], r["vec_id"])
            for r in coarse_refine_topk(corpus, queries, k=5, coarse_k=50).collect()
        )
        want = sorted(
            (r["query_id"], r["rnk"], r["vec_id"])
            for r in self._exact_topk(corpus, queries, 5).collect()
        )
        # coarse_k=50 over a ~100-vector corpus: quantization error cannot
        # evict a true top-5 neighbour from the coarse pool
        assert got == want

    def test_narrow_coarse_still_high_recall(self, spark, corpus):
        queries = corpus.filter(F.col("vec_id") < 3)
        got = {
            (r["query_id"], r["vec_id"])
            for r in coarse_refine_topk(corpus, queries, k=5, coarse_k=10).collect()
        }
        want = {
            (r["query_id"], r["vec_id"])
            for r in self._exact_topk(corpus, queries, 5).collect()
        }
        # int8 error is tiny relative to cosine gaps: recall ≥ 0.8 even at
        # coarse_k = 2k
        assert len(got & want) / len(want) >= 0.8


class TestIvfProbeCells:
    def test_nprobe1_reproduces_argmax_assignment(self, spark):
        """ivf_probe_cells at nprobe=1 must pick exactly ivf_assign's cell
        for every vector (first maximum = lowest cell id on ties), since
        the registered IVF queries run through the argmax path and the
        probe path must agree with it at the default."""
        from sentinela_py_spark.plans.simops import ivf_assign, ivf_probe_cells

        e = load_table(spark, SF_DIR, "embeddings")
        via_argmax = {
            r["vec_id"]: r["cell_id"] for r in ivf_assign(e, 8).collect()
        }
        via_probe = {
            r["vec_id"]: r["cell_id"] for r in ivf_probe_cells(e, 8, nprobe=1).collect()
        }
        assert via_probe == via_argmax

    def test_nprobe_widens_candidates_and_recall(self, spark):
        """nprobe=2 probes each query's two nearest cells: the probed-cell
        sets nest (nprobe=1 ⊂ nprobe=2), ivf_pq_topk with coarse_k scaled
        alongside (20·nprobe — the FAISS nprobe/k_factor coupling the
        docstring documents; a FIXED coarse_k measurably loses recall
        because the doubled pool squeezes true neighbours out of the
        PQ-ranked cut) is at least as close to brute force as nprobe=1,
        and no (query, neighbor) pair duplicates (a corpus vector lives
        in exactly one cell)."""
        from sentinela_py_spark.plans.simops import cosine, ivf_probe_cells

        e = load_table(spark, SF_DIR, "embeddings")
        q = e.filter(F.col("vec_id") < 5)
        p1 = {(r["vec_id"], r["cell_id"]) for r in ivf_probe_cells(q, 8, 1, centroid_source=e).collect()}
        p2 = {(r["vec_id"], r["cell_id"]) for r in ivf_probe_cells(q, 8, 2, centroid_source=e).collect()}
        assert p1 < p2 and len(p2) == 2 * len(p1)

        def hits(nprobe):
            out = ivf_pq_topk(
                e, q, k=5, coarse_k=20 * nprobe, n_cells=8, nprobe=nprobe
            ).collect()
            pairs = [(r["query_id"], r["vec_id"]) for r in out]
            assert len(pairs) == len(set(pairs))  # no dup candidates
            return set(pairs)

        # brute-force top-5 per query (rounded cosine, id tie-break)
        a = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        b = e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
        scored = (
            a.crossJoin(b)
            .filter(F.col("cand_id") != F.col("query_id"))
            .select("query_id", "cand_id", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("s"))
        )
        from pyspark.sql import Window as W

        w = W.partitionBy("query_id").orderBy(F.col("s").desc(), F.col("cand_id"))
        exact = {
            (r["query_id"], r["cand_id"])
            for r in scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .collect()
        }
        r1 = len(hits(1) & exact)
        r2 = len(hits(2) & exact)
        assert r2 >= r1


class TestStoredIndex:
    def test_written_index_round_trips_and_prunes_partitions(self, spark, tmp_path):
        """The persisted IVF-PQ index (parquet partitioned by cell_id)
        must (a) reproduce the in-memory search exactly, (b) turn a
        literal cell filter into STATIC partition pruning, and (c) let
        the broadcast cell join plan DYNAMIC partition pruning — the
        I/O-level payoff the IVF layout exists for."""
        from sentinela_py_spark.functions.kmeans import (
            kmeans_centroids_local,
            pq_stitch_codewords,
            pq_train_codebooks_local,
        )
        from sentinela_py_spark.functions.vectors import (
            ivf_pq_topk,
            pq_reconstruct_vecs,
            read_ann_index,
            write_ann_index,
        )
        from sentinela_py_spark.plans.simops import assign_cells_literal

        e = load_table(spark, SF_DIR, "embeddings")
        cents = kmeans_centroids_local(e, 8, dim=64)
        books = pq_train_codebooks_local(e, m=8, k=16, dim=64)
        seed_vecs = F.lit([[float(x) for x in v] for v in pq_stitch_codewords(books)])
        encoded = assign_cells_literal(e, cents).select(
            "vec_id", "embedding", "cell_id",
            pq_reconstruct_vecs(F.col("embedding"), seed_vecs, 8, 64).alias("deq"),
        )
        path = str(tmp_path / "ann_index")
        write_ann_index(encoded, path)

        stored = read_ann_index(spark, path)
        queries = e.filter(F.col("vec_id") < 3)
        from_store = ivf_pq_topk(
            e, queries, k=5, coarse_k=20, centroids=cents, encoded_corpus=stored
        ).collect()
        in_memory = ivf_pq_topk(
            e, queries, k=5, coarse_k=20, centroids=cents, encoded_corpus=encoded
        ).collect()
        key = lambda rows: sorted(  # noqa: E731
            (r["query_id"], r["vec_id"], r["cell_id"], r["cosine"], r["rnk"]) for r in rows
        )
        assert key(from_store) == key(in_memory)

        # (b) static pruning: a literal cell predicate reaches PartitionFilters
        one_cell = stored.filter(F.col("cell_id") == 3)
        plan = one_cell._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "cell_id" in plan.split("PartitionFilters:")[1][:200]

        # (c) dynamic pruning: the broadcast cell join carries a DPP subquery
        search_plan = (
            ivf_pq_topk(e, queries, k=5, coarse_k=20, centroids=cents, encoded_corpus=stored)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "dynamicpruning" in search_plan.lower()


class TestAdcSearch:
    @pytest.fixture(scope="class")
    def trained_store(self, spark, tmp_path_factory):
        """A residual-PQ index written through the lake layout: trained
        centroids + residual codewords, deq AND codes columns — the
        store both search styles (reconstruct-coarse, ADC) read.

        Class-scoped (r15, r14 verdict #2 — suite wall-time): the store
        is read-only for every test in the class, and the per-test
        rebuild (k-means + residual-PQ training + encode + parquet
        write) was ~9 × ~35 s of the suite's budget."""
        from sentinela_py_spark.functions.kmeans import (
            ivf_residuals,
            kmeans_centroids_local,
            pq_stitch_codewords,
            pq_train_codebooks_local,
        )
        from sentinela_py_spark.functions.vectors import (
            pq_residual_codes,
            pq_residual_reconstruct_vecs,
            write_ann_index,
        )
        from sentinela_py_spark.plans.simops import assign_cells_literal

        e = load_table(spark, SF_DIR, "embeddings")
        cents = kmeans_centroids_local(e, 8, dim=64)
        resid = ivf_residuals(e, cents)
        books = pq_train_codebooks_local(resid, m=8, k=16, dim=64)
        seed_vecs = F.lit([[float(x) for x in v] for v in pq_stitch_codewords(books)])
        cent_lit = F.lit([[float(x) for x in v] for _, v in sorted(cents)])
        row_cent = F.element_at(cent_lit, (F.col("cell_id") + 1).cast("int"))
        encoded = assign_cells_literal(e, cents).select(
            "vec_id",
            "embedding",
            "cell_id",
            pq_residual_reconstruct_vecs(
                F.col("embedding"), row_cent, seed_vecs, 8, 64
            ).alias("deq"),
            pq_residual_codes(F.col("embedding"), row_cent, seed_vecs, 8, 64).alias(
                "codes"
            ),
        )
        path = str(tmp_path_factory.mktemp("adc") / "adc_index")
        write_ann_index(encoded, path)
        return e, cents, books, path

    def test_codes_reconstruct_to_stored_deq_exactly(self, spark, trained_store):
        """codes are the argmin ids of the SAME encode that produced deq:
        `pq_codes_reconstruct` (read-side lookup stitch over the stored
        codes) must equal the write-time fused reconstruction bit for bit
        — the M-int column carries the full reconstruction information,
        so the deployment store never persists deq."""
        from sentinela_py_spark.functions.kmeans import pq_stitch_codewords
        from sentinela_py_spark.functions.vectors import (
            pq_codes_reconstruct,
            read_ann_index,
        )

        e, cents, books, path = trained_store
        stitched = F.lit(
            [[float(x) for x in v] for v in pq_stitch_codewords(books)]
        )
        cent_lit = F.lit([[float(x) for x in v] for _, v in sorted(cents)])
        rebuilt = pq_codes_reconstruct(
            F.col("codes"),
            F.element_at(cent_lit, (F.col("cell_id") + 1).cast("int")),
            stitched,
            8,
            64,
        )
        bad = (
            read_ann_index(spark, path)
            .select("vec_id", F.col("deq"), rebuilt.alias("rebuilt"))
            .filter(F.col("deq") != F.col("rebuilt"))
            .count()
        )
        assert bad == 0

    def test_adc_ranking_agrees_with_reconstructed_search(self, spark, trained_store):
        """ADC scores differ from reconstruct-then-cosine only in float
        addition order; on the fixture corpus the 6dp-rounded rankings
        agree exactly (the arm's own oracle carries correctness — this
        pins that the two search styles describe the same index)."""
        from sentinela_py_spark.functions.vectors import (
            ivf_pq_adc_topk,
            ivf_pq_topk,
            read_ann_index,
        )

        e, cents, books, path = trained_store
        queries = e.filter(F.col("vec_id") < 3)
        via_deq = ivf_pq_topk(
            e,
            queries,
            k=5,
            coarse_k=20,
            centroids=cents,
            encoded_corpus=read_ann_index(spark, path),
        ).collect()
        via_adc = ivf_pq_adc_topk(
            read_ann_index(spark, path),
            read_ann_index(spark, path),
            queries,
            cents,
            books,
            k=5,
            coarse_k=20,
        ).collect()
        key = lambda rows: sorted(  # noqa: E731
            (r["query_id"], r["vec_id"], r["cell_id"], r["cosine"], r["rnk"])
            for r in rows
        )
        assert key(via_adc) == key(via_deq)

    def test_adc_coarse_scan_never_reads_float_vectors(self, spark, trained_store):
        """The I/O contract: the ADC coarse pass scans (vec_id, codes) +
        the cell partition column ONLY — no embedding, no deq. The refine
        scan reads (vec_id, embedding) and never codes or deq. Two
        independent reads of one store, each column-pruned to its role."""
        from sentinela_py_spark.functions.vectors import (
            ivf_pq_adc_topk,
            read_ann_index,
        )

        e, cents, books, path = trained_store
        plan = (
            ivf_pq_adc_topk(
                read_ann_index(spark, path),
                read_ann_index(spark, path),
                e.filter(F.col("vec_id") < 3),
                cents,
                books,
                k=5,
                coarse_k=20,
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # identify the two store scans by their projected columns (the
        # Location path is truncated in toString): the coarse scan
        # projects codes, the refine scan projects embedding + the
        # cell_id partition column (the raw-table query scan has no
        # cell_id)
        scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
        codes_scans = [ln for ln in scans if "codes#" in ln]
        vec_scans = [ln for ln in scans if "embedding#" in ln and "cell_id#" in ln]
        assert codes_scans and vec_scans
        for ln in codes_scans:
            assert "embedding#" not in ln and "deq#" not in ln
        for ln in vec_scans:
            assert "codes#" not in ln and "deq#" not in ln

    def test_adc_composes_with_nprobe(self, spark, trained_store):
        """The ADC coarse algebra is per-(query, cell) by construction, so
        the nprobe recall dial composes: at nprobe=2 (coarse_k scaled by
        the k_factor coupling) the ADC ranking equals the reconstruct-
        coarse search's at the same settings."""
        from sentinela_py_spark.functions.vectors import (
            ivf_pq_adc_topk,
            ivf_pq_topk,
            read_ann_index,
        )

        e, cents, books, path = trained_store
        queries = e.filter(F.col("vec_id") < 3)
        via_deq = ivf_pq_topk(
            e,
            queries,
            k=5,
            coarse_k=40,
            nprobe=2,
            centroids=cents,
            encoded_corpus=read_ann_index(spark, path),
        ).collect()
        via_adc = ivf_pq_adc_topk(
            read_ann_index(spark, path),
            read_ann_index(spark, path),
            queries,
            cents,
            books,
            k=5,
            coarse_k=40,
            nprobe=2,
        ).collect()
        key = lambda rows: sorted(  # noqa: E731
            (r["query_id"], r["vec_id"], r["cell_id"], r["cosine"], r["rnk"])
            for r in rows
        )
        assert key(via_adc) == key(via_deq)

    def test_adc_t2_guard_crosses_at_deployment_cell_counts(self):
        """The auto guard inlines t2 while it's codebook-scale and ships
        it as a broadcast frame past ADC_T2_LITERAL_MAX entries — in
        particular at a 10^9-vector deployment's 10^5 cells, whose
        ~10^8-double t2 is past literal inlining."""
        from sentinela_py_spark.functions.vectors import (
            ADC_T2_LITERAL_MAX,
            adc_t2_mode,
        )

        assert adc_t2_mode(8, 8, 16) == "literal"
        assert adc_t2_mode(100_000, 8, 16) == "broadcast"
        boundary = ADC_T2_LITERAL_MAX // (8 * 16)
        assert adc_t2_mode(boundary, 8, 16) == "literal"
        assert adc_t2_mode(boundary + 1, 8, 16) == "broadcast"

    def test_adc_broadcast_t2_bit_identical_to_literal(
        self, spark, trained_store, monkeypatch
    ):
        """The broadcast form derives t2 in Spark with the same ordered
        fold adc_tables runs in Python, so the two forms must return
        BIT-identical rows — same survivors, same cosines, same ranks.
        The fixture's t2 is literal-sized; forcing ADC_T2_LITERAL_MAX to
        0 takes the broadcast form."""
        from sentinela_py_spark.functions import vectors as V

        e, cents, books, path = trained_store
        queries = e.filter(F.col("vec_id") < 3)

        def run():
            return sorted(
                (r["query_id"], r["vec_id"], r["cell_id"], r["cosine"], r["rnk"])
                for r in V.ivf_pq_adc_topk(
                    V.read_ann_index(spark, path),
                    V.read_ann_index(spark, path),
                    queries,
                    cents,
                    books,
                    k=5,
                    coarse_k=20,
                ).collect()
            )

        lit_rows = run()
        monkeypatch.setattr(V, "ADC_T2_LITERAL_MAX", 0)
        assert lit_rows and run() == lit_rows

    def test_adc_broadcast_cent_bit_identical_to_literal(
        self, spark, trained_store, monkeypatch
    ):
        """⟨q, centroid⟩ and ‖centroid‖² derived from the broadcast
        centroid frame use the same ordered folds as the literal path on
        the same doubles — BIT-identical rows, at nprobe 1 and 2. Forcing
        ASSIGN_LITERAL_MAX to 0 takes the broadcast form."""
        from sentinela_py_spark.functions.vectors import (
            ivf_pq_adc_topk,
            read_ann_index,
        )
        from sentinela_py_spark.plans import simops

        e, cents, books, path = trained_store
        queries = e.filter(F.col("vec_id") < 3)

        def run(nprobe):
            return sorted(
                (r["query_id"], r["vec_id"], r["cell_id"], r["cosine"], r["rnk"])
                for r in ivf_pq_adc_topk(
                    read_ann_index(spark, path),
                    read_ann_index(spark, path),
                    queries,
                    cents,
                    books,
                    k=5,
                    coarse_k=20 * nprobe,
                    nprobe=nprobe,
                ).collect()
            )

        lit_rows = {nprobe: run(nprobe) for nprobe in (1, 2)}
        monkeypatch.setattr(simops, "ASSIGN_LITERAL_MAX", 0)
        for nprobe in (1, 2):
            assert lit_rows[nprobe] and run(nprobe) == lit_rows[nprobe]

    def test_adc_auto_engages_broadcast_cent_past_the_guard(
        self, spark, trained_store, monkeypatch
    ):
        """The centroid family's guard actually switches at the
        assignment-class boundary: with ASSIGN_LITERAL_MAX forced under
        the fixture's cells·dim, the default build must route the
        centroid family (query assignment + qdotc/cnb) through broadcast
        frames and still return the literal path's exact rows — no
        cells-sized literal remains in the plan."""
        from sentinela_py_spark.functions import vectors as V
        from sentinela_py_spark.plans import simops

        e, cents, books, path = trained_store
        queries = e.filter(F.col("vec_id") < 3)

        def build():
            return V.ivf_pq_adc_topk(
                V.read_ann_index(spark, path),
                V.read_ann_index(spark, path),
                queries,
                cents,
                books,
                k=5,
                coarse_k=20,
            )

        want = sorted(
            (r["query_id"], r["vec_id"], r["cell_id"], r["cosine"], r["rnk"])
            for r in build().collect()
        )
        monkeypatch.setattr(simops, "ASSIGN_LITERAL_MAX", 0)
        auto = build()
        plan = auto._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan
        got = sorted(
            (r["query_id"], r["vec_id"], r["cell_id"], r["cosine"], r["rnk"])
            for r in auto.collect()
        )
        assert got == want

    def test_adc_auto_engages_broadcast_past_the_guard(
        self, spark, trained_store, monkeypatch
    ):
        """Auto mode actually switches: with the guard forced below the
        fixture's cell count, the default path must (a) broadcast-join
        the derived t2 frame (the session-created centroid frame appears
        as a local scan in the physical plan — no literal-mode plan has
        one) and (b) still return the literal path's exact rows."""
        from sentinela_py_spark.functions import vectors as V

        e, cents, books, path = trained_store
        queries = e.filter(F.col("vec_id") < 3)

        def build():
            return V.ivf_pq_adc_topk(
                V.read_ann_index(spark, path),
                V.read_ann_index(spark, path),
                queries,
                cents,
                books,
                k=5,
                coarse_k=20,
            )

        want = sorted(
            (r["query_id"], r["vec_id"], r["cell_id"], r["cosine"], r["rnk"])
            for r in build().collect()
        )
        def has_local_scan(plan):
            return "LocalTableScan" in plan or "ExistingRDD" in plan

        plan_lit = build()._jdf.queryExecution().executedPlan().toString()
        assert not has_local_scan(plan_lit)  # auto == literal today

        monkeypatch.setattr(V, "ADC_T2_LITERAL_MAX", 0)
        auto = build()
        plan = auto._jdf.queryExecution().executedPlan().toString()
        assert has_local_scan(plan)
        got = sorted(
            (r["query_id"], r["vec_id"], r["cell_id"], r["cosine"], r["rnk"])
            for r in auto.collect()
        )
        assert got == want

    def test_hard_negative_mining_rides_refine_stream(self, spark, trained_store):
        """r11 (verdict #1): contrastive hard-negative mining composed
        with the ANN index — `exclude_cos_at_or_above` filters the ADC
        refine stream, never an exact O(n²) scan. Pins, on the fixture
        corpus:

        - the false-negative guard holds structurally: no mined negative
          scores at/above the near-dup threshold;
        - at coarse_k ≥ cell occupancy the refine stream IS the query's
          whole cell, so ANN mining equals exact in-cell mining bit for
          bit (the filter-then-rank algebra is identical);
        - at the deployment coarse_k=20 the recall vs exact IN-CELL
          mining is the ADC coarse-ranking error alone — measured 7/9 on
          this corpus (deterministic: trained codebooks, fixed seeds).
          Cross-cell recall is bounded by nprobe exactly like the
          search's own recall (test_nprobe_widens_candidates_and_recall).
        """
        from pyspark.sql import Window as W

        from sentinela_py_spark.functions.vectors import (
            ivf_pq_adc_topk,
            read_ann_index,
        )
        from sentinela_py_spark.plans.simops import assign_cells_literal, cosine

        e, cents, books, path = trained_store
        queries = e.filter(F.col("vec_id") < 3)
        THR, K = 0.4, 3

        def mine(coarse_k):
            return ivf_pq_adc_topk(
                read_ann_index(spark, path),
                read_ann_index(spark, path),
                queries,
                cents,
                books,
                k=K,
                coarse_k=coarse_k,
                exclude_cos_at_or_above=THR,
            ).collect()

        # exact in-cell mining: every candidate in the query's trained
        # cell, guard-filtered, top-K — what a perfect coarse pass yields
        assigned = assign_cells_literal(e, cents)
        qc = assigned.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "cell_id"
        )
        cc = assigned.select(
            F.col("vec_id").alias("nid"), F.col("embedding").alias("cv"), "cell_id"
        )
        w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nid"))
        exact = (
            cc.join(F.broadcast(qc), "cell_id")
            .filter(F.col("nid") != F.col("query_id"))
            .select(
                "query_id", "nid",
                F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"),
            )
            .filter(F.col("cos") < THR)
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= K)
            .collect()
        )
        exact_rows = {(r["query_id"], r["nid"], r["cos"], r["r"]) for r in exact}

        mined = mine(coarse_k=20)
        assert len(mined) == 3 * K
        assert all(r["cosine"] < THR for r in mined)  # the guard, structurally
        mined_rows = {(r["query_id"], r["vec_id"], r["cosine"], r["rnk"]) for r in mined}
        recall = len(mined_rows & exact_rows) / len(exact_rows)
        assert recall >= 7 / 9 - 1e-9, f"in-cell mining recall regressed: {recall}"

        # wide coarse pass == exact in-cell mining, bit for bit
        wide = {
            (r["query_id"], r["vec_id"], r["cosine"], r["rnk"])
            for r in mine(coarse_k=10_000)
        }
        assert wide == exact_rows

    def test_hard_negative_mining_composes_with_nprobe(self, spark, trained_store):
        """The mining filter is orthogonal to the recall dial: at
        nprobe=2 (coarse_k scaled with it, the documented k_factor
        coupling) the candidate pool spans the query's TWO nearest
        cells, so mining recall vs the GLOBAL exact hard negatives can
        only hold or improve, and every nprobe=1 guard property still
        holds. Deterministic on the fixture corpus."""
        from pyspark.sql import Window as W

        from sentinela_py_spark.functions.vectors import (
            ivf_pq_adc_topk,
            read_ann_index,
        )
        from sentinela_py_spark.plans.simops import cosine

        e, cents, books, path = trained_store
        queries = e.filter(F.col("vec_id") < 3)
        THR, K = 0.4, 3

        def mine(nprobe, coarse_k):
            return {
                (r["query_id"], r["vec_id"])
                for r in ivf_pq_adc_topk(
                    read_ann_index(spark, path),
                    read_ann_index(spark, path),
                    queries,
                    cents,
                    books,
                    k=K,
                    coarse_k=coarse_k,
                    nprobe=nprobe,
                    exclude_cos_at_or_above=THR,
                ).collect()
            }

        # GLOBAL exact mining (every corpus candidate, not cell-limited)
        q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        c = e.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("cv"))
        w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nid"))
        exact = {
            (r["query_id"], r["nid"])
            for r in (
                c.crossJoin(F.broadcast(q))
                .filter(F.col("nid") != F.col("query_id"))
                .select(
                    "query_id", "nid",
                    F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"),
                )
                .filter(F.col("cos") < THR)
                .withColumn("r", F.row_number().over(w))
                .filter(F.col("r") <= K)
                .collect()
            )
        }
        np1 = mine(nprobe=1, coarse_k=20)
        np2 = mine(nprobe=2, coarse_k=40)
        assert len(np2) == len(np1) == 3 * K
        r1 = len(np1 & exact) / len(exact)
        r2 = len(np2 & exact) / len(exact)
        assert r2 >= r1, f"nprobe=2 mining recall regressed: {r2} < {r1}"
