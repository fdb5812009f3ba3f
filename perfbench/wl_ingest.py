"""``ingest_epochs``: a generated corpus streamed as epochs through
``streaming.pipeline.composed_ingest_batch``.

One pass starts from empty stores, runs every epoch in order and folds
the stores with ``streaming.stores.compact_ingest_state`` after every
``COMPACT_EVERY``-th epoch. One operation is one epoch, with its
compaction when one follows it. This is the only workload that writes
state. A traced run then replays the last epoch once, outside the timed
pass, and checks that the replay left the stores unchanged; untraced
runs leave the replay out to fit the benchmark's time budget."""

from __future__ import annotations

import hashlib
import json
import os

import gen_corpus

N_EPOCHS = 2
PER_EPOCH = 150
COMPACT_EVERY = 2
THRESHOLD = 0.9  # embedding near-duplicate cosine
NOMINAL_PASS_S = 20.0
# Screens in chain order: (screen, store dir of its survivors).
SCREENS = (
    ("decontam", "decontam/accepted"),
    ("minhash", "minhash/accepted"),
    ("embedding", "embedding/accepted"),
)


class Ingest:
    name = "ingest_epochs"
    nominal_pass_s = NOMINAL_PASS_S

    def __init__(self, work):
        self.work = work
        self.inputs = work.path("inputs")

    def generate(self, seed: int) -> None:
        self.truth = gen_corpus.generate(seed, self.inputs, N_EPOCHS, PER_EPOCH)

    def setup(self, spark) -> None:
        """Offline builds before the first epoch: the eval Bloom filter and
        the loaded epoch inputs."""
        from pyspark.sql import functions as F

        from sentinela_py_spark.functions.bloom import bloom_build
        from sentinela_py_spark.functions.text_stats import word_shingles

        grams = spark.read.parquet(os.path.join(self.inputs, "eval.parquet")).select(
            F.explode(F.array_distinct(word_shingles(F.col("text"), k=5))).alias("key")
        )
        self.bloom = bloom_build(grams).localCheckpoint(eager=True)
        self.epochs = []
        for e in range(N_EPOCHS):
            df = spark.read.parquet(os.path.join(self.inputs, f"epoch_{e:02d}.parquet")).cache()
            df.count()
            self.epochs.append(df)

    def run_pass(self, spark, spans, p: int) -> dict:
        from sentinela_py_spark.streaming.pipeline import composed_ingest_batch
        from sentinela_py_spark.streaming.stores import compact_ingest_state

        state = self.work.fresh(f"state-{p}")
        ops: list[float] = []
        for e, batch in enumerate(self.epochs):
            with spans.span("streaming.pipeline") as s_ep:
                composed_ingest_batch(batch, self.bloom, e, state, threshold=THRESHOLD)
            lat = s_ep.dur
            if (e + 1) % COMPACT_EVERY == 0:
                with spans.span("streaming.stores") as s_c:
                    compact_ingest_state(spark, state)
                lat += s_c.dur
            ops.append(lat)
        self.state = state
        self.snapshot = None
        return {"ops": ops, "rows": N_EPOCHS * PER_EPOCH}

    def traced_extras(self, spark, spans) -> None:
        """The last epoch replayed once over the stores it already wrote."""
        from sentinela_py_spark.streaming.pipeline import composed_ingest_batch

        self.snapshot = _store_digest(self.state)
        last = N_EPOCHS - 1
        with spans.span("streaming.pipeline.replay"):
            composed_ingest_batch(self.epochs[last], self.bloom, last, self.state, threshold=THRESHOLD)

    def check(self, spark) -> list[str]:
        """Untimed: pass ratios strictly inside (0, 1), planted rejects
        rejected, and, after a replay, every store's rows unchanged."""
        failures = []
        ratios = self.pass_ratios()
        for screen, r in ratios.items():
            if not 0.0 < r < 1.0:
                failures.append(f"{screen} pass ratio {r:.3f} not inside (0, 1)")
        if self.snapshot is not None and _store_digest(self.state) != self.snapshot:
            failures.append("replayed epoch changed the stores")
        ids = {k: _ids(os.path.join(self.state, d)) for k, d in SCREENS}
        final = _ids(os.path.join(self.state, "accepted"))
        planted = {k: [i for ep in self.truth["epochs"] for i in ep[k]] for k in self.truth["epochs"][0]}
        # exact copies and eval splices must all die, near copies at ≥ 90 %
        survived_eval = set(planted["eval"]) & ids["decontam"]
        if survived_eval:
            failures.append(f"{len(survived_eval)} eval copies passed decontamination")
        exact = set(planted["text_exact"]) & final
        if exact:
            failures.append(f"{len(exact)} verbatim copies accepted")
        for kind in ("text_near", "vec_dup"):
            got = set(planted[kind]) & final
            if len(got) > 0.1 * len(planted[kind]):
                failures.append(f"{len(got)}/{len(planted[kind])} {kind} accepted")
        clean = set(planted["clean"])
        if len(clean & final) < 0.9 * len(clean):
            lost = {k: len(clean - v) for k, v in ids.items()}
            failures.append(f"only {len(clean & final)}/{len(clean)} clean docs accepted; lost by {lost}")
        return failures

    def pass_ratios(self) -> dict[str, float]:
        """Survivors ÷ input per screen, read from the store dirs."""
        import pyarrow.parquet as pq

        def rows(sub: str) -> int:
            root = os.path.join(self.state, sub)
            return sum(
                pq.read_metadata(os.path.join(d, f)).num_rows
                for d, _, fs in os.walk(root)
                for f in fs
                if f.endswith(".parquet")
            )

        n_in = N_EPOCHS * PER_EPOCH
        out, prev = {}, n_in
        for screen, sub in SCREENS:
            n = rows(sub)
            out[screen] = n / prev if prev else 0.0
            prev = n
        return out

    def layer_metrics(self, spans, counts) -> dict:
        from harness import metric, median

        ep = counts.get("streaming.pipeline", {})
        n_ep = N_EPOCHS
        comp = counts.get("streaming.stores", {})
        out = {
            "streaming.pipeline.epoch_busy_s": metric(median(spans.durations("streaming.pipeline")), "s"),
            "streaming.pipeline.jobs_per_epoch": metric(ep.get("jobs", 0) / n_ep, "count"),
            "streaming.pipeline.stages_per_epoch": metric(ep.get("stages", 0) / n_ep, "count"),
            "streaming.pipeline.shuffle_bytes_per_epoch": metric(ep.get("shuffle_bytes", 0) / n_ep, "bytes"),
            "streaming.pipeline.exec_cpu_s": metric(ep.get("exec_cpu_s", 0), "s"),
            "streaming.pipeline.cpu_s": metric(spans.cpu_total("streaming.pipeline"), "s"),
            "streaming.pipeline.replay_busy_s": metric(spans.total("streaming.pipeline.replay"), "s"),
            "streaming.stores.compact_busy_s": metric(spans.total("streaming.stores"), "s"),
            "streaming.stores.jobs": metric(comp.get("jobs", 0), "count"),
        }
        for screen, r in self.pass_ratios().items():
            out[f"streaming.pipeline.{screen}_pass_ratio"] = metric(r, "ratio")
        nbytes = nfiles = 0
        for d, _, fs in os.walk(self.state):
            for f in fs:
                if f.endswith(".parquet"):
                    nfiles += 1
                    nbytes += os.path.getsize(os.path.join(d, f))
        out["streaming.stores.bytes"] = metric(nbytes, "bytes")
        out["streaming.stores.files"] = metric(nfiles, "count")
        return out


def _ids(path: str) -> set[int]:
    import pyarrow.parquet as pq

    out: set[int] = set()
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                out.update(pq.read_table(os.path.join(d, f), columns=["doc_id"]).column(0).to_pylist())
    return out


def _store_digest(state: str) -> dict[str, str]:
    """Per epoch directory, a digest of its rows in canonical order —
    equal digests mean the replay rewrote the same content."""
    import pyarrow.parquet as pq

    out: dict[str, str] = {}
    for d, _, fs in os.walk(state):
        parts = [f for f in fs if f.endswith(".parquet")]
        if not parts:
            continue
        rows = []
        for f in parts:
            rows.extend(json.dumps(r, sort_keys=True, default=str) for r in pq.read_table(os.path.join(d, f)).to_pylist())
        out[os.path.relpath(d, state)] = hashlib.sha256("\n".join(sorted(rows)).encode()).hexdigest()
    return out
