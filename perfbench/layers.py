"""Names and units of the per-layer metrics a traced run prints. A
layer is named after the module whose public function its span wraps.
A workload that does not run a layer reports it as 0, its expected
bypass (see perfbench/README.md for the layer → end-to-end map)."""

from __future__ import annotations

NEWS_STEPS = (
    "sources.scrape_replay",
    "operators.ingest",
    "operators.extraction_job",
    "operators.geojob",
    "operators.report",
)
PLANS_MODULES = ("relational", "textops", "simops", "dedupops", "curation", "mmops", "funnelops")

PER_LAYER: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("spark.tasks", "count"),
    ("spark.exec_run_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.spill_bytes", "bytes"),
    ("spark.sql_executions", "count"),
    ("trace.wall_s", "s"),
    ("process.peak_rss_mb", "MB"),
    # news_enrich
    *[
        (f"{step}.{m}", unit)
        for step in NEWS_STEPS
        for m, unit in (
            ("busy_s", "s"),
            ("cpu_s", "s"),
            ("exec_cpu_s", "s"),
            ("jobs", "count"),
            ("stages", "count"),
        )
    ],
    ("sources.scrape_replay.rows_out", "count"),
    ("operators.ingest.accept_ratio", "ratio"),
    ("operators.matching.busy_s", "s"),
    ("operators.matching.cpu_s", "s"),
    ("operators.matching.exec_cpu_s", "s"),
    ("operators.geojob.match_cpu_ratio", "ratio"),
    # ingest_epochs
    ("streaming.pipeline.epoch_busy_s", "s"),
    ("streaming.pipeline.jobs_per_epoch", "count"),
    ("streaming.pipeline.stages_per_epoch", "count"),
    ("streaming.pipeline.shuffle_bytes_per_epoch", "bytes"),
    ("streaming.pipeline.exec_cpu_s", "s"),
    ("streaming.pipeline.cpu_s", "s"),
    ("streaming.pipeline.replay_busy_s", "s"),
    ("streaming.pipeline.decontam_pass_ratio", "ratio"),
    ("streaming.pipeline.minhash_pass_ratio", "ratio"),
    ("streaming.pipeline.embedding_pass_ratio", "ratio"),
    ("streaming.stores.compact_busy_s", "s"),
    ("streaming.stores.jobs", "count"),
    ("streaming.stores.bytes", "bytes"),
    ("streaming.stores.files", "count"),
    # registry
    *[
        (f"plans.{m}.{k}", unit)
        for m in PLANS_MODULES
        for k, unit in (
            ("build_s", "s"),
            ("action_s", "s"),
            ("jobs", "count"),
            ("stages", "count"),
            ("exec_cpu_s", "s"),
            ("shuffle_bytes", "bytes"),
        )
    ],
]
