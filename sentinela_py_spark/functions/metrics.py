"""Run/batch metrics (K9/A7/T5) via ``DataFrame.observe``.

The reference accumulates Python counters per batch/job and emits JSON
summaries — scanned/processed/updated/skipped/errors/elapsed
(city_extraction_job.py:30-66,199-230, geo_enrichment_job.py:33-66,
servico_coleta_noticias.py:243-388) — and streams progress over SSE
(news/api.py:198-260).

Spark rendering: ``observe`` attaches aggregate metrics to the plan
itself, collected task-side with zero extra passes — the distributed
replacement for driver-side counters (a second ``count()`` would rescan
100 TB). For streams, the same Observation surfaces through
``StreamingQueryProgress.observedMetrics``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class BatchMetrics:
    """One observed batch: attach before the action, read after."""

    observation: Observation
    started_at: float = field(default_factory=time.perf_counter)

    def summary(self) -> dict[str, Any]:
        out = dict(self.observation.get)
        out["elapsed_ms_total"] = round((time.perf_counter() - self.started_at) * 1000, 1)
        return out


def observe_ingest(df: DataFrame) -> tuple[DataFrame, BatchMetrics]:
    """Counters over an ingest/enrichment batch: rows seen, rows with an
    empty text/title (the reference's skipped-empty counter, F5), distinct
    portals touched. Extend with operator-specific aggregates as needed."""
    obs = Observation("ingest")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("seen"),
        F.sum(
            F.when(F.length(F.trim(F.coalesce(F.col("title"), F.lit("")))) == 0, 1).otherwise(0)
        ).alias("empty_title"),
        F.approx_count_distinct("portal_name").alias("portals"),
    )
    return observed, BatchMetrics(observation=obs)


def observe_counts(df: DataFrame) -> tuple[DataFrame, BatchMetrics]:
    """Generic row counter for any stage sink (A7/K9)."""
    obs = Observation("batch")
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), BatchMetrics(observation=obs)
