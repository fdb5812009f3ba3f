"""Lineage-truncation barriers with a cluster-scale escape hatch.

The engine materializes multi-consumer intermediates behind checkpoint
barriers (guide §5): Catalyst plans self-join/multi-consumer inputs per
consumer (no ReusedExchange across DataFrame aliases), so an
un-materialized hot frame is recomputed once per consumer. In local
mode `DataFrame.localCheckpoint` is the right barrier — no checkpoint
directory needed, blocks live in executor storage.

AT CLUSTER SCALE local checkpoints are NOT fault-tolerant: the
checkpointed blocks are pinned on executors and a lost executor kills
every query reading them instead of recomputing lineage (the lineage
has been truncated away). The r14 verdict flagged this as the one
scale-safety gap in the barrier pattern, so every barrier in the engine
routes through this module and ONE environment switch picks the
implementation:

- ``SPARK_GRAFT_CHECKPOINT_DIR`` unset (the local default): barriers
  are ``localCheckpoint`` — fastest, correct on ``local[N]`` where
  executor loss means the whole app died anyway.
- ``SPARK_GRAFT_CHECKPOINT_DIR=<fault-tolerant path>`` (HDFS/S3/NFS —
  set by the cluster submitter): barriers become RELIABLE
  ``DataFrame.checkpoint`` writes into that directory; a lost executor
  re-reads the checkpoint files instead of failing the query. The
  directory is registered once per SparkContext on first use. Set
  ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (or clean
  the directory between runs) so out-of-scope checkpoint files are
  reclaimed.

Call sites use the fluent ``.transform`` form so barrier routing never
restructures a plan-building chain::

    frame = heavy_expr(df).transform(barrier)          # lazy barrier
    frame = heavy_expr(df).transform(barrier_eager)    # eager barrier

Lazy barriers (``eager=False``) materialize at the frame's first
action — the right default for single-query plans where a dedicated
materialization job would be a pure add. Eager barriers materialize
immediately — required when concurrent driver threads take their first
actions on a shared frame (a lazy barrier materialized from two racing
actions runs twice), and for streaming-epoch frames whose consumers
span store writes.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame

_DIR_LOCK = threading.Lock()
# applicationId -> the checkpoint dir currently registered on its
# SparkContext; a CHANGED env value re-registers (setCheckpointDir is
# per-context and would otherwise silently keep the first dir).
_DIR_BY_APP: dict[str, str] = {}


def barrier(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialization barrier: truncate ``df``'s lineage so every
    consumer reads one materialization instead of recomputing the
    subtree. Routed by ``SPARK_GRAFT_CHECKPOINT_DIR`` (module doc)."""
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if not ckpt_dir:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    app_id = sc.applicationId
    if _DIR_BY_APP.get(app_id) != ckpt_dir:
        with _DIR_LOCK:
            if _DIR_BY_APP.get(app_id) != ckpt_dir:
                sc.setCheckpointDir(ckpt_dir)
                _DIR_BY_APP[app_id] = ckpt_dir
    return df.checkpoint(eager=eager)


def barrier_eager(df: DataFrame) -> DataFrame:
    """Eager barrier — materializes NOW (see module doc for when the
    eager form is required)."""
    return barrier(df, eager=True)
