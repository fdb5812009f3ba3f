"""Loaders for the driver's synthetic parquet tables (see TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under a scale-factor
directory. All loads are plain ``spark.read.parquet`` so Catalyst keeps
predicate pushdown / column pruning; small dimensions (region, nation,
supplier, part at low SF) are broadcast by the optimizer via the
autoBroadcastJoinThreshold set in session.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # The driver's events.parquet has changed physical timestamp encoding
        # between rounds (TIMESTAMP(NANOS) → nanos-as-long workaround in r1,
        # plain timestamp[us] → TIMESTAMP_NTZ in r2). Normalize `ts` to ONE
        # canonical type — TIMESTAMP (LTZ; session tz is pinned to UTC, so
        # wall-clock values are preserved) — so every plan sees the same type
        # regardless of parquet encoding.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type and ts_type != "timestamp":
            from pyspark.sql import functions as F

            if ts_type == "bigint":  # TIMESTAMP(NANOS) read as raw nanos
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            else:  # timestamp_ntz (or date): wall-clock-preserving cast
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _canonical_timestamps(spark.read.parquet(path))


def _canonical_timestamps(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to canonical TIMESTAMP (wall-clock
    preserved under the UTC session tz). orders.o_orderdate and
    lineitem.l_shipdate share events.ts's no-tz parquet encoding; their
    plans happen to tolerate NTZ today, but one canonical type for every
    plan is the drift-proof contract (see the events note above)."""
    ntz_cols = [name for name, dtype in df.dtypes if dtype == "timestamp_ntz"]
    if ntz_cols:
        from pyspark.sql import functions as F

        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df


def ensure_min_partitions(df: DataFrame) -> DataFrame:
    """Round-robin repartition iff the input has fewer partitions than
    the cluster's defaultParallelism.

    The driver's testdata parquet is written as ONE row group per table,
    so file scans are unsplittable and every downstream stage until the
    first shuffle runs on ≤3 tasks regardless of cores. Compute-heavy
    operators (explodes, pandas UDFs, non-equi joins) call this to unlock
    full parallelism; the guard means a well-partitioned production table
    (100 TB lakes have thousands of row groups) passes through untouched,
    with no extra shuffle.

    The repartition is not free: each extra Python task costs about
    0.3 worker CPU-s on 4 cores whatever its rows (the worker's per-task
    import set-up). So inputs that are small per batch and already
    partitioned by their producer must not call it — per-batch page
    tables in ``sources.scrape_replay``/``htmlselect.extract_fields``,
    where one page parses in ~0.1 ms. Callers that need the spread
    (such as ``plans.textops.q_css_extract``) call it themselves."""
    minimum = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < minimum:
        return df.repartition(minimum)
    return df
