"""The barrier scale-safety switch (r15, r14 verdict #5).

Every lineage-truncation barrier in the engine routes through
`sentinela_py_spark.barrier`. Locally the barrier is a localCheckpoint;
with ``SPARK_GRAFT_CHECKPOINT_DIR`` set it must become a RELIABLE
checkpoint into that directory (survives executor loss at cluster
scale), without changing any values.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sentinela_py_spark.barrier import barrier, barrier_eager


def _frame(spark):
    return spark.range(100).withColumn("v", F.col("id") * 2)


def _ckpt_files(root):
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if not f.startswith(".")
    ]


def test_default_is_local_checkpoint(spark, monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    df = barrier_eager(_frame(spark))
    # lineage is truncated (the barrier's job) without writing a single
    # checkpoint file anywhere — the whole point of the local default
    assert "LogicalRDD" in df._jdf.queryExecution().optimizedPlan().toString()
    assert not _ckpt_files(tmp_path)
    assert df.agg(F.sum("v")).first()[0] == 9900


def test_flag_routes_to_reliable_checkpoint(spark, monkeypatch, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckpt)
    df = barrier_eager(_frame(spark))
    # reliable: the context's checkpoint dir is registered and checkpoint
    # FILES exist under it (df.rdd wraps the internal checkpointed RDD a
    # level up, so the file evidence is the directory contents)
    ckpt_dir = spark.sparkContext.getCheckpointDir()
    assert ckpt_dir is not None and os.path.realpath(ckpt) in os.path.realpath(
        ckpt_dir
    )
    assert _ckpt_files(ckpt), "no checkpoint files written under the flag dir"
    assert df.agg(F.sum("v")).first()[0] == 9900


def test_lazy_reliable_barrier_materializes_at_first_action(
    spark, monkeypatch, tmp_path
):
    ckpt = str(tmp_path / "ckpt-lazy")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckpt)
    df = barrier(_frame(spark))
    assert not _ckpt_files(ckpt)  # lazy: nothing written before an action
    assert df.count() == 100  # first action materializes the checkpoint
    assert _ckpt_files(ckpt)
    assert df.agg(F.sum("v")).first()[0] == 9900


def test_values_identical_across_modes(spark, monkeypatch, tmp_path):
    base = _frame(spark).withColumn(
        "k", F.md5(F.col("id").cast("string"))
    )
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    local_rows = sorted(barrier_eager(base).collect())
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "c2"))
    reliable_rows = sorted(barrier_eager(base).collect())
    assert local_rows == reliable_rows
