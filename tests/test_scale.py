"""Scale-out strategies: bucketed joins plan without shuffles; salted
joins spread hot keys without changing results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentinela_py_spark.operators.scale import salted_join, write_bucketed
from sentinela_py_spark.tables import load_table

SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def no_broadcast(spark):
    """Force shuffle-based joins so the bucketing effect is observable."""
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def test_bucketed_join_has_no_exchange(spark, no_broadcast):
    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")

    # un-bucketed baseline: the join must shuffle both sides
    plain = orders.join(customer, orders.o_custkey == customer.c_custkey)
    assert "Exchange hashpartitioning" in _executed_plan(plain)

    try:
        write_bucketed(orders, "b_orders", "o_custkey", 8, sort_cols=["o_custkey"])
        write_bucketed(customer, "b_customer", "c_custkey", 8, sort_cols=["c_custkey"])
        bo = spark.table("b_orders")
        bc = spark.table("b_customer")
        bucketed = bo.join(bc, bo.o_custkey == bc.c_custkey)
        plan = _executed_plan(bucketed)
        assert "Exchange hashpartitioning" not in plan, plan

        # identical results either way
        assert bucketed.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_salted_join_matches_unsalted(spark):
    # skewed big side: 90% of rows share one key
    big = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("row_id"),
    )
    small = spark.createDataFrame([(i, f"dim-{i}") for i in range(50)], ["k", "label"])

    plain = big.join(small, "k").select("row_id", "label")
    salted = salted_join(big, small, "k", n_salts=8, distinct_cols=["row_id"]).select(
        "row_id", "label"
    )
    assert sorted(salted.collect()) == sorted(plain.collect())


def test_salt_spreads_hot_key(spark):
    from sentinela_py_spark.operators.scale import salt_column

    df = spark.range(0, 1000).select(F.lit(7).alias("k"), F.col("id").alias("row_id"))
    n = (
        df.withColumn("salt", salt_column(8, "row_id"))
        .select("salt")
        .distinct()
        .count()
    )
    assert n == 8  # the hot key now hits 8 reducers, not 1


def test_connected_components_chain_and_singletons(spark):
    from sentinela_py_spark.operators.dedup import connected_components

    # chain 1-2-3-4-5 (diameter 4 → needs >1 propagation sweep),
    # triangle 10-11-12, singleton 99, and the 45-vertex path 100-…-144
    # (diameter 44: more sweeps than any fixed iteration cap of 20 allows)
    long_path = list(range(100, 145))
    vertices = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5, 10, 11, 12, 99, *long_path)], ["doc_id"]
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)]
        + list(zip(long_path, long_path[1:])),
        ["doc_a", "doc_b"],
    )
    got = {r.doc_id: r.group_id for r in connected_components(vertices, edges).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 99: 99,
        **{v: 100 for v in long_path},
    }


def test_partitioned_layout_prunes_period_scan(spark, tmp_path):
    """The articles layout (portal_name, published_date) must turn the
    F1 period/portal predicate into partition pruning: the scan's
    PartitionFilters carry both predicates and only matching directories
    are read."""
    import datetime as dt

    from sentinela_py_spark.operators.scale import write_partitioned

    rows = [
        ("p1", dt.date(2024, 5, d), f"https://p1/{d}", f"t{d}") for d in range(1, 6)
    ] + [
        ("p2", dt.date(2024, 5, d), f"https://p2/{d}", f"t{d}") for d in range(1, 6)
    ]
    df = spark.createDataFrame(rows, "portal_name string, published_date date, url string, title string")
    path = str(tmp_path / "articles-part")
    write_partitioned(df, path, target_file_rows=100)

    back = spark.read.parquet(path)
    q = back.filter(
        (F.col("portal_name") == "p1")
        & F.col("published_date").between("2024-05-02", "2024-05-03")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    part_filters = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "portal_name" in part_filters and "published_date" in part_filters
    assert len(q.collect()) == 2
    # pruning is real: the executed scan read 2 of the 10 partition dirs
    # (metrics live on THIS DataFrame's plan, so act on q itself above)
    scan = q._jdf.queryExecution().executedPlan()
    while scan.children().length() > 0:
        scan = scan.children().apply(0)
    n_files = scan.metrics().apply("numFiles").value()
    assert n_files == 2, n_files
