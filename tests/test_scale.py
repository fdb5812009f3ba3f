"""Connected components over near-duplicate pairs: min-label propagation
reaches the fixpoint whatever the graph's diameter."""

from __future__ import annotations


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
