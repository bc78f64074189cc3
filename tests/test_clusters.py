"""Connected-components dedup clustering (operators/clusters.py)."""

import pytest
from pyspark.sql import functions as F

from tegola_spark.operators import clusters


def test_chain_converges_to_min_label(spark):
    # a 6-node chain forces multi-round propagation (diameter 5);
    # min-label must reach the far end
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "id_a long, id_b long")
    got = {r["id"]: r["cluster_rep"]
           for r in clusters.connected_components(edges).collect()}
    assert got == {i: 1 for i in range(1, 7)}


def test_disjoint_components_and_edge_order_invariance(spark):
    edges = spark.createDataFrame(
        [(20, 10), (30, 20), (101, 100), (7, 8)], "id_a long, id_b long")
    got = {r["id"]: r["cluster_rep"]
           for r in clusters.connected_components(edges).collect()}
    assert got == {10: 10, 20: 10, 30: 10, 100: 100, 101: 100, 7: 7, 8: 7}


def test_dedup_clusters_attaches_singletons_and_sizes(spark):
    nodes = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], "id_a long, id_b long")
    rows = {r["doc_id"]: (r["cluster_rep"], r["cluster_size"])
            for r in clusters.dedup_clusters(nodes, pairs).collect()}
    assert rows[0] == (0, 3) and rows[3] == (0, 3) and rows[5] == (0, 3)
    assert rows[1] == (1, 2) and rows[2] == (1, 2)
    for single in (4, 6, 7):
        assert rows[single] == (single, 1)
    # representative-retention dedup: exactly one keeper per cluster
    keep = [d for d, (rep, _) in rows.items() if d == rep]
    assert sorted(keep) == [0, 1, 4, 6, 7]


def test_cycle_terminates(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "id_a long, id_b long")
    got = {r["id"]: r["cluster_rep"]
           for r in clusters.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1}
