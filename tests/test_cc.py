"""Connected-components correctness: property-test vs a networkx oracle."""

import random

import networkx as nx
import pytest

from session_graph_spark.operators import cc
from session_graph_spark.operators.cc import assign_clusters, connected_components


def _cc(edges, monkeypatch, driver_threshold):
    """connected_components with DRIVER_CC_THRESHOLD patched: 0 forces the
    distributed large/small-star loop, a large value the driver
    union-find fast path."""
    monkeypatch.setattr(cc, "DRIVER_CC_THRESHOLD", driver_threshold)
    return connected_components(edges)


def _check(spark, monkeypatch, edge_list, driver_threshold=0):
    edges = spark.createDataFrame(edge_list or [("_", "_")], ["u", "v"])
    got = {
        r["label"]: r["cluster_id"]
        for r in _cc(edges, monkeypatch, driver_threshold).collect()
    }
    g = nx.Graph()
    g.add_edges_from(edge_list)
    for comp in nx.connected_components(g):
        root = min(comp)
        for node in comp:
            if node != root or len(comp) > 1:
                assert got.get(node) == root, (node, got.get(node), root)


def test_cc_simple_chain(spark, monkeypatch):
    _check(spark, monkeypatch, [("b", "a"), ("c", "b"), ("d", "c")])


def test_cc_two_components_and_star(spark, monkeypatch):
    _check(spark, monkeypatch, [("x2", "x1"), ("x3", "x1"), ("y2", "y1"), ("y3", "y2")])


def test_cc_random_graphs_vs_networkx(spark, monkeypatch):
    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(60)]
    for trial in range(3):
        edge_list = [
            tuple(rng.sample(nodes, 2)) for _ in range(rng.randint(20, 80))
        ]
        _check(spark, monkeypatch, edge_list)  # distributed loop


def test_cc_driver_fast_path_matches_distributed(spark, monkeypatch):
    rng = random.Random(11)
    nodes = [f"m{i:03d}" for i in range(40)]
    edge_list = [tuple(rng.sample(nodes, 2)) for _ in range(50)]
    _check(spark, monkeypatch, edge_list, driver_threshold=10_000)  # union-find path
    edges = spark.createDataFrame(edge_list, ["u", "v"])
    a = sorted(map(tuple, _cc(edges, monkeypatch, 0).collect()))
    b = sorted(map(tuple, _cc(edges, monkeypatch, 10_000).collect()))
    assert a == b


def test_assign_clusters_singletons(spark):
    labels = spark.createDataFrame(
        [("kubernetes",), ("kubernets",), ("redis",)], ["canon_label"]
    )
    edges = spark.createDataFrame([("kubernets", "kubernetes")], ["label_a", "label_b"])
    got = {r["label"]: r["cluster_id"] for r in assign_clusters(labels, edges).collect()}
    assert got["kubernetes"] == got["kubernets"] == "kubernetes"
    assert got["redis"] == "redis"


def test_cc_deterministic(spark):
    edge_list = [("b", "a"), ("d", "c"), ("c", "a"), ("f", "e")]
    edges = spark.createDataFrame(edge_list, ["u", "v"])
    r1 = sorted(map(tuple, connected_components(edges).collect()))
    r2 = sorted(map(tuple, connected_components(edges).collect()))
    assert r1 == r2


@pytest.mark.parametrize("n", [1, 2])
def test_cc_tiny(spark, monkeypatch, n):
    edge_list = [(f"z{i+1}", "z0") for i in range(n)]
    _check(spark, monkeypatch, edge_list)
