"""Deterministic random walks (operators/linkgraph.random_walks)."""

import pytest

from ssb_sgis_spark.operators.linkgraph import (
    CHECKPOINT_EVERY,
    _W1,
    _W2,
    _W3,
    random_walks,
)


def _reference(node_ids, edge_list, n_steps):
    out_edges = {}
    for a, b in edge_list:
        out_edges.setdefault(a, []).append(b)
    for a in out_edges:
        out_edges[a].sort()
    rows = set()
    for w in node_ids:
        node = w
        rows.add((w, 0, w))
        for t in range(1, n_steps + 1):
            nbrs = out_edges.get(node)
            if not nbrs:
                break
            node = nbrs[(node * _W1 + t * _W2 + w * _W3) % len(nbrs)]
            rows.add((w, t, node))
    return rows


def _run(spark, node_ids, edge_list, n_steps):
    nodes = spark.createDataFrame([(v,) for v in node_ids], ["doc_id"])
    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    got = random_walks(nodes, edges, n_steps=n_steps).collect()
    return {(r.walk_id, r.step, r.node) for r in got}


# CHECKPOINT_EVERY + 1 steps cut the lazy plan once mid-walk
@pytest.mark.parametrize("n_steps", [4, CHECKPOINT_EVERY + 1])
def test_matches_python_reference(spark, n_steps):
    nodes = list(range(15))
    edges = [(i, (i * 3 + 1) % 15) for i in nodes] + [
        (i, (i * 7 + 2) % 15) for i in range(0, 15, 2)
    ]
    assert _run(spark, nodes, edges, n_steps) == _reference(nodes, edges, n_steps)


def test_walks_stop_at_dead_ends(spark):
    # 0 -> 1 -> 2 and 2 has no out-edges: the walk from 0 has steps
    # 0, 1, 2 and then stops; no step-3/4 rows exist anywhere
    got = _run(spark, [0, 1, 2], [(0, 1), (1, 2)], 4)
    assert got == {(0, 0, 0), (0, 1, 1), (0, 2, 2), (1, 0, 1), (1, 1, 2), (2, 0, 2)}


def test_same_node_different_walks_can_diverge(spark):
    # two walks meeting node 0 at the same step index still pick
    # edges independently because walk_id feeds the hash
    nodes = [0, 5]
    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (5, 0)]
    got = _run(spark, nodes, edges, 1)
    ref = _reference(nodes, edges, 1)
    assert got == ref


def test_walk_is_deterministic_across_runs(spark):
    nodes = list(range(8))
    edges = [(i, (i + 1) % 8) for i in nodes] + [(i, (i + 3) % 8) for i in nodes]
    assert _run(spark, nodes, edges, 3) == _run(spark, nodes, edges, 3)
