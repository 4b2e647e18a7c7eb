"""Deterministic label propagation (operators/linkgraph.label_propagation)."""

from collections import Counter

import pytest

from ssb_sgis_spark.operators.linkgraph import CHECKPOINT_EVERY, label_propagation


def _reference_lpa(node_ids, edge_list, n_iter):
    und = edge_list + [(b, a) for a, b in edge_list]
    labels = {v: v for v in node_ids}
    for _ in range(n_iter):
        new = {}
        neigh = {}
        for a, b in und:
            neigh.setdefault(a, []).append(labels[b])
        for v in node_ids:
            if v not in neigh:
                new[v] = labels[v]
                continue
            cnt = Counter(neigh[v])
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        labels = new
    return labels


def _run(spark, node_ids, edge_list, n_iter):
    nodes = spark.createDataFrame([(v,) for v in node_ids], ["doc_id"])
    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    got = label_propagation(nodes, edges, n_iter=n_iter).collect()
    return {r.doc_id: r.community for r in got}


def test_two_triangles_converge_to_min_ids(spark):
    edges = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10), (2, 10)]
    nodes = [0, 1, 2, 10, 11, 12]
    got = _run(spark, nodes, edges, n_iter=4)
    assert got == _reference_lpa(nodes, edges, 4)
    # the dense left triangle keeps label 0; 10's bridge does not flip it
    assert got[0] == got[1] == got[2] == 0


def test_isolated_node_keeps_own_label(spark):
    got = _run(spark, [0, 1, 2, 99], [(0, 1), (1, 2)], n_iter=3)
    assert got[99] == 99


# CHECKPOINT_EVERY + 1 rounds cut the lazy plan once mid-loop
@pytest.mark.parametrize("n_iter", [4, CHECKPOINT_EVERY + 1])
def test_matches_reference_on_law_graph(spark, n_iter):
    from ssb_sgis_spark.operators.linkgraph import link_edges

    nodes = list(range(120))
    ndf = spark.createDataFrame([(v,) for v in nodes], ["doc_id"])
    edges = [(r.src, r.dst) for r in link_edges(ndf, n=120).collect()]
    got = _run(spark, nodes, edges, n_iter=n_iter)
    assert got == _reference_lpa(nodes, edges, n_iter)
    assert len(set(got.values())) > 1  # non-trivial community structure
