"""TrustRank / seeded PageRank (operators/linkgraph.pagerank(seeds=))."""

import pytest

from ssb_sgis_spark.operators.linkgraph import (
    CHECKPOINT_EVERY,
    R0_MICRO,
    TELEPORT_MICRO,
    pagerank,
)


def _reference(node_ids, edge_list, seed_set, n_iter):
    outdeg = {}
    for a, _ in edge_list:
        outdeg[a] = outdeg.get(a, 0) + 1
    ranks = {v: (R0_MICRO if v in seed_set else 0) for v in node_ids}
    for _ in range(n_iter):
        contrib = {}
        for a, b in edge_list:
            contrib[b] = contrib.get(b, 0) + ranks[a] // outdeg[a]
        ranks = {
            v: (TELEPORT_MICRO if v in seed_set else 0)
            + (85 * contrib.get(v, 0)) // 100
            for v in node_ids
        }
    return ranks


def _run(spark, node_ids, edge_list, seed_ids, n_iter):
    nodes = spark.createDataFrame([(v,) for v in node_ids], ["doc_id"])
    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    seeds = spark.createDataFrame([(v,) for v in seed_ids], ["doc_id"])
    got = pagerank(nodes, edges, n_iter=n_iter, seeds=seeds).collect()
    return {r.doc_id: r.rank_micro for r in got}


def test_unreachable_nodes_settle_at_exactly_zero(spark):
    # 0 -> 1 -> 2 with seed {0}; node 9 is disconnected spam
    got = _run(spark, [0, 1, 2, 9], [(0, 1), (1, 2)], [0], 3)
    assert got[9] == 0
    assert got[0] > got[1] > got[2] > 0


# CHECKPOINT_EVERY + 1 rounds cut the lazy plan once mid-loop
@pytest.mark.parametrize("n_iter", [4, CHECKPOINT_EVERY + 1])
def test_matches_python_reference_on_a_small_graph(spark, n_iter):
    nodes = list(range(12))
    edges = [(i, (i * 5 + 1) % 12) for i in nodes] + [(0, 3), (3, 7)]
    seeds = [0, 6]
    got = _run(spark, nodes, edges, seeds, n_iter)
    assert got == _reference(nodes, edges, set(seeds), n_iter)


def test_seeding_every_node_is_uniform_pagerank(spark):
    nodes = list(range(12))
    edges = [(i, (i * 5 + 1) % 12) for i in nodes] + [(0, 3), (3, 7)]
    ndf = spark.createDataFrame([(v,) for v in nodes], ["doc_id"])
    edf = spark.createDataFrame(edges, ["src", "dst"])
    plain = {r.doc_id: r.rank_micro for r in pagerank(ndf, edf, n_iter=4).collect()}
    assert _run(spark, nodes, edges, nodes, 4) == plain


def test_seed_scores_dominate_a_spam_farm(spark):
    # a spam clique (10..13) linking to itself never earns trust
    trusted = [(0, 1), (1, 0)]
    spam = [(a, b) for a in range(10, 14) for b in range(10, 14) if a != b]
    got = _run(spark, [0, 1] + list(range(10, 14)), trusted + spam, [0], 5)
    assert all(got[v] == 0 for v in range(10, 14))
    assert got[0] > 0 and got[1] > 0
