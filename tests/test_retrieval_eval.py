"""Retrieval scorecard (operators/search.retrieval_scorecard)."""

import pytest

from ssb_sgis_spark.operators.search import MRR_SCALE, retrieval_scorecard


def _mk(spark, rows):
    return spark.createDataFrame(rows, ["query_id", "doc_id", "rank"])


def _run(spark, systems, query_ids):
    q = spark.createDataFrame([(v,) for v in query_ids], ["query_id"])
    got = retrieval_scorecard(
        [(n, _mk(spark, rows), "rank") for n, rows in systems], q
    ).collect()
    return {r.system: (r.n_queries, r.hits, r.mrr_micro) for r in got}


def test_closed_form_mrr(spark):
    # q0 hits itself at rank 1, q1 at rank 4, q2 misses entirely
    rows = [(0, 0, 1), (0, 7, 2), (1, 9, 1), (1, 1, 4), (2, 5, 1)]
    got = _run(spark, [("sys", rows)], [0, 1, 2])
    mrr = (MRR_SCALE // 1 + MRR_SCALE // 4 + 0) // 3
    assert got == {"sys": (3, 2, mrr)}


def test_missing_query_rows_count_as_misses(spark):
    # query 5 never appears in the list at all: still in the denominator
    rows = [(0, 0, 2)]
    got = _run(spark, [("sys", rows)], [0, 5])
    assert got["sys"] == (2, 1, (MRR_SCALE // 2) // 2)


def test_systems_score_independently(spark):
    perfect = [(0, 0, 1), (1, 1, 1)]
    useless = [(0, 9, 1), (1, 8, 1)]
    got = _run(spark, [("a", perfect), ("b", useless)], [0, 1])
    assert got["a"] == (2, 2, MRR_SCALE)
    assert got["b"] == (2, 0, 0)


def test_empty_query_set_raises(spark):
    # no queries means no MRR: refuse instead of a NULL/missing row
    q = spark.createDataFrame([], "query_id long")
    with pytest.raises(ValueError, match="empty query set"):
        retrieval_scorecard([("sys", _mk(spark, [(0, 0, 1)]), "rank")], q)
