"""Anchor extraction + weighted host PageRank."""

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _anchored(spark, n=300):
    from __spark_entry__ import pages_df
    from ssb_sgis_spark.operators.links import anchored_pages

    return anchored_pages(
        pages_df(spark, SF_SMOKE, with_payload=True)
        .select("uid", "url", "html")
        .limit(n)
    )


def test_extract_matches_law(spark):
    from ssb_sgis_spark.operators.linkgraph import _A, _B
    from ssb_sgis_spark.operators.links import extract_links

    got = extract_links(_anchored(spark), keep=["uid"]).collect()
    for r in got:
        k = r.pos + 1
        assert r.href == "https://site%d.no/l/%d" % ((r.uid * _A + k * _B) % 1000, k)
    by_uid = {}
    for r in got:
        by_uid.setdefault(r.uid, []).append(r.pos)
    for uid, ps in by_uid.items():
        assert sorted(ps) == list(range(1 + uid % 4))


def test_extraction_keeps_text_invariant(spark):
    """Appending anchors must not disturb the html→text parse."""
    from ssb_sgis_spark.operators.textops import extract_text
    from __spark_entry__ import pages_df

    plain = pages_df(spark, SF_SMOKE, with_payload=True).select(
        "uid", "url", "html", "text"
    ).limit(300)
    out = extract_text(_anchored(spark).join(plain.select("uid", "text"), "uid"),
                       keep=["uid", "text"])
    bad = out.filter(F.col("extracted_text") != F.col("text")).count()
    assert bad == 0


def test_weighted_pagerank_properties(spark):
    """Sink-free unit-weight ring → the fixed point is exactly r0
    (outw=1 ⇒ no truncation leak); a node with no in-links settles at
    the teleport mass."""
    from ssb_sgis_spark.operators.linkgraph import (
        R0_MICRO,
        TELEPORT_MICRO,
        pagerank,
    )

    n = 8
    ring = spark.createDataFrame(
        [(i, (i + 1) % n, 1) for i in range(n)], "src int, dst int, w int"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "host int")
    r = {
        x.host: x.rank_micro
        for x in pagerank(nodes, ring, id_col="host", n_iter=4, weight_col="w").collect()
    }
    assert set(r.values()) == {R0_MICRO}

    # 9 has out-links but no in-links
    edges = ring.union(spark.createDataFrame([(9, 0, 5)], ring.schema))
    nodes2 = nodes.union(spark.createDataFrame([(9,)], nodes.schema))
    r2 = {
        x.host: x.rank_micro
        for x in pagerank(nodes2, edges, id_col="host", n_iter=4, weight_col="w").collect()
    }
    assert r2[9] == TELEPORT_MICRO


def test_weighted_pagerank_matches_multiedge(spark):
    """Weight semantics: w parallel unit edges ≡ one edge with weight w
    (pagerank vs pagerank(weight_col="w") on the expanded/contracted
    graphs)."""
    from ssb_sgis_spark.operators.linkgraph import pagerank

    pairs = [(0, 1, 2), (0, 2, 1), (1, 2, 3), (2, 0, 1), (3, 0, 2), (1, 3, 1)]
    contracted = spark.createDataFrame(pairs, "src int, dst int, w int")
    expanded = spark.createDataFrame(
        [(s, d) for s, d, w in pairs for _ in range(w)], "src int, dst int"
    )
    nodes = spark.createDataFrame([(i,) for i in range(4)], "v int")
    a = {r.v: r.rank_micro for r in pagerank(nodes, expanded, id_col="v", n_iter=4).collect()}
    b = {
        r.v: r.rank_micro
        for r in pagerank(
            nodes, contracted, id_col="v", n_iter=4, weight_col="w"
        ).collect()
    }
    assert a == b
