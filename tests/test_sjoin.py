"""Spatial-join operator tests vs a numpy brute-force oracle (the
reference's parity style: sgis result must equal the naive composition,
SURVEY.md §5 / tests/test_neighbors.py:140-188)."""

import numpy as np
import pandas as pd
import pytest

from ssb_sgis_spark.kernels.geom import points_in_polygon
from ssb_sgis_spark.operators.sjoin import (
    points_in_polygons_join,
    sfilter,
    sfilter_inverse,
    sfilter_split,
)
from ssb_sgis_spark.sources.municipalities import muni_df, muni_edge_table
from ssb_sgis_spark.sources.pages import pages_df, pages_np

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def truth():
    import duckdb

    con = duckdb.connect()
    uids = con.execute(
        f"select distinct l_orderkey * 8 + l_linenumber as uid from read_parquet('{SF}/lineitem.parquet') order by 1"
    ).df()["uid"].to_numpy()
    x, y = pages_np(uids)
    et = muni_edge_table()
    pairs = []
    for mid, e in et.items():
        m = points_in_polygon(x, y, e)
        for u in uids[m]:
            pairs.append((u, mid))
    return uids, set(pairs)


def test_pip_join_matches_bruteforce(spark, truth):
    uids, want = truth
    got = points_in_polygons_join(pages_df(spark, SF), muni_df(spark))
    rows = {(r["uid"], r["muni_id"]) for r in got.select("uid", "muni_id").collect()}
    assert rows == want


def test_pip_join_left_has_all_pages(spark, truth):
    uids, want = truth
    left = points_in_polygons_join(pages_df(spark, SF), muni_df(spark), how="left")
    pdf = left.select("uid", "muni_id").toPandas()
    assert set(pdf["uid"]) == set(uids)
    matched = pdf[pdf["muni_id"].notna()]
    assert set(zip(matched["uid"], matched["muni_id"])) == want


def test_sfilter_split_partitions_input(spark, truth):
    uids, want = truth
    inside_uids = {u for u, _ in want}
    semi, anti = sfilter_split(pages_df(spark, SF), muni_df(spark))
    semi_u = {r["uid"] for r in semi.select("uid").collect()}
    anti_u = {r["uid"] for r in anti.select("uid").collect()}
    assert semi_u == inside_uids
    assert semi_u.isdisjoint(anti_u)
    assert semi_u | anti_u == set(uids)


def test_sfilter_no_duplicates(spark):
    out = sfilter(pages_df(spark, SF), muni_df(spark)).toPandas()
    assert not out.duplicated().any()


def test_full_cells_need_no_refine(spark):
    """Plan sanity: the majority of matches at municipality scale come from
    FULL cover cells (no geometry work)."""
    from pyspark.sql import functions as F

    from ssb_sgis_spark.cells import pick_cover_resolution
    from ssb_sgis_spark.operators.sjoin import _decode_polygon_side, build_cover_df

    keys, ga, edge_table = _decode_polygon_side(muni_df(spark), "muni_id", "geometry")
    cover = build_cover_df(spark, keys, ga, 13)[0].toPandas()
    frac_full = cover["_full"].mean()
    assert frac_full > 0.5, f"cover is mostly boundary cells: {frac_full}"


def test_compact_cover_path_matches_enumerated(spark, truth):
    """Forcing the compact (morton-range + searchsorted) path must give
    byte-identical join rows to the enumerated broadcast path."""
    from ssb_sgis_spark.operators.sjoin import points_in_polygons_join

    enum = points_in_polygons_join(
        pages_df(spark, SF), muni_df(spark)
    ).select("uid", "muni_id")
    compact = points_in_polygons_join(
        pages_df(spark, SF), muni_df(spark), compact_threshold=0
    ).select("uid", "muni_id")
    a = sorted((r["uid"], r["muni_id"]) for r in enum.collect())
    b = sorted((r["uid"], r["muni_id"]) for r in compact.collect())
    assert a == b


def test_pip_join_cached_cover_job_budget(spark, truth, jobs_during):
    """With the enumerated cover already built and cached (one warm-up
    join materializes it), the join plans with no job and runs its
    broadcast hash join in a fixed few; the ceiling is the count measured
    at ``local[4]`` on sf0.001."""
    uids, want = truth
    pages, munis = pages_df(spark, SF), muni_df(spark)
    points_in_polygons_join(pages, munis).count()
    got, jobs = jobs_during(lambda: points_in_polygons_join(pages, munis))
    assert jobs == []
    rows, jobs = jobs_during(got.select("uid", "muni_id").collect)
    assert len(jobs) <= 3
    assert {(r["uid"], r["muni_id"]) for r in rows} == want


def test_dense_polygon_bounded_predicate_width(spark, truth):
    """One 5,000-vertex polygon among the munis must NOT inflate the
    unrolled PIP predicate width globally: dense PARTIAL cells are
    bisected into sub-cell rows (bounded `_near`/`_rb`), and the join
    rows still match brute force exactly."""
    from ssb_sgis_spark.kernels import wkb as kwkb
    from ssb_sgis_spark.operators.sjoin import (
        _MAX_CELL_EDGES,
        _decode_polygon_side,
        build_cover_df,
    )

    uids, want = truth
    t = np.linspace(0.0, 2.0 * np.pi, 5001)
    cx, cy, r = 262000.0, 6650000.0, 8000.0
    ring = np.column_stack([cx + r * np.cos(t), cy + r * np.sin(t)])
    ring[-1] = ring[0]
    dense = spark.createDataFrame(
        [("zzz_dense", "dense", bytearray(kwkb.encode_polygon([ring])))],
        "muni_id string, name string, geometry binary",
    )
    polys = muni_df(spark).unionByName(dense)

    keys, ga, _ = _decode_polygon_side(polys, "muni_id", "geometry")
    # the resolution the join itself would pick (13 = muni-scale cells)
    _, n_near, n_rb = build_cover_df(spark, keys, ga, 13)
    assert n_near <= _MAX_CELL_EDGES, f"n_near={n_near} not bounded"
    assert n_rb <= _MAX_CELL_EDGES, f"n_rb={n_rb} not bounded"

    got = points_in_polygons_join(pages_df(spark, SF), polys)
    rows = {(q["uid"], q["muni_id"]) for q in got.select("uid", "muni_id").collect()}
    x, y = pages_np(uids)
    m = points_in_polygon(
        x, y, (ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1])
    )
    want_dense = want | {(u, "zzz_dense") for u in uids[m]}
    assert rows == want_dense


def test_duplicate_polygon_keys_agree_across_paths(spark):
    """Two disjoint polygon rows sharing one key: the enumerated, compact
    and distance paths must each test a candidate against its OWN row's
    edges, so all three return the brute-force rows."""
    from ssb_sgis_spark.kernels import wkb as kwkb

    def square(x0, y0, s):
        return np.array(
            [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s), (x0, y0)]
        )

    squares = [square(260000.0, 6645000.0, 5000.0), square(270000.0, 6645000.0, 5000.0)]
    polys = spark.createDataFrame(
        [("a", bytearray(kwkb.encode_polygon([sq]))) for sq in squares],
        "muni_id string, geometry binary",
    )
    rng = np.random.RandomState(11)
    x = rng.uniform(258000.0, 277000.0, 4000)
    y = rng.uniform(6643000.0, 6652000.0, 4000)
    pts = spark.createDataFrame(
        pd.DataFrame({"uid": np.arange(4000, dtype=np.int64), "x": x, "y": y})
    )
    inside = np.zeros(4000, dtype=bool)
    for sq in squares:
        inside |= points_in_polygon(x, y, (sq[:-1, 0], sq[:-1, 1], sq[1:, 0], sq[1:, 1]))
    want = sorted((int(u), "a") for u in np.flatnonzero(inside))
    assert want

    def rows(**kw):
        got = points_in_polygons_join(pts, polys, **kw).select("uid", "muni_id")
        return sorted((r["uid"], r["muni_id"]) for r in got.collect())

    assert rows() == want
    assert rows(compact_threshold=0) == want
    assert rows(max_distance=1e-9) == want


def test_connected_components_string_ids(spark, cc_paths):
    """String vertex ids must converge correctly (the decimal-cast
    fingerprint regression: NULL sums ended the loop after one round)."""
    from ssb_sgis_spark.operators.clusters import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], "src string, dst string"
    )
    verts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("x",), ("y",), ("lone",)], "id string"
    )
    for _ in cc_paths():
        out = {r["id"]: r["component"] for r in connected_components(edges, verts).collect()}
        assert out["a"] == out["b"] == out["c"] == out["d"] == "a"
        assert out["x"] == out["y"] == "x"
        assert out["lone"] == "lone"


def test_connected_components_non_ascii_string_ids(spark, cc_paths):
    """The min id of a non-ASCII component is Spark's string minimum on
    both paths: the driver path's sorted codes must order ids like
    Spark's UTF-8 byte order (code-point order, which differs from
    UTF-16 order once an id leaves the BMP)."""
    from pyspark.sql import functions as F

    from ssb_sgis_spark.operators.clusters import connected_components

    comps = [["é", "z", "Ø"], ["ｚ", "𝔸"], ["Åse", "Åsa", "Ære"], ["ß"]]
    edges = spark.createDataFrame(
        [(c[i], c[i + 1]) for c in comps for i in range(len(c) - 1)],
        "src string, dst string",
    )
    verts = spark.createDataFrame([(v,) for c in comps for v in c], "id string")
    per_comp = spark.createDataFrame(
        [(i, v) for i, c in enumerate(comps) for v in c], "c int, s string"
    ).groupBy("c").agg(F.min("s").alias("m"))
    mins = {r["c"]: r["m"] for r in per_comp.collect()}
    spark_min = {v: mins[i] for i, c in enumerate(comps) for v in c}
    # U+FF5A < U+1D538 by code point, though its UTF-16 unit is larger
    assert spark_min["𝔸"] == "ｚ" == min(["ｚ", "𝔸"])
    for _ in cc_paths():
        out = {r["id"]: r["component"] for r in connected_components(edges, verts).collect()}
        assert out == spark_min


def test_connected_components_no_edges(spark, cc_paths):
    """Empty edge set: every vertex is its own singleton component (the
    active-vertex loop runs zero rounds; singletons union back)."""
    from ssb_sgis_spark.operators.clusters import connected_components

    edges = spark.createDataFrame([], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    for _ in cc_paths():
        out = {r["id"]: r["component"] for r in connected_components(edges, verts).collect()}
        assert out == {1: 1, 2: 2, 3: 3}


def test_connected_components_foreign_edge_ids(spark, cc_paths):
    """Edges mentioning ids absent from the vertices frame: components
    are those of the subgraph induced on the vertices, so output rows
    stay ⊆ vertices and no label propagates through the foreign id."""
    from ssb_sgis_spark.operators.clusters import connected_components

    edges = spark.createDataFrame([(1, 99), (99, 2)], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    for _ in cc_paths():
        rows = connected_components(edges, verts).collect()
        assert len(rows) == 3
        assert {r["id"]: r["component"] for r in rows} == {1: 1, 2: 2, 3: 3}
