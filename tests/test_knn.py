"""kNN operator tests vs numpy brute force — reference invariants from
tests/test_neighbors.py:17-137 (row count = n*k, identical points are
neighbors, strict mode raises, distance cap)."""

import numpy as np
import pandas as pd
import pytest

from ssb_sgis_spark.operators.knn import (
    get_all_distances,
    get_k_nearest_neighbors,
    knn_cellwise,
    sjoin_nearest,
)
from ssb_sgis_spark.sources.pages import pages_df, pages_np
from ssb_sgis_spark.sources.points import points_df, points_np

SF = "/root/testdata/sf0.001"
K = 5


def brute_knn(lx, ly, rid, rx, ry, k):
    order = np.argsort(rid, kind="stable")
    rid, rx, ry = rid[order], rx[order], ry[order]
    dx = lx[:, None] - rx[None, :]
    dy = ly[:, None] - ry[None, :]
    d = np.sqrt(dx * dx + dy * dy)
    out = []
    for i in range(len(lx)):
        idx = np.lexsort((rid, d[i]))[:k]
        for rank, j in enumerate(idx, 1):
            out.append((i, rid[j], d[i, j], rank))
    return out


@pytest.fixture(scope="module")
def frames(spark):
    left = pages_df(spark, SF).limit(300).cache()
    right = points_df(spark, SF).cache()
    lp = left.toPandas()
    rp = right.toPandas()
    return left, right, lp, rp


def test_knn_matches_bruteforce(spark, frames):
    left, right, lp, rp = frames
    got = (
        get_k_nearest_neighbors(left, right, k=K)
        .toPandas()
        .sort_values(["uid", "knn_rank"])
        .reset_index(drop=True)
    )
    assert len(got) == len(lp) * K
    want_rows = brute_knn(
        lp["x"].to_numpy(), lp["y"].to_numpy(),
        rp["vid"].to_numpy(), rp["px"].to_numpy(), rp["py"].to_numpy(), K,
    )
    want = pd.DataFrame(want_rows, columns=["i", "neighbor_id", "distance", "knn_rank"])
    want["uid"] = lp["uid"].to_numpy()[want["i"]]
    want = want.drop(columns="i").sort_values(["uid", "knn_rank"]).reset_index(drop=True)
    got = got[["uid", "neighbor_id", "distance", "knn_rank"]]
    want = want[["uid", "neighbor_id", "distance", "knn_rank"]].astype(got.dtypes.to_dict())
    pd.testing.assert_frame_equal(got, want)


def test_knn_row_count_invariant(spark, frames):
    left, right, lp, rp = frames
    out = get_k_nearest_neighbors(left, right, k=3)
    assert out.count() == len(lp) * 3


def test_knn_strict_raises(spark, frames):
    left, right, lp, rp = frames
    with pytest.raises(ValueError, match="strict"):
        get_k_nearest_neighbors(left, right, k=len(rp) + 1, strict=True)


def test_knn_clamps_k(spark, frames):
    left, right, lp, rp = frames
    out = get_k_nearest_neighbors(left.limit(10), right, k=len(rp) + 100)
    assert out.count() == 10 * len(rp)


def test_identical_points_are_neighbors(spark, frames):
    """distance-0 self matches are kept (neighbors.py:242-247)."""
    left, right, lp, rp = frames
    fake_left = right.selectExpr("vid as uid", "px as x", "py as y").limit(20)
    out = get_k_nearest_neighbors(fake_left, right, k=1).toPandas()
    assert (out["distance"] == 0).all()
    assert (out["uid"] == out["neighbor_id"]).all()


def test_sjoin_nearest_max_distance(spark, frames):
    left, right, lp, rp = frames
    capped = sjoin_nearest(left, right, max_distance=1000.0).toPandas()
    uncapped = sjoin_nearest(left, right).toPandas()
    assert len(capped) <= len(uncapped)
    assert (capped["distance"] <= 1000.0).all()


def test_all_distances_is_cross_product(spark, frames):
    left, right, lp, rp = frames
    out = get_all_distances(left.limit(10), right.limit(50))
    assert out.count() == 10 * 50


def test_knn_broadcast_job_budget(spark, frames, jobs_during):
    """The broadcast path plans with the right side's count and its
    driver collect, and runs the top-k kernel in a fixed few jobs; the
    ceilings are the counts measured at ``local[4]`` on the cached
    sf0.001 frames."""
    left, right, lp, rp = frames
    out, jobs = jobs_during(lambda: get_k_nearest_neighbors(left, right, k=K))
    assert len(jobs) <= 3
    rows, jobs = jobs_during(out.collect)
    assert len(jobs) <= 2
    assert len(rows) == len(lp) * K


def _planar_outlier_case(spark, frames):
    """Pages vs the point cloud on the planar grid; the outlier sits far
    outside the cloud's bounding box."""
    left, right, lp, rp = frames
    rx, ry = rp["px"].to_numpy(), rp["py"].to_numpy()
    return (
        left.select("uid", "x", "y").limit(20),
        (9.9e6, 9.9e6),
        lambda lx: knn_cellwise(lx, right, k=3, res=9),
        rp["vid"].to_numpy(),
        lambda x, y: np.sqrt((x - rx) ** 2 + (y - ry) ** 2),
    )


def _haversine_outlier_case(spark, frames):
    """A lon/lat cloud over southern Norway on the wrap grid; the outlier
    sits in the South Pacific, hundreds of cells from any right point."""
    from ssb_sgis_spark.kernels.geom import haversine_m
    from ssb_sgis_spark.operators.knn_geo import knn_cellwise_haversine

    rng = np.random.default_rng(5)
    rid = np.arange(200)
    rlon, rlat = rng.uniform(4, 12, 200), rng.uniform(58, 62, 200)
    right = spark.createDataFrame(
        pd.DataFrame({"vid": rid, "px": rlon, "py": rlat})
    )
    left = spark.createDataFrame(
        pd.DataFrame(
            {"uid": np.arange(20), "x": rng.uniform(4, 12, 20), "y": rng.uniform(58, 62, 20)}
        )
    )
    return (
        left,
        (-120.0, -45.0),
        lambda lx: knn_cellwise_haversine(lx, right, k=3, cell_deg=0.5),
        rid,
        lambda x, y: haversine_m(x, y, rlon, rlat),
    )


@pytest.mark.parametrize(
    "case", [_planar_outlier_case, _haversine_outlier_case], ids=["planar", "haversine"]
)
def test_knn_cellwise_zero_candidate_rows_escalate(spark, frames, case):
    """A left row whose 3x3 halo (and later rings) holds NO right points
    must still emit exactly k rows — regression for the violator set
    being derived from scored rows (zero-candidate rows appeared in
    neither proven nor violators, so they were silently dropped).  Both
    grids run the same ring driver, so both pin the invariant."""
    left, (ox, oy), run, rid, dist = case(spark, frames)
    # one outlier far outside the right cloud: its cell neighborhood is
    # empty, so it exercises the escalate -> brute-fallback path end to end
    outlier = spark.createDataFrame(
        pd.DataFrame({"uid": [10_000_001], "x": [ox], "y": [oy]})
    )
    lx = left.unionByName(outlier)
    out = run(lx).toPandas()
    assert len(out) == 21 * 3
    got = out[out["uid"] == 10_000_001].sort_values("knn_rank")
    assert len(got) == 3
    # and the outlier's neighbors match the brute-force answer
    d = dist(ox, oy)
    idx = np.lexsort((rid, d))[:3]
    assert list(got["neighbor_id"]) == list(rid[idx])


def test_select_topk_tiesafe_boundary_ties():
    """argpartition repair: a candidate tied at the kth distance with a
    SMALLER column position must win over an arbitrarily-partitioned one."""
    from ssb_sgis_spark.operators.knn import _select_topk_tiesafe

    rng = np.random.default_rng(7)
    for _ in range(50):
        # lattice-like values force heavy ties
        d = rng.integers(0, 5, size=(8, 40)).astype(np.float64)
        k = 6
        got = _select_topk_tiesafe(d, k)
        for i in range(d.shape[0]):
            want = np.lexsort((np.arange(d.shape[1]), d[i]))[:k]
            assert list(got[i]) == list(want)


def test_knn_cellwise_matches_broadcast(spark, frames):
    """Cell-partitioned kNN == broadcast kNN wherever the ring guarantee
    holds (the gridloop tiled ≡ global invariant, tests/test_bounds.py:33-89)."""
    left, right, lp, rp = frames
    res = 9  # 16 km cells; sparse cloud -> rows DO escalate through rings
    cellwise = knn_cellwise(left, right, k=2, res=res)
    # ring escalation + brute fallback make the result exact everywhere:
    # zero guarantee escapes and full equality with the broadcast kernel
    got = (
        cellwise.toPandas()
        .sort_values(["uid", "knn_rank"])
        .reset_index(drop=True)
    )
    want = (
        get_k_nearest_neighbors(left, right, k=2)
        .toPandas()
        .sort_values(["uid", "knn_rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["uid", "neighbor_id", "distance", "knn_rank"]],
        want[["uid", "neighbor_id", "distance", "knn_rank"]].astype(
            got[["uid", "neighbor_id", "distance", "knn_rank"]].dtypes.to_dict()
        ),
    )


def test_knn_haversine_matches_brute_greatcircle(spark):
    """Haversine kNN == numpy brute great-circle argsort on lon/lat data,
    including equator/meridian sanity (1 deg lat ~ 111.2 km)."""
    from ssb_sgis_spark.kernels.geom import haversine_m
    from ssb_sgis_spark.operators.knn import knn_haversine

    rng = np.random.default_rng(11)
    nl, nr, k = 40, 120, 3
    llon = rng.uniform(4, 31, nl); llat = rng.uniform(56, 71, nl)
    rlon = rng.uniform(4, 31, nr); rlat = rng.uniform(56, 71, nr)
    left = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(llon, llat))],
        "uid long, x double, y double",
    )
    right = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(rlon, rlat))],
        "vid long, px double, py double",
    )
    got = (
        knn_haversine(left, right, k=k)
        .toPandas()
        .sort_values(["uid", "knn_rank"])
        .reset_index(drop=True)
    )
    assert len(got) == nl * k
    for i in range(nl):
        d = haversine_m(llon[i], llat[i], rlon, rlat)
        want = np.lexsort((np.arange(nr), d))[:k]
        rows = got[got["uid"] == i]
        assert list(rows["neighbor_id"]) == list(want)
        assert np.allclose(rows["distance"].to_numpy(), d[want])
    # scale sanity: 1 degree of latitude on the sphere = ~111.195 km
    one_deg = haversine_m(np.array([10.0]), np.array([60.0]),
                          np.array([10.0]), np.array([61.0]))[0]
    assert abs(one_deg - 111_195) < 50


def test_knn_haversine_nonbroadcast_routes_to_geo_cellwise(spark):
    """The former refusal: a non-broadcastable right side with
    metric='haversine' now routes through knn_geo.knn_cellwise_haversine
    (exact spherical proof bound) and matches the broadcast kernel.
    Deep coverage lives in tests/test_knn_geo.py."""
    from ssb_sgis_spark.operators.knn import knn_haversine

    df = spark.range(10).selectExpr("id AS uid", "4.0 + id AS x", "58.0 AS y")
    rt = spark.range(10).selectExpr("id AS vid", "4.0 + id / 2.0 AS px", "58.5 AS py")
    via_cell = knn_haversine(df, rt, k=2, broadcast_threshold=1).collect()
    via_bcast = knn_haversine(df, rt, k=2).collect()
    key = lambda rows: {
        (r.uid, r.knn_rank): (r.neighbor_id, round(r.distance, 6)) for r in rows
    }
    assert key(via_cell) == key(via_bcast)


def test_knn_cellwise_exact_for_out_of_domain_points(spark):
    """Points OUTSIDE the Morton domain clamp into border cells; the
    dedup-free halo fast path must not strand them — the out-of-domain
    branch keeps the exact clamped-replica semantics.  cellwise == brute
    for a cloud straddling the domain's SW corner."""
    from ssb_sgis_spark.cells import DOMAIN_X0, DOMAIN_Y0, cell_size
    from ssb_sgis_spark.operators.knn import get_k_nearest_neighbors, knn_cellwise

    res = 10
    s = cell_size(res)
    rng = np.random.default_rng(3)
    # left: some in-domain near the border, some just OUTSIDE it
    lx = DOMAIN_X0 + rng.uniform(-2.5 * s, 2.5 * s, 30)
    ly = DOMAIN_Y0 + rng.uniform(-2.5 * s, 2.5 * s, 30)
    # right: sparse cloud on both sides of the border
    rx = DOMAIN_X0 + rng.uniform(-3 * s, 6 * s, 60)
    ry = DOMAIN_Y0 + rng.uniform(-3 * s, 6 * s, 60)
    left = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lx, ly))],
        "uid long, x double, y double",
    )
    right = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(rx, ry))],
        "vid long, px double, py double",
    )
    got = (
        knn_cellwise(left, right, k=3, res=res)
        .toPandas()
        .sort_values(["uid", "knn_rank"])
        .reset_index(drop=True)
    )
    want = (
        get_k_nearest_neighbors(left, right, k=3)
        .toPandas()
        .sort_values(["uid", "knn_rank"])
        .reset_index(drop=True)
    )
    assert len(got) == 30 * 3
    cols = ["uid", "neighbor_id", "distance", "knn_rank"]
    pd.testing.assert_frame_equal(
        got[cols], want[cols].astype(got[cols].dtypes.to_dict())
    )
