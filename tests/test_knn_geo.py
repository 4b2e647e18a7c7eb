"""Exact haversine cellwise kNN: broadcast-path parity, dateline wrap,
polar degradation, auto-routing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ssb_sgis_spark.kernels.geom import haversine_m
from ssb_sgis_spark.operators import knn
from ssb_sgis_spark.operators.knn_geo import knn_cellwise_haversine


def _np_brute(lid, llon, llat, rid, rlon, rlat, k):
    """Independent oracle: full matrix, ties on (distance, id)."""
    d = haversine_m(llon[:, None], llat[:, None], rlon[None, :], rlat[None, :])
    out = {}
    order_ids = np.argsort(rid, kind="stable")
    d = d[:, order_ids]
    rid_sorted = rid[order_ids]
    for i in range(len(lid)):
        idx = np.lexsort((rid_sorted, d[i]))[:k]
        out[lid[i]] = [(int(rid_sorted[j]), float(d[i, j])) for j in idx]
    return out


def _check(got_rows, expect, tol=1e-6):
    by_uid = {}
    for r in got_rows:
        by_uid.setdefault(r[0], []).append((r.knn_rank, r.neighbor_id, r.distance))
    assert set(by_uid) == set(expect)
    for uid, rows in by_uid.items():
        rows.sort()
        assert [n for _, n, _ in rows] == [n for n, _ in expect[uid]], uid
        for (_, _, d), (_, ed) in zip(rows, expect[uid]):
            assert abs(d - ed) <= tol, (uid, d, ed)


def _mkdf(spark, ids, lons, lats, id_name, x, y):
    return spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, a, b in zip(ids, lons, lats)],
        f"{id_name} long, {x} double, {y} double",
    )


def _cloud(n, seed, lon0=4.0, lon_span=8.0, lat0=58.0, lat_span=4.0):
    rng = np.random.RandomState(seed)
    return (
        np.arange(n),
        lon0 + rng.rand(n) * lon_span,
        lat0 + rng.rand(n) * lat_span,
    )


def test_matches_numpy_brute_regional(spark):
    lid, llon, llat = _cloud(60, 1)
    rid, rlon, rlat = _cloud(900, 2)
    left = _mkdf(spark, lid, llon, llat, "uid", "x", "y")
    right = _mkdf(spark, rid, rlon, rlat, "vid", "px", "py")
    got = knn_cellwise_haversine(left, right, k=5, cell_deg=0.5).collect()
    _check(got, _np_brute(lid, llon, llat, rid, rlon, rlat, 5))
    assert len(got) == 60 * 5


def test_small_cells_force_escalation(spark, monkeypatch):
    """Tiny cells → round 1 can't prove most rows → rings + brute paths
    both execute; result must stay exact."""
    monkeypatch.setattr(knn, "MAX_RINGS", 2)
    monkeypatch.setattr(knn, "BRUTE_THRESHOLD", 5)
    lid, llon, llat = _cloud(25, 3)
    rid, rlon, rlat = _cloud(120, 4)
    left = _mkdf(spark, lid, llon, llat, "uid", "x", "y")
    right = _mkdf(spark, rid, rlon, rlat, "vid", "px", "py")
    got = knn_cellwise_haversine(left, right, k=4, cell_deg=0.05).collect()
    _check(got, _np_brute(lid, llon, llat, rid, rlon, rlat, 4))


def test_dateline_wrap(spark):
    """Neighbors across ±180 are ring-1 neighbours, not 360° apart."""
    llon = np.array([179.8, -179.9, 179.95])
    llat = np.array([10.0, 10.1, 9.9])
    lid = np.arange(3)
    rng = np.random.RandomState(7)
    rlon = np.concatenate([179.0 + rng.rand(40), -180.0 + rng.rand(40)])
    rlat = 9.5 + rng.rand(80)
    rid = np.arange(80)
    left = _mkdf(spark, lid, llon, llat, "uid", "x", "y")
    right = _mkdf(spark, rid, rlon, rlat, "vid", "px", "py")
    got = knn_cellwise_haversine(left, right, k=6, cell_deg=0.25).collect()
    _check(got, _np_brute(lid, llon, llat, rid, rlon, rlat, 6))


def test_polar_degrades_to_exact(spark):
    """Near the pole the lon proof bound vanishes; rows must fall through
    to the brute pass and still be exact (incl. cross-pole lon flips)."""
    rng = np.random.RandomState(11)
    lid = np.arange(8)
    llon = rng.rand(8) * 360.0 - 180.0
    llat = 89.0 + rng.rand(8) * 0.9
    rid = np.arange(300)
    rlon = rng.rand(300) * 360.0 - 180.0
    rlat = 88.5 + rng.rand(300) * 1.5
    left = _mkdf(spark, lid, llon, llat, "uid", "x", "y")
    right = _mkdf(spark, rid, rlon, rlat, "vid", "px", "py")
    got = knn_cellwise_haversine(left, right, k=5, cell_deg=1.0).collect()
    _check(got, _np_brute(lid, llon, llat, rid, rlon, rlat, 5))


def test_autoroute_replaces_refusal(spark):
    """get_k_nearest_neighbors(metric='haversine') now routes big right
    sides through the geo cellwise path and agrees with the broadcast
    kernel."""
    from ssb_sgis_spark.operators.knn import get_k_nearest_neighbors

    lid, llon, llat = _cloud(30, 5)
    rid, rlon, rlat = _cloud(500, 6)
    left = _mkdf(spark, lid, llon, llat, "uid", "x", "y")
    right = _mkdf(spark, rid, rlon, rlat, "vid", "px", "py")
    via_cell = get_k_nearest_neighbors(
        left, right, k=3, metric="haversine", broadcast_threshold=100
    ).collect()
    via_bcast = get_k_nearest_neighbors(left, right, k=3, metric="haversine").collect()
    a = {(r.uid, r.knn_rank): (r.neighbor_id, round(r.distance, 6)) for r in via_cell}
    b = {(r.uid, r.knn_rank): (r.neighbor_id, round(r.distance, 6)) for r in via_bcast}
    assert a == b


def test_cell_deg_validation(spark):
    left = _mkdf(spark, [0], [1.0], [1.0], "uid", "x", "y")
    right = _mkdf(spark, [0], [1.0], [1.0], "vid", "px", "py")
    with pytest.raises(ValueError, match="divide 360"):
        knn_cellwise_haversine(left, right, k=1, cell_deg=0.7)
