"""Kernel unit tests — mirrors the reference's exact-value unit testing
style (SURVEY.md §5; reference tests/test_geometry_types.py etc.)."""

import numpy as np
import pytest

from ssb_sgis_spark.kernels import geom, wkb

SQ = np.array([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)], float)
HOLE = np.array([(4, 4), (4, 6), (6, 6), (6, 4), (4, 4)], float)
TRI = np.array([(20, 0), (30, 0), (20, 10), (20, 0)], float)
LINE = np.array([(0, 0), (3, 4), (3, 10)], float)


def mixed_batch():
    return wkb.decode(
        [
            wkb.encode_polygon([SQ, HOLE]),
            wkb.encode_point(1, 2),
            wkb.encode_linestring(LINE),
            None,
            wkb.encode_multipolygon([[SQ], [TRI]]),
        ]
    )


def test_wkb_roundtrip():
    ga = mixed_batch()
    ga2 = wkb.decode(wkb.encode(ga))
    assert np.allclose(ga.coords, ga2.coords)
    assert (ga.types == ga2.types).all()
    assert (ga.ring_offsets == ga2.ring_offsets).all()
    assert (ga.geom_offsets == ga2.geom_offsets).all()


def test_types():
    ga = mixed_batch()
    assert list(ga.types) == [wkb.T_POLYGON, wkb.T_POINT, wkb.T_LINE, wkb.T_EMPTY, wkb.T_POLYGON]


def test_area():
    ga = mixed_batch()
    assert np.allclose(geom.area(ga), [96.0, 0.0, 0.0, 0.0, 150.0])


def test_length():
    ga = mixed_batch()
    # line: 5 + 6; polygon perimeters included (geopandas convention)
    assert np.allclose(geom.length(ga), [48.0, 0.0, 11.0, 0.0, 40 + (10 + 10 + np.hypot(10, 10))])


def test_bounds():
    ga = mixed_batch()
    b = geom.bounds(ga)
    assert np.allclose(b[0], [0, 0, 10, 10])
    assert np.allclose(b[1], [1, 2, 1, 2])
    assert np.allclose(b[2], [0, 0, 3, 10])
    assert np.isnan(b[3]).all()
    assert np.allclose(b[4], [0, 0, 30, 10])


def test_centroid_square():
    ga = wkb.decode([wkb.encode_polygon([SQ])])
    assert np.allclose(geom.centroid(ga)[0], [5, 5])


def test_centroid_hole_pulls_away():
    off_hole = np.array([(1, 1), (1, 5), (5, 5), (5, 1), (1, 1)], float)
    ga = wkb.decode([wkb.encode_polygon([SQ, off_hole])])
    c = geom.centroid(ga)[0]
    assert c[0] > 5 and c[1] > 5  # hole in SW quadrant pushes centroid NE


def test_pip_with_hole():
    edges = (
        np.concatenate([SQ[:-1, 0], HOLE[:-1, 0]]),
        np.concatenate([SQ[:-1, 1], HOLE[:-1, 1]]),
        np.concatenate([SQ[1:, 0], HOLE[1:, 0]]),
        np.concatenate([SQ[1:, 1], HOLE[1:, 1]]),
    )
    px = np.array([5.0, 5.0, 11.0, 0.5, -1.0])
    py = np.array([1.0, 5.0, 5.0, 0.5, 5.0])
    assert list(geom.points_in_polygon(px, py, edges)) == [True, False, False, True, False]


@pytest.mark.parametrize("max_dist2", [None, 0.0, 0.25])
def test_pip_grouped_matches_single(max_dist2):
    """The grouped refine equals per-polygon PIP (bound None or 0 — no
    random point lies on an edge), or PIP OR boundary distance² <= bound."""
    rng = np.random.RandomState(7)
    px = rng.rand(500) * 12 - 1
    py = rng.rand(500) * 12 - 1
    e_sq = geom.ring_edges([SQ])
    e_tri = geom.ring_edges([TRI])
    rows = np.where(rng.rand(500) < 0.5, 0, 1)
    grouped = geom.points_in_polygon_grouped(px, py, rows, [e_sq, e_tri], max_dist2)
    single = np.where(
        rows == 0,
        geom.points_in_polygon(px, py, e_sq),
        geom.points_in_polygon(px, py, e_tri),
    )
    if max_dist2:
        d2 = np.where(
            rows == 0,
            geom.point_to_edges_dist2(px, py, e_sq),
            geom.point_to_edges_dist2(px, py, e_tri),
        )
        single |= d2 <= max_dist2
        assert (grouped != geom.points_in_polygon_grouped(px, py, rows, [e_sq, e_tri])).any()
    assert (grouped == single).all()


def test_wkt_parse():
    ga = wkb.decode([wkb.parse_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 4 6, 6 6, 6 4, 4 4))")])
    assert np.allclose(geom.area(ga), [96.0])
    ga = wkb.decode([wkb.parse_wkt("POINT (1 2)")])
    assert np.allclose(ga.coords[0], [1, 2])
    ga = wkb.decode([wkb.parse_wkt("MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0)), ((20 0, 30 0, 20 10, 20 0)))")])
    assert np.allclose(geom.area(ga), [150.0])


def test_empty_batch():
    ga = wkb.decode([])
    assert len(ga) == 0
    assert geom.area(ga).shape == (0,)
    assert geom.bounds(ga).shape == (0, 4)
