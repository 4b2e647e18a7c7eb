"""Polygon/line/point/clip operator batch — numpy-oracle tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ssb_sgis_spark.kernels import wkb
from ssb_sgis_spark.kernels.boolean import polygon_area
from ssb_sgis_spark.kernels.geom import area as geom_area, length as geom_length
from ssb_sgis_spark.operators.clip import (
    clean_clip,
    get_gaps,
    get_intersections,
    update_geometries,
)
from ssb_sgis_spark.operators.geomtable import with_area, with_bounds, with_length
from ssb_sgis_spark.operators.lineops import (
    cut_lines,
    cut_lines_once,
    make_lines_between_points,
)
from ssb_sgis_spark.operators.pointops import snap_all, snap_within_distance
from ssb_sgis_spark.operators.polygons import (
    bounds_to_points,
    close_all_holes,
    close_small_holes,
    get_holes,
    sort_large_first,
    to_lines,
    to_single_geom_type,
    with_geom_type,
)

OX, OY = 250000.0, 6600000.0


def box_ring(x0, y0, x1, y1):
    return np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)], dtype=float)


def donut_wkb(x0, y0, s, hs):
    ext = box_ring(x0, y0, x0 + s, y0 + s)
    h = box_ring(x0 + s / 2 - hs, y0 + s / 2 - hs, x0 + s / 2 + hs, y0 + s / 2 + hs)[::-1]
    return wkb.encode_polygon([ext, h])


def test_holes_family(spark):
    df = spark.createDataFrame(
        [
            (0, bytearray(donut_wkb(OX, OY, 1000, 100))),
            (1, bytearray(donut_wkb(OX + 5000, OY, 1000, 10))),
            (2, bytearray(wkb.encode_polygon([box_ring(OX, OY + 5000, OX + 500, OY + 5500)]))),
        ],
        "pid long, geometry binary",
    )
    closed = close_all_holes(df).collect()
    for r in closed:
        assert len(wkb.decode([r["geometry"]]).geom_parts(0)[0]) == 1
    small = {r["pid"]: r for r in close_small_holes(df, 2000.0).collect()}
    # pid 0 hole area 200x200=40000 stays; pid 1 hole 20x20=400 closed
    assert len(wkb.decode([small[0]["geometry"]]).geom_parts(0)[0]) == 2
    assert len(wkb.decode([small[1]["geometry"]]).geom_parts(0)[0]) == 1
    holes = get_holes(df).collect()
    assert len(holes) == 2
    areas = sorted(
        polygon_area(wkb.decode([r["geometry"]]).geom_parts(0)) for r in holes
    )
    assert areas == pytest.approx([400.0, 40000.0])


def test_geom_type_and_sort(spark):
    df = spark.createDataFrame(
        [
            (0, bytearray(wkb.encode_point(OX, OY))),
            (1, bytearray(wkb.encode_linestring(np.array([(OX, OY), (OX + 10, OY)])))),
            (2, bytearray(wkb.encode_polygon([box_ring(OX, OY, OX + 10, OY + 10)]))),
            (3, bytearray(wkb.encode_polygon([box_ring(OX, OY, OX + 99, OY + 99)]))),
        ],
        "pid long, geometry binary",
    )
    types = {r["pid"]: r["geom_type"] for r in with_geom_type(df).collect()}
    assert types == {0: "point", 1: "line", 2: "polygon", 3: "polygon"}
    only_poly = to_single_geom_type(df, "polygon").collect()
    assert {r["pid"] for r in only_poly} == {2, 3}
    ordered = [r["pid"] for r in sort_large_first(df).collect()]
    assert ordered[0] == 3
    lines = to_lines(df.filter(F.col("pid") == 2)).collect()
    ga = wkb.decode([lines[0]["geometry"]])
    assert int(ga.types[0]) == wkb.T_LINE


def test_cut_lines(spark):
    line = np.array([(OX, OY), (OX + 100, OY), (OX + 100, OY + 50)])
    df = spark.createDataFrame(
        [(0, bytearray(wkb.encode_linestring(line)))], "lid long, geometry binary"
    )
    pieces = cut_lines(df, 40.0).collect()
    total = 0.0
    for r in pieces:
        c = wkb.decode([r["geometry"]]).geom_rings(0)[0]
        seg = np.hypot(np.diff(c[:, 0]), np.diff(c[:, 1])).sum()
        assert seg <= 40.0 + 1e-9
        total += seg
    assert total == pytest.approx(150.0)
    assert len(pieces) == 4  # 150 / 40 -> 4 pieces of 37.5

    two = cut_lines_once(df, 30.0).collect()
    assert len(two) == 2
    lens = sorted(
        np.hypot(
            np.diff(wkb.decode([r["geometry"]]).geom_rings(0)[0][:, 0]),
            np.diff(wkb.decode([r["geometry"]]).geom_rings(0)[0][:, 1]),
        ).sum()
        for r in two
    )
    assert lens == pytest.approx([30.0, 120.0])


def test_make_lines_between_points(spark):
    df = spark.createDataFrame([(0, OX, OY, OX + 3.0, OY + 4.0)], "i long, x1 double, y1 double, x2 double, y2 double")
    out = make_lines_between_points(df).collect()
    c = wkb.decode([out[0]["geometry"]]).geom_rings(0)[0]
    assert np.hypot(*(c[1] - c[0])) == pytest.approx(5.0)


def test_snap_ops(spark):
    pts = spark.createDataFrame(
        [(0, OX, OY), (1, OX + 1000.0, OY)], "uid long, x double, y double"
    )
    targets = spark.createDataFrame(
        [(10, OX + 30.0, OY + 40.0), (11, OX + 5000.0, OY)],
        "vid long, px double, py double",
    )
    snapped = {r["uid"]: r for r in snap_all(pts, targets, distance_col="d").collect()}
    assert (snapped[0]["x"], snapped[0]["y"]) == (OX + 30.0, OY + 40.0)
    assert snapped[0]["d"] == pytest.approx(50.0)
    within = {r["uid"]: r for r in snap_within_distance(pts, targets, 100.0).collect()}
    assert within[0]["snap_distance"] == pytest.approx(50.0)
    assert within[1]["snap_distance"] is None
    assert within[1]["x"] == OX + 1000.0  # unsnapped keeps original


def test_clean_clip_and_intersections(spark):
    df = spark.createDataFrame(
        [
            (0, bytearray(wkb.encode_polygon([box_ring(OX, OY, OX + 100, OY + 100)]))),
            (1, bytearray(wkb.encode_polygon([box_ring(OX + 500, OY, OX + 600, OY + 100)]))),
        ],
        "pid long, geometry binary",
    )
    mask = spark.createDataFrame(
        [(bytearray(wkb.encode_polygon([box_ring(OX + 50, OY - 10, OX + 560, OY + 110)])),)],
        "geometry binary",
    )
    clipped = {r["pid"]: r for r in clean_clip(df, mask).collect()}
    a0 = polygon_area(wkb.decode([clipped[0]["geometry"]]).geom_parts(0))
    a1 = polygon_area(wkb.decode([clipped[1]["geometry"]]).geom_parts(0))
    assert a0 == pytest.approx(50 * 100)
    assert a1 == pytest.approx(60 * 100)

    both = spark.createDataFrame(
        [
            (0, bytearray(wkb.encode_polygon([box_ring(OX, OY, OX + 100, OY + 100)]))),
            (1, bytearray(wkb.encode_polygon([box_ring(OX + 60, OY, OX + 160, OY + 100)]))),
            (2, bytearray(wkb.encode_polygon([box_ring(OX + 900, OY, OX + 950, OY + 50)]))),
        ],
        "pid long, geometry binary",
    )
    inter = get_intersections(both, "pid").collect()
    assert len(inter) == 2  # (0,1) and (1,0)
    for r in inter:
        assert polygon_area(wkb.decode([r["geometry"]]).geom_parts(0)) == pytest.approx(40 * 100)


def test_update_geometries(spark):
    rows = [
        (0, 0, bytearray(wkb.encode_polygon([box_ring(OX, OY, OX + 100, OY + 100)]))),
        (1, 1, bytearray(wkb.encode_polygon([box_ring(OX + 50, OY, OX + 150, OY + 100)]))),
        (2, 2, bytearray(wkb.encode_polygon([box_ring(OX + 100, OY, OX + 200, OY + 100)]))),
    ]
    df = spark.createDataFrame(rows, "ord long, pid long, geometry binary")
    out = {r["pid"]: r for r in update_geometries(df, "ord", "pid").collect()}
    a = {
        p: polygon_area(wkb.decode([out[p]["geometry"]]).geom_parts(0))
        if out[p]["geometry"] is not None
        else 0.0
        for p in out
    }
    assert a[0] == pytest.approx(10000.0)  # first keeps everything
    assert a[1] == pytest.approx(5000.0)  # loses overlap with 0
    assert a[2] == pytest.approx(5000.0)  # loses overlap with 1 (not 0)


def test_get_gaps(spark):
    # two polygons with a 20x100 gap between them
    df = spark.createDataFrame(
        [
            (0, bytearray(wkb.encode_polygon([box_ring(OX, OY, OX + 100, OY + 100)]))),
            (1, bytearray(wkb.encode_polygon([box_ring(OX + 120, OY, OX + 220, OY + 100)]))),
            # bridge top and bottom so the gap is enclosed
            (2, bytearray(wkb.encode_polygon([box_ring(OX, OY + 100, OX + 220, OY + 120)]))),
            (3, bytearray(wkb.encode_polygon([box_ring(OX, OY - 20, OX + 220, OY)]))),
        ],
        "pid long, geometry binary",
    )
    gaps = get_gaps(df.select("geometry")).collect()
    assert len(gaps) == 1
    assert polygon_area(wkb.decode([gaps[0]["geometry"]]).geom_parts(0)) == pytest.approx(
        20 * 100
    )


def test_eliminate_by_largest_and_smallest(spark):
    from ssb_sgis_spark.operators.eliminate import (
        eliminate_by_largest,
        eliminate_by_smallest,
    )

    keep = spark.createDataFrame(
        [
            (0, bytearray(wkb.encode_polygon([box_ring(OX, OY, OX + 200, OY + 100)]))),
            (1, bytearray(wkb.encode_polygon([box_ring(OX + 210, OY, OX + 260, OY + 100)]))),
        ],
        "pid long, geometry binary",
    )
    sliver = spark.createDataFrame(
        # touches both keepers (spans the 10m gap between them)
        [(bytearray(wkb.encode_polygon([box_ring(OX + 195, OY + 40, OX + 215, OY + 60)])),)],
        "geometry binary",
    )
    big = {r["pid"]: r for r in eliminate_by_largest(keep, sliver).collect()}
    a0 = polygon_area(wkb.decode([big[0]["geometry"]]).geom_parts(0))
    a1 = polygon_area(wkb.decode([big[1]["geometry"]]).geom_parts(0))
    assert a0 == pytest.approx(200 * 100 + 20 * 20 - 5 * 20)  # sliver joined minus overlap
    assert a1 == pytest.approx(50 * 100)

    small = {r["pid"]: r for r in eliminate_by_smallest(keep, sliver).collect()}
    a0s = polygon_area(wkb.decode([small[0]["geometry"]]).geom_parts(0))
    a1s = polygon_area(wkb.decode([small[1]["geometry"]]).geom_parts(0))
    assert a0s == pytest.approx(200 * 100)
    assert a1s == pytest.approx(50 * 100 + 20 * 20 - 5 * 20)


def test_eliminate_by_longest(spark):
    """The sliver shares a 100m border with keeper 0 (left) and a 40m
    border with keeper 1 (below) — longest-border elimination must pick
    keeper 0 even though keeper 1 is larger."""
    from ssb_sgis_spark.operators.eliminate import eliminate_by_longest

    keep = spark.createDataFrame(
        [
            # tall thin keeper left of the sliver: shares the full 100m edge
            (0, bytearray(wkb.encode_polygon([box_ring(OX, OY, OX + 50, OY + 100)]))),
            # big keeper below: shares only the sliver's 40m bottom edge
            (1, bytearray(wkb.encode_polygon([box_ring(OX, OY - 300, OX + 500, OY)]))),
        ],
        "pid long, geometry binary",
    )
    sliver = spark.createDataFrame(
        [(bytearray(wkb.encode_polygon([box_ring(OX + 50, OY, OX + 90, OY + 100)])),)],
        "geometry binary",
    )
    out = {r["pid"]: r for r in eliminate_by_longest(keep, sliver).collect()}
    a0 = polygon_area(wkb.decode([out[0]["geometry"]]).geom_parts(0))
    a1 = polygon_area(wkb.decode([out[1]["geometry"]]).geom_parts(0))
    assert a0 == pytest.approx(50 * 100 + 40 * 100)  # sliver went left
    assert a1 == pytest.approx(500 * 300)


def test_eliminate_keeps_isolated_by_default(spark):
    """remove_isolated=False (reference default, polygon_operations.py:212)
    keeps slivers that touch no keeper, with a null id."""
    from ssb_sgis_spark.operators.eliminate import (
        eliminate_by_largest,
        eliminate_by_longest,
    )

    keep = spark.createDataFrame(
        [(0, bytearray(wkb.encode_polygon([box_ring(OX, OY, OX + 100, OY + 100)])))],
        "pid long, geometry binary",
    )
    far = spark.createDataFrame(
        [(bytearray(wkb.encode_polygon([box_ring(OX + 900, OY, OX + 950, OY + 50)])),)],
        "geometry binary",
    )
    for fn in (eliminate_by_largest, eliminate_by_longest):
        rows = fn(keep, far).collect()
        assert len(rows) == 2, fn.__name__
        isolated = [r for r in rows if r["pid"] is None]
        assert len(isolated) == 1, fn.__name__
        a = polygon_area(wkb.decode([isolated[0]["geometry"]]).geom_parts(0))
        assert a == pytest.approx(50 * 50), fn.__name__
        assert len(fn(keep, far, remove_isolated=True).collect()) == 1, fn.__name__


def test_sort_long_first_and_nans_last(spark):
    from ssb_sgis_spark.operators.polygons import sort_long_first, sort_nans_last

    def seg(x0, y0, x1, y1):
        return bytearray(wkb.encode_linestring(np.array([[x0, y0], [x1, y1]])))

    df = spark.createDataFrame(
        [
            (0, seg(OX, OY, OX + 10, OY)),
            (1, seg(OX, OY, OX + 100, OY)),
            (2, seg(OX, OY, OX + 50, OY)),
        ],
        "lid long, geometry binary",
    )
    order = [r["lid"] for r in sort_long_first(df).collect()]
    assert order == [1, 2, 0]

    df2 = spark.createDataFrame(
        [(1, None, "a"), (2, 5, None), (3, 6, "c")],
        "i long, a int, b string",
    )
    got = [r["i"] for r in sort_nans_last(df2).collect()]
    assert got[0] == 3  # zero nulls first


def test_get_grouped_centroids(spark):
    from ssb_sgis_spark.operators.polygons import get_grouped_centroids

    df = spark.createDataFrame(
        [
            ("g1", bytearray(wkb.encode_polygon([box_ring(OX, OY, OX + 10, OY + 10)]))),
            ("g1", bytearray(wkb.encode_polygon([box_ring(OX + 20, OY, OX + 30, OY + 10)]))),
            ("g2", bytearray(wkb.encode_polygon([box_ring(OX, OY + 100, OX + 10, OY + 110)]))),
        ],
        "grp string, geometry binary",
    )
    out = {(r["grp"]): r["grouped_centroid"] for r in get_grouped_centroids(df, "grp").collect()}
    assert out["g1"] == f"{int(OX + 15)}_{int(OY + 5)}"
    assert out["g2"] == f"{int(OX + 5)}_{int(OY + 105)}"


def test_get_rough_centerlines_sliver(spark):
    """A 100x4 sliver's centerline runs along y=OY+2, spanning most of
    the sliver's length."""
    from ssb_sgis_spark.operators.polygons import get_rough_centerlines

    df = spark.createDataFrame(
        [(0, bytearray(wkb.encode_polygon([box_ring(OX, OY, OX + 100, OY + 4)])))],
        "pid long, geometry binary",
    )
    out = get_rough_centerlines(df, max_segment_length=2.0).collect()
    ga = wkb.decode([out[0]["geometry"]])
    coords = ga.geom_rings(0)[0]
    assert np.all(np.abs(coords[:, 1] - (OY + 2.0)) <= 2.0)  # near the midline
    span = coords[:, 0].max() - coords[:, 0].min()
    assert span >= 80  # runs along the sliver


def test_to_lines_split_cross_frame(spark):
    """Reference general.py:402-510 docstring example: two overlapping
    boxes -> 6 split line pieces (3 per frame), total length = both
    perimeters, each frame's rows carrying only its own column."""
    from ssb_sgis_spark.operators.polygons import to_lines_split

    p1 = spark.createDataFrame(
        [(1, bytearray(wkb.encode_polygon([box_ring(OX, OY, OX + 1, OY + 1)])))],
        "poly1 long, geometry binary",
    )
    p2 = spark.createDataFrame(
        [(1, bytearray(wkb.encode_polygon([box_ring(OX + 0.5, OY + 0.5, OX + 1.5, OY + 1.5)])))],
        "poly2 long, geometry binary",
    )
    rows = to_lines_split(p1, p2).collect()
    assert len(rows) == 6
    n1 = sum(1 for r in rows if r["poly1"] is not None)
    n2 = sum(1 for r in rows if r["poly2"] is not None)
    assert n1 == 3 and n2 == 3
    assert all((r["poly1"] is None) != (r["poly2"] is None) for r in rows)
    ga = wkb.decode([r["geometry"] for r in rows])
    total = float(np.sum(geom_length(ga)))
    assert total == pytest.approx(8.0)  # 2 box perimeters, nothing lost
    # split points are at the crossing coordinates
    verts = {tuple(v) for i in range(len(ga)) for v in ga.geom_rings(i)[0][[0, -1]]}
    assert (OX + 0.5, OY + 1.0) in verts and (OX + 1.0, OY + 0.5) in verts


def test_to_lines_split_single_frame_passthrough(spark):
    from ssb_sgis_spark.operators.polygons import to_lines, to_lines_split

    p1 = spark.createDataFrame(
        [(1, bytearray(wkb.encode_polygon([box_ring(OX, OY, OX + 1, OY + 1)])))],
        "poly1 long, geometry binary",
    )
    a = to_lines_split(p1).collect()
    b = to_lines(p1).collect()
    assert [bytes(r["geometry"]) for r in a] == [bytes(r["geometry"]) for r in b]


def test_overlay_grid_size_collapses_slivers(spark):
    """grid_size plumb-through (reference overlay.py:58-60): a 1e-6-wide
    overlap survives the default quantum but collapses at grid_size=1e-3."""
    from ssb_sgis_spark.operators.overlay import clean_overlay

    a = spark.createDataFrame(
        [(0, bytearray(wkb.encode_polygon([box_ring(OX, OY, OX + 10, OY + 10)])))],
        "aid long, geometry binary",
    )
    # right box overlaps the left by exactly 1e-4 in x
    b = spark.createDataFrame(
        [(0, bytearray(wkb.encode_polygon([box_ring(OX + 10 - 1e-4, OY, OX + 20, OY + 10)])))],
        "bid long, geometry binary",
    )
    dflt = clean_overlay(a, b, "intersection", add_area=True).collect()
    assert len(dflt) == 1 and dflt[0]["area"] == pytest.approx(1e-3, rel=1e-3)
    coarse = clean_overlay(
        a, b, "intersection", add_area=True, grid_size=1e-2
    ).collect()
    assert coarse == []


def test_to_lines_split_collinear_disjoint_no_spurious_cuts(spark):
    """Collinear-but-disjoint cross-frame boxes (grid data) must NOT mark
    vertex splits: the collinear projection parameters land outside [0,1]
    and never touch the segment (review regression)."""
    from ssb_sgis_spark.operators.polygons import to_lines_split

    # poly2 is an L whose bbox CONTAINS poly1's bbox (so the candidate
    # pair reaches the split kernel), but no edges intersect: poly2's
    # bottom edge (y=OY, x in [OX+2, OX+3]) is collinear-but-DISJOINT
    # with poly1's bottom edge (y=OY, x in [OX, OX+1]).  The old
    # one-sided vertex test saw the out-of-range collinear projections
    # (t = -2, -3) and split poly1 at a vertex nothing touches.
    p1 = spark.createDataFrame(
        [(1, bytearray(wkb.encode_polygon([box_ring(OX, OY, OX + 1, OY + 1)])))],
        "poly1 long, geometry binary",
    )
    ell = np.array(
        [
            (OX + 2, OY), (OX + 3, OY), (OX + 3, OY + 2),
            (OX - 1, OY + 2), (OX - 1, OY + 1.5), (OX + 2, OY + 1.5),
            (OX + 2, OY),
        ]
    )
    p2 = spark.createDataFrame(
        [(1, bytearray(wkb.encode_polygon([ell])))],
        "poly2 long, geometry binary",
    )
    rows = to_lines_split(p1, p2).collect()
    assert len(rows) == 2  # nothing actually intersects: no splits
    ga = wkb.decode([r["geometry"] for r in rows])
    lens = sorted(float(v) for v in geom_length(ga))
    assert lens[0] == pytest.approx(4.0)  # poly1 ring unbroken
    for g in range(2):
        assert len(ga.geom_rings(g)) == 1  # one unbroken piece each


# --------------------------------------------------- simplify / segmentize
def test_segmentize_line_exact_subdivision(spark):
    from ssb_sgis_spark.operators.polygons import segmentize

    line = np.array([(OX, OY), (OX + 10.0, OY)])
    df = spark.createDataFrame(
        [(0, bytearray(wkb.encode_linestring(line)))], "lid long, geometry binary"
    )
    out = wkb.decode([segmentize(df, 3.0).collect()[0]["geometry"]])
    ring = out.geom_rings(0)[0]
    # ceil(10/3)=4 equal subsegments of 2.5 -> 5 vertices
    assert len(ring) == 5
    assert np.allclose(ring[:, 0], OX + np.array([0, 2.5, 5.0, 7.5, 10.0]))
    assert np.allclose(ring[:, 1], OY)
    # original endpoints bit-exact
    assert ring[0, 0] == OX and ring[-1, 0] == OX + 10.0


def test_segmentize_polygon_preserves_area_and_closure(spark):
    from ssb_sgis_spark.operators.polygons import segmentize

    ring = box_ring(OX, OY, OX + 100, OY + 100)
    df = spark.createDataFrame(
        [(0, bytearray(wkb.encode_polygon([ring])))], "pid long, geometry binary"
    )
    out = wkb.decode([segmentize(df, 7.0).collect()[0]["geometry"]])
    r = out.geom_rings(0)[0]
    assert np.array_equal(r[0], r[-1])  # still closed
    # area unchanged; every segment <= 7
    d = np.hypot(np.diff(r[:, 0]), np.diff(r[:, 1]))
    assert d.max() <= 7.0 + 1e-9
    assert abs(polygon_area([[r]]) - 10000.0) < 1e-6


def test_simplify_drops_small_deviations_keeps_large(spark):
    from ssb_sgis_spark.operators.polygons import simplify

    zig = np.array(
        [(OX, OY), (OX + 10, OY + 0.5), (OX + 20, OY - 0.5), (OX + 30, OY + 5.0),
         (OX + 40, OY)]
    )
    df = spark.createDataFrame(
        [(0, bytearray(wkb.encode_linestring(zig)))], "lid long, geometry binary"
    )
    out = wkb.decode([simplify(df, 1.0).collect()[0]["geometry"]])
    r = out.geom_rings(0)[0]
    # true D-P: the spike splits the span, so (20,-0.5) deviates 3.78
    # from the (0,0)-(30,5) chord and survives; only (10,+0.5) drops
    assert [tuple(p) for p in r] == [
        (OX, OY),
        (OX + 20, OY - 0.5),
        (OX + 30, OY + 5.0),
        (OX + 40, OY),
    ]
    # tolerance above the spike -> straight segment
    out2 = wkb.decode([simplify(df, 6.0).collect()[0]["geometry"]])
    assert len(out2.geom_rings(0)[0]) == 2


def test_simplify_polygon_removes_collinear_keeps_area(spark):
    from ssb_sgis_spark.operators.polygons import simplify, segmentize

    ring = box_ring(OX, OY, OX + 100, OY + 100)
    df = spark.createDataFrame(
        [(0, bytearray(wkb.encode_polygon([ring])))], "pid long, geometry binary"
    )
    dense = segmentize(df, 5.0)
    back = wkb.decode([simplify(dense, 1e-9).collect()[0]["geometry"]])
    r = back.geom_rings(0)[0]
    assert len(r) == 5  # the 4 corners + closure: all inserted vertices gone
    assert abs(polygon_area([[r]]) - 10000.0) < 1e-6


def test_bounds_to_points_and_measured_columns(spark):
    line = np.array([(OX, OY), (OX + 30.0, OY + 40.0), (OX + 30.0, OY + 100.0)])
    geoms = [
        donut_wkb(OX, OY, 1000, 100),
        wkb.encode_linestring(line),
        wkb.encode_point(OX + 1.5, OY - 2.5),
        None,
    ]
    df = spark.createDataFrame(
        [(i, bytearray(g) if g is not None else None) for i, g in enumerate(geoms)],
        "pid long, geometry binary",
    )

    pts = {r["pid"]: r["geometry"] for r in bounds_to_points(df).collect()}
    assert pts[3] is None
    corners = wkb.decode([pts[1]])
    assert int(corners.types[0]) == wkb.T_POINT
    got = [tuple(p[0][0]) for p in corners.geom_parts(0)]
    x0, y0, x1, y1 = OX, OY, OX + 30.0, OY + 100.0
    assert got == [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    assert bytes(pts[1]) == wkb.encode_multipoint(np.array(got))

    ga = wkb.decode(geoms)
    measured = with_length(with_area(df), out="len").orderBy("pid").collect()
    assert [r["area"] for r in measured] == list(geom_area(ga))
    assert [r["len"] for r in measured] == list(geom_length(ga))

    empty = with_bounds(df.limit(0))
    assert empty.columns == ["pid", "geometry", "minx", "miny", "maxx", "maxy"]
    assert empty.count() == 0
