"""Buffer kernel vs closed-form areas (reference semantics: GEOS
buffer(distance, resolution=50) — buffer_dissolve_explode.py:303-335)."""

import numpy as np
import pytest

from ssb_sgis_spark.kernels.boolean import polygon_area, union_all
from ssb_sgis_spark.kernels.buffer import (
    buffer_parts,
    disc,
    disc_area,
)
from ssb_sgis_spark.kernels.wkb import T_LINE, T_POINT, T_POLYGON


def test_point_buffer_area():
    out = buffer_parts([[np.array([[3.0, 4.0]])]], T_POINT, 2.0, quad_segs=50)
    assert polygon_area(out) == pytest.approx(disc_area(2.0, 50), rel=1e-12)
    # inscribed 200-gon is within 0.05% of the true circle
    assert polygon_area(out) == pytest.approx(np.pi * 4.0, rel=5e-4)


def test_two_point_union_lens():
    """Union of two overlapping discs vs the closed-form lens area."""
    r, d = 10.0, 12.0
    a = [[disc(0.0, 0.0, r, 50)]]
    b = [[disc(d, 0.0, r, 50)]]
    out = union_all([a, b])
    lens = 2 * r * r * np.arccos(d / (2 * r)) - (d / 2) * np.sqrt(4 * r * r - d * d)
    expected = 2 * np.pi * r * r - lens
    assert polygon_area(out) == pytest.approx(expected, rel=2e-3)
    assert len(out) == 1


def test_line_buffer_capsule():
    line = np.array([(0.0, 0.0), (30.0, 0.0)])
    out = buffer_parts([[line]], T_LINE, 3.0, quad_segs=50)
    expected = 2 * 3.0 * 30.0 + np.pi * 9.0  # rectangle + two half-discs
    assert polygon_area(out) == pytest.approx(expected, rel=1e-3)


def test_polyline_buffer_bend():
    line = np.array([(0.0, 0.0), (20.0, 0.0), (20.0, 20.0)])
    out = buffer_parts([[line]], T_LINE, 2.0, quad_segs=50)
    # L-shape capsule: 2r*len + pi r^2 (caps) minus the inner-corner overlap
    # + outer round join — net formula: 2r*L + pi r^2 for right angle bend
    # (outer quarter-disc join exactly offsets nothing; inner overlap r^2
    #  counted twice minus quarter disc)… use rasterized truth instead.
    g = np.linspace(-3.0, 23.0, 1300)
    xs, ys = np.meshgrid(g, g, indexing="ij")

    def dist_seg(px, py, a, b):
        ab = b - a
        t = ((px - a[0]) * ab[0] + (py - a[1]) * ab[1]) / (ab @ ab)
        t = np.clip(t, 0, 1)
        return np.hypot(px - (a[0] + t * ab[0]), py - (a[1] + t * ab[1]))

    d1 = dist_seg(xs, ys, line[0], line[1])
    d2 = dist_seg(xs, ys, line[1], line[2])
    truth = ((np.minimum(d1, d2) <= 2.0).mean()) * 26.0 * 26.0
    assert polygon_area(out) == pytest.approx(truth, rel=5e-3)


def test_polygon_buffer_rounded_box():
    box = np.array([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)], dtype=float)
    out = buffer_parts([[box]], T_POLYGON, 2.0, quad_segs=50)
    expected = 100.0 + 4 * 10 * 2.0 + np.pi * 4.0
    assert polygon_area(out) == pytest.approx(expected, rel=1e-3)
    assert len(out) == 1 and len(out[0]) == 1


def test_polygon_buffer_hole_shrinks_and_vanishes():
    ext = np.array([(0, 0), (20, 0), (20, 20), (0, 20), (0, 0)], dtype=float)
    hole = np.array([(8, 8), (8, 12), (12, 12), (12, 8), (8, 8)], dtype=float)  # CW
    # r=1: hole 4x4 shrinks to ~2x2 with rounded (inward) corners
    out = buffer_parts([[ext, hole]], T_POLYGON, 1.0, quad_segs=50)
    hole_area = 4.0 - (4 - np.pi)  # 2x2 minus 4 quarter-circle fillets ≈ 2x2 rounded-in
    # shrunk hole = square side 2 with corners *rounded outward* (area = 4 - (4 - pi))
    expected = (400.0 + 4 * 20 * 1.0 + np.pi) - hole_area
    assert polygon_area(out) == pytest.approx(expected, rel=2e-3)
    assert len(out) == 1 and len(out[0]) == 2
    # r=3: hole (4x4) vanishes entirely (thinner than 2r)
    out2 = buffer_parts([[ext, hole]], T_POLYGON, 3.0, quad_segs=20)
    assert len(out2) == 1 and len(out2[0]) == 1


def _box(x0, y0, x1, y1):
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=float
    )


def test_negative_buffer_square():
    """erode(100x100, 10) = 80x80 exactly (no arcs on convex erosion)."""
    out = buffer_parts([[_box(0, 0, 100, 100)]], T_POLYGON, -10.0)
    assert polygon_area(out) == pytest.approx(80 * 80)
    # eroding past the inradius leaves nothing
    assert buffer_parts([[_box(0, 0, 100, 100)]], T_POLYGON, -60.0) == []


def test_negative_buffer_hole_grows_and_neck_splits():
    holed = [[_box(0, 0, 100, 100), _box(40, 40, 60, 60)[::-1]]]
    out = buffer_parts(holed, T_POLYGON, -5.0)
    # outer shrinks to 90x90; hole grows to 30x30 with corners rounded
    # outward by r=5 (area 4*(25 - pi*25/4) larger than the sharp square)
    expected = 90 * 90 - (30 * 30 - 4 * (25 - np.pi * 25 / 4))
    assert polygon_area(out) == pytest.approx(expected, rel=2e-3)
    # two 40x40 blobs joined by a 4m-wide neck: erosion by 5 severs it
    neck = [[np.array(
        [[0, 0], [40, 0], [40, 18], [60, 18], [60, 0], [100, 0], [100, 40],
         [60, 40], [60, 22], [40, 22], [40, 40], [0, 40], [0, 0]], dtype=float
    )]]
    parts = buffer_parts(neck, T_POLYGON, -5.0)
    assert len(parts) == 2
    assert polygon_area(parts) == pytest.approx(2 * 30 * 30, rel=1e-3)


def test_close_thin_holes(spark):
    from ssb_sgis_spark.kernels import wkb
    from ssb_sgis_spark.operators.polygons import close_thin_holes

    thin = _box(10, 10, 90, 12)[::-1]     # 2m wide -> thin at tolerance 5
    fat = _box(10, 20, 90, 60)[::-1]      # 40m wide -> kept
    df = spark.createDataFrame(
        [(0, bytearray(wkb.encode_polygon([_box(0, 0, 100, 100), thin, fat])))],
        "pid long, geometry binary",
    )
    out = close_thin_holes(df, 5.0).collect()
    ga = wkb.decode([out[0]["geometry"]])
    rings = ga.geom_parts(0)[0]
    assert len(rings) == 2  # exterior + fat hole; thin hole closed
