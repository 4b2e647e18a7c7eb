"""Grid/tiling operator tests (reference bounds.py semantics)."""

import numpy as np
from pyspark.sql import functions as F

from ssb_sgis_spark.cells import ssb_grid_id_np
from ssb_sgis_spark.kernels import geom, wkb
from ssb_sgis_spark.operators.grid import (
    add_grid_id,
    bounds_to_polygon,
    get_total_bounds,
    make_grid_from_bbox,
    make_ssb_grid,
    points_in_bounds,
)
from ssb_sgis_spark.sources.pages import pages_df

SF = "/root/testdata/sf0.001"


def test_add_grid_id_parity(spark):
    pdf = add_grid_id(pages_df(spark, SF), gridsize=5000).toPandas()
    want = ssb_grid_id_np(pdf["x"].to_numpy(), pdf["y"].to_numpy(), 5000)
    assert (pdf["SSBID"].to_numpy() == want).all()


def test_make_grid_covers_bbox(spark):
    grid = make_grid_from_bbox(spark, 0, 0, 10000, 8000, 1000).toPandas()
    assert len(grid) == 10 * 8
    ga = wkb.decode(list(grid["geometry"]))
    assert np.allclose(geom.area(ga), 1000 * 1000)
    b = geom.bounds(ga)
    assert b[:, 0].min() == 0 and b[:, 2].max() == 10000
    assert b[:, 1].min() == 0 and b[:, 3].max() == 8000


def test_make_ssb_grid_ids_match_centroids(spark):
    grid = make_ssb_grid(spark, 100000, 6500000, 103000, 6503000, 1000).toPandas()
    ga = wkb.decode(list(grid["geometry"]))
    c = geom.centroid(ga)
    want = ssb_grid_id_np(c[:, 0], c[:, 1], 1000)
    assert (grid["SSBID"].to_numpy() == want).all()


def test_total_bounds(spark):
    pts = points_in_bounds(spark, (0, 0, 100, 50), 5)
    assert get_total_bounds(pts) == (0.0, 0.0, 100.0, 50.0)
    assert pts.count() == 25


def test_bounds_to_polygon_roundtrip(spark):
    rows = [(1.0, 2.0, 11.0, 22.0), (-3.5, 250000.25, 0.0, 6600000.5)]
    df = spark.createDataFrame(rows, "minx double, miny double, maxx double, maxy double")
    out = bounds_to_polygon(df).toPandas()
    ga = wkb.decode(list(out["geometry"]))
    assert np.allclose(geom.bounds(ga)[0], [1, 2, 11, 22])
    assert np.allclose(geom.area(ga)[0], 200.0)
    for (x0, y0, x1, y1), got in zip(rows, out["geometry"]):
        ring = np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)])
        assert bytes(got) == wkb.encode_polygon([ring])
