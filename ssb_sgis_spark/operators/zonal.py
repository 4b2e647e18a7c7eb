"""Zonal statistics — raster ↔ vector bridge.

Reference: ``Raster.zonal`` (``raster/raster.py:474-514``, kernels
``raster/zonal.py:11-114``): clip the raster per polygon, aggregate the
flattened non-NaN array.  Spark mapping (SURVEY §2.12):
``polygons ⋈ tiles (bbox candidate join) → applyInPandas(mask + partial
agg) → groupBy(polygon) combine`` — the raster never leaves its tiles, a
polygon spanning many tiles aggregates tile partials, and the partial
sums are integers so the combine is exact regardless of order.

Cell membership = ray-casting PIP of the CELL CENTER against the polygon
(the same crossing-parity expression as everywhere in this engine), which
is the rasterio ``all_touched=False`` center rule.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.geom import points_in_polygon
from ..sources.raster import CELL, RZ_X0, RZ_Y0, TILE
from .sjoin import _decode_polygon_boxes


def zonal_stats(
    polygons: DataFrame,
    tiles: DataFrame,
    key_col: str = "muni_id",
    geometry_col: str = "geometry",
    x0: float = RZ_X0,
    y0: float = RZ_Y0,
    cell: float = CELL,
    tile: int = TILE,
) -> DataFrame:
    """Per-polygon (n_cells, value_sum, value_min, value_max) over the
    tiled integer raster.  The polygon side is collected + broadcast
    (thousands of rows, same stance as the PIP join); the tile side is
    the distributed one.

    ``x0/y0/cell/tile`` parameterize the grid georeferencing so
    file-backed rasters (:mod:`..sources.geotiff`) reuse the same
    kernel; defaults are the synthetic tile source's constants."""
    spark = polygons.sparkSession
    bc = spark.sparkContext.broadcast(
        _decode_polygon_boxes(polygons, key_col, geometry_col)
    )

    schema = T.StructType(
        [
            T.StructField(key_col, polygons.schema[key_col].dataType),
            T.StructField("n_cells", T.LongType()),
            T.StructField("value_sum", T.LongType()),
            T.StructField("value_min", T.LongType()),
            T.StructField("value_max", T.LongType()),
        ]
    )

    def kernel(it):
        for pdf in it:
            out = {key_col: [], "n_cells": [], "value_sum": [], "value_min": [], "value_max": []}
            # file-backed frames (sources/geotiff.py) carry explicit cell
            # origins so edge blocks of any height stay grid-exact; the
            # synthetic source derives them from the tile index
            has_origin = "ix0" in pdf.columns and "iy0" in pdf.columns
            for _, row in pdf.iterrows():
                ix0 = int(row["ix0"]) if has_origin else row["tile_ix"] * tile
                iy0 = int(row["iy0"]) if has_origin else row["tile_iy"] * tile
                nx, ny = row["nx"], row["ny"]
                vals = np.frombuffer(bytes(row["payload"]), dtype="<i4").reshape(ny, nx)
                gx, gy = np.meshgrid(
                    np.arange(ix0, ix0 + nx), np.arange(iy0, iy0 + ny), indexing="xy"
                )
                cx = x0 + (gx + 0.5) * cell
                cy = y0 + (gy + 0.5) * cell
                tx0, ty0 = cx.min(), cy.min()
                tx1, ty1 = cx.max(), cy.max()
                for key, bb, edges in bc.value:
                    if bb[0] > tx1 or bb[2] < tx0 or bb[1] > ty1 or bb[3] < ty0:
                        continue
                    # clip the PIP test to the polygon's bbox window — the
                    # ray cast then runs on the overlap cells only, not the
                    # whole tile per polygon
                    jx0 = max(int((bb[0] - x0) / cell) - ix0, 0)
                    jx1 = min(int((bb[2] - x0) / cell) - ix0 + 2, nx)
                    jy0 = max(int((bb[1] - y0) / cell) - iy0, 0)
                    jy1 = min(int((bb[3] - y0) / cell) - iy0 + 2, ny)
                    if jx0 >= jx1 or jy0 >= jy1:
                        continue
                    wx = cx[jy0:jy1, jx0:jx1].ravel()
                    wy = cy[jy0:jy1, jx0:jx1].ravel()
                    mask = points_in_polygon(wx, wy, edges)
                    if not mask.any():
                        continue
                    v = vals[jy0:jy1, jx0:jx1].ravel()[mask].astype(np.int64)
                    out[key_col].append(key)
                    out["n_cells"].append(int(mask.sum()))
                    out["value_sum"].append(int(v.sum()))
                    out["value_min"].append(int(v.min()))
                    out["value_max"].append(int(v.max()))
            yield pd.DataFrame(out)

    partials = tiles.mapInPandas(kernel, schema=schema)
    return partials.groupBy(key_col).agg(
        F.sum("n_cells").alias("n_cells"),
        F.sum("value_sum").alias("value_sum"),
        F.min("value_min").alias("value_min"),
        F.max("value_max").alias("value_max"),
    )
