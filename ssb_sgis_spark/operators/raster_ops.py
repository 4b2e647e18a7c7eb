"""Raster ↔ vector bridge: rasterize, vectorize, gradient.

Reference: ``Raster.from_gdf`` (``raster/raster.py:317-383``, rasterio
``features.rasterize``), ``Raster.to_gdf`` (``raster.py:563-623``,
``features.shapes``), ``ElevationRaster.gradient``
(``elevationraster.py:13-87``).

The engine's raster representation is the tiled integer/float grid of
``sources/raster.py``: one row per TILE×TILE block, payload = row-major
cell values.  All three operators keep the raster distributed:

* :func:`rasterize_polygons` — the tile grid is generated distributed
  (``spark.range`` over tile indices); the (small) polygon side is
  decoded once and broadcast; each tile burns values by PIP of its cell
  CENTERS (rasterio ``all_touched=False`` center rule) in one vectorized
  kernel; later rows overwrite earlier (``MergeAlg.replace``).
* :func:`raster_to_polygons` — per tile, 4-connected regions of equal
  value become polygons (union of row-run rectangles through the boolean
  kernel).  Regions are NOT merged across tiles — pipe through
  ``dissexp_by_cluster`` for the global merge, keeping the heavy
  vectorization embarrassingly parallel.
* :func:`raster_gradient` — |d/dx| + |d/dy| per cell (np.gradient
  semantics).  Tiles exchange a 1-cell halo with their 8 neighbors (the
  gridbuffer halo-exchange pattern) so interior derivatives are exact at
  tile borders; true raster borders use numpy's one-sided differences.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import wkb
from ..kernels.geom import points_in_polygon
from .sjoin import _decode_polygon_boxes

_TILE_SCHEMA = (
    "tile_ix int, tile_iy int, nx int, ny int, payload binary"
)


def _decode_payload(row, dtype="<i4") -> np.ndarray:
    return np.frombuffer(bytes(row["payload"]), dtype=dtype).reshape(
        row["ny"], row["nx"]
    )


def _burn_tile(tile_ix, tile_iy, tile, ncx, ncy, x0, y0, res, fill, polys):
    """Burn one tile window; returns (ix0, iy0, vals[ny, nx])."""
    ix0 = int(tile_ix) * tile
    iy0 = int(tile_iy) * tile
    nx = min(tile, ncx - ix0)
    ny = min(tile, ncy - iy0)
    gx, gy = np.meshgrid(
        np.arange(ix0, ix0 + nx), np.arange(iy0, iy0 + ny), indexing="xy"
    )
    cx = x0 + (gx + 0.5) * res
    cy = y0 + (gy + 0.5) * res
    vals = np.full(cx.shape, fill, dtype=np.int32)
    tx0, ty0, tx1, ty1 = cx.min(), cy.min(), cx.max(), cy.max()
    for val, bb, edges in polys:  # row order: later replaces
        if bb[0] > tx1 or bb[2] < tx0 or bb[1] > ty1 or bb[3] < ty0:
            continue
        mask = points_in_polygon(cx.ravel(), cy.ravel(), edges).reshape(cx.shape)
        vals[mask] = int(val)
    return ix0, iy0, vals


def _tile_frame(spark, ntx: int, nty: int):
    """Tile-index frame born pre-partitioned (no repartition shuffle)."""
    return spark.range(
        ntx * nty,
        numPartitions=min(ntx * nty, spark.sparkContext.defaultParallelism),
    ).select(
        (F.col("id") % ntx).cast("int").alias("tile_ix"),
        (F.col("id") / ntx).cast("int").alias("tile_iy"),
    )


def rasterize_cells_df(
    polygons: DataFrame,
    value_col: str,
    res: float,
    x0: float,
    y0: float,
    ncx: int,
    ncy: int,
    tile: int = 64,
    fill: int = 0,
    geometry_col: str = "geometry",
) -> DataFrame:
    """Burn + explode fused: emit the non-fill cells ``(ix, iy, value)``
    directly from the burn kernel — one Python stage instead of the
    rasterize->decode->explode chain (each extra Arrow stage costs more
    than the whole burn at bench scale; at lake scale it's one fewer
    pass over every tile)."""
    import math

    spark = polygons.sparkSession
    bc = spark.sparkContext.broadcast(
        _decode_polygon_boxes(polygons, value_col, geometry_col)
    )
    ntx = math.ceil(ncx / tile)
    nty = math.ceil(ncy / tile)
    tiles = _tile_frame(spark, ntx, nty)

    def kernel(it):
        for pdf in it:
            outs = []
            for tix, tiy in zip(pdf["tile_ix"], pdf["tile_iy"]):
                ix0, iy0, vals = _burn_tile(
                    tix, tiy, tile, ncx, ncy, x0, y0, res, fill, bc.value
                )
                jy, jx = np.nonzero(vals != fill)
                outs.append(
                    pd.DataFrame(
                        {
                            "ix": (ix0 + jx).astype(np.int64),
                            "iy": (iy0 + jy).astype(np.int64),
                            "value": vals[jy, jx].astype(np.int64),
                        }
                    )
                )
            yield pd.concat(outs) if outs else pd.DataFrame(
                {"ix": [], "iy": [], "value": []}
            )

    return tiles.mapInPandas(kernel, schema="ix long, iy long, value long")


def rasterize_polygons(
    polygons: DataFrame,
    value_col: str,
    res: float,
    x0: float,
    y0: float,
    ncx: int,
    ncy: int,
    tile: int = 64,
    fill: int = 0,
    geometry_col: str = "geometry",
) -> DataFrame:
    """Burn polygon values into a tiled int32 raster (reference
    ``Raster.from_gdf``): cell (ix, iy) center = (x0+(ix+.5)res,
    y0+(iy+.5)res); a cell takes the value of the LAST polygon row
    containing its center (MergeAlg.replace), else ``fill``."""
    import math

    spark = polygons.sparkSession
    bc = spark.sparkContext.broadcast(
        _decode_polygon_boxes(polygons, value_col, geometry_col)
    )
    ntx = math.ceil(ncx / tile)
    nty = math.ceil(ncy / tile)
    tiles = _tile_frame(spark, ntx, nty)

    def kernel(it):
        for pdf in it:
            out = {"tile_ix": [], "tile_iy": [], "nx": [], "ny": [], "payload": []}
            for tix, tiy in zip(pdf["tile_ix"], pdf["tile_iy"]):
                _, _, vals = _burn_tile(
                    tix, tiy, tile, ncx, ncy, x0, y0, res, fill, bc.value
                )
                out["tile_ix"].append(tix)
                out["tile_iy"].append(tiy)
                out["ny"].append(vals.shape[0])
                out["nx"].append(vals.shape[1])
                out["payload"].append(bytearray(vals.astype("<i4").tobytes()))
            yield pd.DataFrame(out)

    return tiles.mapInPandas(kernel, schema=_TILE_SCHEMA)


def _label_regions(vals: np.ndarray) -> np.ndarray:
    """4-connected equal-value region labels (tile-local union-find)."""
    ny, nx = vals.shape
    labels = np.arange(ny * nx).reshape(ny, nx)
    parent = labels.ravel().copy()

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    flat = vals.ravel()
    for j in range(ny):
        base = j * nx
        for i in range(nx):
            a = base + i
            if i + 1 < nx and flat[a] == flat[a + 1]:
                union(a, a + 1)
            if j + 1 < ny and flat[a] == flat[a + nx]:
                union(a, a + nx)
    out = np.fromiter((find(a) for a in range(ny * nx)), dtype=np.int64)
    return out.reshape(ny, nx)


def raster_to_polygons(
    tiles: DataFrame,
    res: float,
    x0: float,
    y0: float,
    tile: int = 64,
    value_col: str = "value",
    dtype: str = "<i4",
) -> DataFrame:
    """Vectorize: one polygon per 4-connected same-value region per tile
    (reference ``Raster.to_gdf`` / rasterio ``features.shapes``).  Region
    geometry = union of per-row run rectangles (the engine's boolean
    kernel).  Cross-tile regions stay split — dissolve afterwards."""
    schema = T.StructType(
        [
            T.StructField(value_col, T.LongType()),
            T.StructField("geometry", T.BinaryType()),
        ]
    )

    def kernel(it):
        from ..kernels.boolean import union_all

        for pdf in it:
            vals_out, geoms = [], []
            for _, row in pdf.iterrows():
                vals = _decode_payload(row, dtype)
                labels = _label_regions(vals)
                ix0 = int(row["tile_ix"]) * tile
                iy0 = int(row["tile_iy"]) * tile
                for lab in np.unique(labels):
                    mask = labels == lab
                    v = vals[mask][0]
                    # row-run rectangles of the region
                    pieces = []
                    for j in np.flatnonzero(mask.any(axis=1)):
                        r = mask[j]
                        d = np.diff(np.concatenate([[0], r.view(np.int8), [0]]))
                        starts = np.flatnonzero(d == 1)
                        ends = np.flatnonzero(d == -1)
                        for s, e in zip(starts, ends):
                            bx0 = x0 + (ix0 + s) * res
                            bx1 = x0 + (ix0 + e) * res
                            by0 = y0 + (iy0 + j) * res
                            by1 = y0 + (iy0 + j + 1) * res
                            ring = np.array(
                                [
                                    [bx0, by0], [bx1, by0], [bx1, by1],
                                    [bx0, by1], [bx0, by0],
                                ]
                            )
                            pieces.append([[ring]])
                    parts = union_all(pieces)
                    if parts:
                        vals_out.append(int(v))
                        geoms.append(wkb.encode_geom(parts, wkb.T_POLYGON))
            yield pd.DataFrame({value_col: vals_out, "geometry": geoms})

    return tiles.mapInPandas(kernel, schema=schema)


def raster_gradient(
    tiles: DataFrame,
    res: float,
    degrees: bool = False,
    tile: int = 64,
    dtype: str = "<i4",
) -> DataFrame:
    """Slope |d/dx| + |d/dy| per cell (reference
    ``ElevationRaster.gradient`` — np.gradient with cell-size spacing;
    ``degrees=True`` converts via atan).  1-cell halo exchange between
    neighbor tiles makes borders exact; output payload is float64."""
    spark = tiles.sparkSession
    offs = [
        F.struct(F.lit(ox).alias("ox"), F.lit(oy).alias("oy"))
        for ox in (-1, 0, 1)
        for oy in (-1, 0, 1)
    ]
    # each tile contributes itself to its 8 neighbors' assembly groups
    contrib = (
        tiles.withColumn("_o", F.explode(F.array(*offs)))
        .select(
            (F.col("tile_ix") + F.col("_o.ox")).alias("gx"),
            (F.col("tile_iy") + F.col("_o.oy")).alias("gy"),
            "tile_ix", "tile_iy", "nx", "ny", "payload",
        )
        .filter((F.col("gx") >= 0) & (F.col("gy") >= 0))
    )

    schema = T.StructType(
        [
            T.StructField("tile_ix", T.IntegerType()),
            T.StructField("tile_iy", T.IntegerType()),
            T.StructField("nx", T.IntegerType()),
            T.StructField("ny", T.IntegerType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def assemble(key, pdf):
        gx, gy = int(key[0]), int(key[1])
        center = pdf[(pdf["tile_ix"] == gx) & (pdf["tile_iy"] == gy)]
        if not len(center):
            return pd.DataFrame({f.name: [] for f in schema.fields})
        crow = center.iloc[0]
        nx, ny = int(crow["nx"]), int(crow["ny"])
        pad = np.full((ny + 2, nx + 2), np.nan)
        for _, row in pdf.iterrows():
            vals = np.frombuffer(bytes(row["payload"]), dtype=dtype).reshape(
                int(row["ny"]), int(row["nx"])
            ).astype(np.float64)
            dx = (int(row["tile_ix"]) - gx) * tile
            dy = (int(row["tile_iy"]) - gy) * tile
            # paste the overlapping window into the padded frame
            ys = np.arange(int(row["ny"])) + dy + 1
            xs = np.arange(int(row["nx"])) + dx + 1
            yk = (ys >= 0) & (ys < ny + 2)
            xk = (xs >= 0) & (xs < nx + 2)
            if yk.any() and xk.any():
                pad[np.ix_(ys[yk], xs[xk])] = vals[np.ix_(np.flatnonzero(yk), np.flatnonzero(xk))]
        # shrink to the valid window (missing halo on true borders)
        have_l = not np.isnan(pad[1 : ny + 1, 0]).all()
        have_r = not np.isnan(pad[1 : ny + 1, nx + 1]).all()
        have_b = not np.isnan(pad[0, 1 : nx + 1]).all()
        have_t = not np.isnan(pad[ny + 1, 1 : nx + 1]).all()
        xs0 = 0 if have_l else 1
        xs1 = nx + 2 if have_r else nx + 1
        ys0 = 0 if have_b else 1
        ys1 = ny + 2 if have_t else ny + 1
        block = pad[ys0:ys1, xs0:xs1]
        gyv, gxv = np.gradient(block, res, res)
        grad = np.abs(gxv) + np.abs(gyv)
        if degrees:
            grad = np.degrees(np.arctan(grad))
        core = grad[(1 - ys0) : (1 - ys0) + ny, (1 - xs0) : (1 - xs0) + nx]
        return pd.DataFrame(
            {
                "tile_ix": [gx],
                "tile_iy": [gy],
                "nx": [nx],
                "ny": [ny],
                "payload": [bytearray(core.astype("<f8").tobytes())],
            }
        )

    return contrib.groupBy("gx", "gy").applyInPandas(assemble, schema=schema)
