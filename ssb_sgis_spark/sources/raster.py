"""Deterministic synthetic raster — tiled integer grid + SQL mirror.

Models the reference's rasterio-backed Raster (``raster/raster.py:64``) as
the engine's native representation: a DataFrame of fixed-size tiles
``(tile_ix, tile_iy, payload binary)`` where payload is a row-major
int32 block.  Cell value is closed-form —
``v(ix, iy) = (ix * 37 + iy * 17) % 1000`` — integer everywhere, so
zonal sums are EXACT in Spark, numpy and DuckDB alike.

Grid geometry: cell size ``CELL`` metres anchored at (RZ_X0, RZ_Y0);
cell (ix, iy) has its center at (RZ_X0 + (ix+0.5)*CELL, ...).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

RZ_X0, RZ_Y0 = 204000.0, 6564000.0
CELL = 500.0
NCX, NCY = 304, 304  # covers the municipality extent (152 km)
TILE = 64  # cells per tile edge


def cell_value_np(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return (ix * 37 + iy * 17) % 1000


def cell_value_sql(ix: str, iy: str) -> str:
    return f"(({ix}) * 37 + ({iy}) * 17) % 1000"


def raster_tiles_df(spark: SparkSession) -> DataFrame:
    """One row per TILE×TILE block; payload = int32 little-endian bytes,
    row-major with iy varying slowest."""
    import math

    ntx = math.ceil(NCX / TILE)
    nty = math.ceil(NCY / TILE)
    rows = []
    for ty in range(nty):
        for tx in range(ntx):
            ix0, iy0 = tx * TILE, ty * TILE
            nx = min(TILE, NCX - ix0)
            ny = min(TILE, NCY - iy0)
            gx, gy = np.meshgrid(
                np.arange(ix0, ix0 + nx), np.arange(iy0, iy0 + ny), indexing="xy"
            )
            vals = cell_value_np(gx, gy).astype("<i4")
            rows.append((tx, ty, nx, ny, bytearray(vals.tobytes())))
    return spark.createDataFrame(
        rows, "tile_ix int, tile_iy int, nx int, ny int, payload binary"
    )
