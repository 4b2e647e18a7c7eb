"""Grid / tiling operators (reference: ``sgis/geopandas_tools/bounds.py``).

* ``add_grid_id`` (``bounds.py:341-372``) — SSBID assignment as ONE native
  column expression (no UDF; stays in whole-stage codegen).
* ``make_ssb_grid`` (``bounds.py:262-338``) — the grid polygons themselves
  as a generated table (spark.range × arithmetic → WKB boxes).
* ``make_grid_from_bbox`` / ``make_grid`` (``bounds.py:176-259``).
* ``bounds_to_polygon`` — per-row envelope (``bounds.py:375-410``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cells import ssb_grid_id_col
from ..kernels import wkb


def add_grid_id(
    df: DataFrame, gridsize: int = 1000, x_col: str = "x", y_col: str = "y",
    out_col: str = "SSBID",
) -> DataFrame:
    """Assign the Statistics-Norway grid id without building polygons —
    parity with ``bounds.py:341-372`` (including the +2_000_000 false
    easting and string concatenation)."""
    return df.withColumn(out_col, ssb_grid_id_col(F.col(x_col), F.col(y_col), gridsize))


def make_grid_from_bbox(
    spark: SparkSession,
    minx: float,
    miny: float,
    maxx: float,
    maxy: float,
    gridsize: float,
) -> DataFrame:
    """Regular polygon grid over a bbox (``bounds.py:176-213``): a generated
    table — spark.range cross arithmetic, geometry encoded per Arrow batch."""
    nx = int(np.ceil((maxx - minx) / gridsize))
    ny = int(np.ceil((maxy - miny) / gridsize))
    cells = (
        spark.range(nx * ny)
        .select(
            (F.col("id") % nx).alias("ix"),
            (F.col("id") / nx).cast("long").alias("iy"),
        )
        .select(
            (F.lit(minx) + F.col("ix") * gridsize).alias("minx"),
            (F.lit(miny) + F.col("iy") * gridsize).alias("miny"),
        )
        .select(
            "minx",
            "miny",
            (F.col("minx") + gridsize).alias("maxx"),
            (F.col("miny") + gridsize).alias("maxy"),
        )
    )
    return bounds_to_polygon(cells)


def make_grid(df_bounds: tuple, gridsize: float, spark: SparkSession) -> DataFrame:
    """Grid over an object's (int-rounded) total bounds (``bounds.py:216-259``
    rounds bounds down/up to whole gridsize multiples)."""
    minx, miny, maxx, maxy = df_bounds
    minx = np.floor(minx / gridsize) * gridsize
    miny = np.floor(miny / gridsize) * gridsize
    return make_grid_from_bbox(spark, minx, miny, maxx, maxy, gridsize)


def make_ssb_grid(
    spark: SparkSession,
    minx: float,
    miny: float,
    maxx: float,
    maxy: float,
    gridsize: int = 1000,
) -> DataFrame:
    """SSB grid polygons + SSBID over a bbox (``bounds.py:262-338``; CRS
    25833 is implicit — this engine works in one planar CRS throughout)."""
    minx = float(np.floor((minx + 2_000_000) / gridsize) * gridsize - 2_000_000)
    miny = float(np.floor(miny / gridsize) * gridsize)
    grid = make_grid_from_bbox(spark, minx, miny, maxx, maxy, float(gridsize))
    cx = (F.col("minx") + F.col("maxx")) / 2
    cy = (F.col("miny") + F.col("maxy")) / 2
    return grid.withColumn("SSBID", ssb_grid_id_col(cx, cy, gridsize))


def bounds_to_polygon(df: DataFrame) -> DataFrame:
    """Envelope WKB per row from (minx, miny, maxx, maxy) columns
    (``bounds.py:375-410``).  Arrow-batched numpy encode."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    schema = StructType(df.schema.fields + [StructField("geometry", BinaryType())])

    def kernel(iterator):
        for pdf in iterator:
            pdf = pdf.copy()
            pdf["geometry"] = wkb.encode_boxes(
                pdf["minx"], pdf["miny"], pdf["maxx"], pdf["maxy"]
            )
            yield pdf

    return df.mapInPandas(kernel, schema=schema)


def get_total_bounds(df: DataFrame, x_col: str = "x", y_col: str = "y"):
    """Combined bounds (``bounds.py:500-510``) — one native agg."""
    row = df.agg(
        F.min(x_col).alias("minx"),
        F.min(y_col).alias("miny"),
        F.max(x_col).alias("maxx"),
        F.max(y_col).alias("maxy"),
    ).collect()[0]
    return (row.minx, row.miny, row.maxx, row.maxy)


def points_in_bounds(spark: SparkSession, bbox, n: int) -> DataFrame:
    """n x n meshgrid of points over a bbox (``bounds.py:513-522``)."""
    minx, miny, maxx, maxy = bbox
    return (
        spark.range(n * n)
        .select(
            (F.col("id") % n).alias("ix"),
            (F.col("id") / n).cast("long").alias("iy"),
        )
        .select(
            F.col("ix"),
            F.col("iy"),
            (F.lit(minx) + F.col("ix") * ((maxx - minx) / max(n - 1, 1))).alias("x"),
            (F.lit(miny) + F.col("iy") * ((maxy - miny) / max(n - 1, 1))).alias("y"),
        )
    )
