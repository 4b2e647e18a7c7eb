"""Reference-name parity layer: the last sgis flat-API names re-expressed
over this engine's DataFrame convention (WKB ``binary`` geometry columns).

Each function keeps the reference's NAME and call shape so a user of
``import sgis as sg`` can switch imports and keep their code; the
implementations are Spark-idiomatic, not ports.  Reference anchors:
``geometry_types.py:130-196`` (get_geom_type / is_single_geom_type),
``general.py:28-130,344-380`` (get_common_crs / drop_inactive_geometry_
columns / rename_geometry_if / random_points), ``bounds.py:442-500``
(to_bbox), ``neighbors.py:385-440`` (k_nearest_neighbors array API),
``parallel/parallel.py:30-120`` (Parallel), ``io/opener.py:13``
(opener), ``raster/elevationraster.py`` (ElevationRaster).
"""

from __future__ import annotations

import numbers
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .kernels import wkb as _wkb
from .kernels.geom import bounds as _geom_bounds
from .operators.polygons import with_geom_type
from .sources.geotiff import Raster
from .sources.pages import LCG_A, LCG_C, LCG_M

# --------------------------------------------------------------- geom types


def get_geom_type(df: DataFrame, geometry_col: str = "geometry") -> str:
    """"polygon" / "line" / "point" / "mixed" over the whole frame
    (reference ``geometry_types.py:130-172``; empties don't break a
    uniform class, like the reference's None entries)."""
    rows = (
        with_geom_type(df.select(geometry_col), geometry_col)
        .groupBy("geom_type")
        .count()
        .collect()
    )
    kinds = {r["geom_type"] for r in rows} - {"empty"}
    return kinds.pop() if len(kinds) == 1 else "mixed"


def is_single_geom_type(df: DataFrame, geometry_col: str = "geometry") -> bool:
    """True when every geometry is the same class (multi/single alike) —
    reference ``geometry_types.py:175-196``."""
    return get_geom_type(df, geometry_col) != "mixed"


# --------------------------------------------------------------------- bbox


def to_bbox(obj) -> tuple[float, float, float, float]:
    """(minx, miny, maxx, maxy) from a DataFrame with a geometry column,
    a 4-iterable of numbers, or a dict-like with minx/../maxy or
    xmin/../ymax keys — reference ``bounds.py:442-500``."""
    if isinstance(obj, DataFrame):
        if "geometry" in obj.columns:
            pdf = obj.select("geometry").toPandas()
            bb = _geom_bounds(_wkb.decode(pdf["geometry"].tolist()))
            return (
                float(np.nanmin(bb[:, 0])), float(np.nanmin(bb[:, 1])),
                float(np.nanmax(bb[:, 2])), float(np.nanmax(bb[:, 3])),
            )
        row = obj.agg(
            F.min("x"), F.min("y"), F.max("x"), F.max("y")
        ).first()
        return tuple(float(v) for v in row)
    if hasattr(obj, "__iter__") and not hasattr(obj, "keys"):
        vals = list(obj)
        if len(vals) == 4 and all(isinstance(v, numbers.Number) for v in vals):
            return tuple(float(v) for v in vals)
    for keys in (("minx", "miny", "maxx", "maxy"), ("xmin", "ymin", "xmax", "ymax")):
        try:
            return tuple(float(np.min(obj[k]) if i < 2 else np.max(obj[k]))
                         for i, k in enumerate(keys))
        except (KeyError, TypeError, IndexError):
            pass
    raise ValueError(f"cannot convert {type(obj)} to bbox")


# ----------------------------------------------------------------------- crs
# The engine tracks CRS as Spark COLUMN METADATA on the geometry column —
# the DataFrame-native equivalent of GeoDataFrame.crs.


def set_crs(df: DataFrame, crs: str, geometry_col: str = "geometry") -> DataFrame:
    return df.withMetadata(geometry_col, {"crs": crs})


def get_crs(df: DataFrame, geometry_col: str = "geometry") -> str | None:
    try:
        return df.schema[geometry_col].metadata.get("crs")
    except KeyError:
        return None


def get_common_crs(iterable, strict: bool = False):
    """The single non-null crs of the inputs (DataFrames with column-
    metadata crs, objects with a ``.crs`` attribute, or plain strings);
    raises ValueError on conflict — reference ``general.py:28-80``."""
    crs = set()
    for obj in iterable:
        if isinstance(obj, DataFrame):
            crs.add(get_crs(obj))
        elif hasattr(obj, "crs"):
            crs.add(obj.crs)
        else:
            crs.add(obj)
    if strict and None in crs and len(crs) > 1:
        raise ValueError(f"mixed crs with strict=True: {crs}")
    truthy = {c for c in crs if c}
    if len(truthy) > 1:
        raise ValueError(f"more than one crs: {truthy}")
    return truthy.pop() if truthy else None


# ------------------------------------------------------- geometry bookkeeping


def _geometryish(df: DataFrame) -> list[str]:
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.BinaryType) and "geom" in f.name.lower()
    ]


def drop_inactive_geometry_columns(
    df: DataFrame, geometry_col: str = "geometry"
) -> DataFrame:
    """Drop every geometry-convention binary column except the active one
    (reference ``general.py:108-116``).  Only columns NAMED like
    geometry are considered: arbitrary binary payloads (html, media)
    are not geometries here."""
    drop = [c for c in _geometryish(df) if c != geometry_col]
    return df.drop(*drop) if drop else df


def rename_geometry_if(df: DataFrame) -> DataFrame:
    """Ensure the active geometry column is called "geometry"
    (reference ``general.py:118-130``): no-op when present, rename when
    exactly one geometry-convention column exists, raise otherwise."""
    if "geometry" in df.columns:
        return df
    cands = _geometryish(df)
    if len(cands) == 1:
        return df.withColumnRenamed(cands[0], "geometry")
    raise ValueError(f"no single geometry column to rename: {cands}")


# -------------------------------------------------------------- random points


def random_points(spark: SparkSession, n: int, loc: float = 0.5) -> DataFrame:
    """n deterministic pseudo-random points uniform in [0, 2*loc) per
    axis (reference ``general.py:344-380``; deterministic LCG instead of
    np.random so runs are reproducible and oracle-able).  Columns:
    (pid, x, y, geometry WKB point) — generated distributedly with
    spark.range, no driver-side materialization."""
    df = spark.range(n).withColumnRenamed("id", "pid")
    h1 = (F.col("pid") * LCG_A + LCG_C) % LCG_M
    df = df.withColumn("_h1", h1).withColumn("_h2", (F.col("_h1") * LCG_A + LCG_C) % LCG_M)
    span = 2.0 * float(loc)
    df = df.select(
        "pid",
        (F.col("_h1").cast("double") / float(LCG_M) * span).alias("x"),
        (F.col("_h2").cast("double") / float(LCG_M) * span).alias("y"),
    )
    from .operators.geomtable import xy_to_point_wkb

    return xy_to_point_wkb(df)


# ------------------------------------------------------------- array-kNN API


def k_nearest_neighbors(
    from_array: np.ndarray, to_array: np.ndarray, k: int | None = None
) -> pd.DataFrame:
    """The reference's array-level kNN (``neighbors.py:385-440``):
    (n, 2) coordinate arrays in, tidy (i, j, distance, k) frame out,
    ties on (distance, j).  Driver-side numpy — the distributed path is
    get_k_nearest_neighbors (broadcast, or the ring-escalation scale
    path ``knn_cellwise`` / ``knn_cellwise_haversine`` on big right
    sides)."""
    from .operators.knn import _topk_block

    fa = np.asarray(from_array, dtype=np.float64)
    ta = np.asarray(to_array, dtype=np.float64)
    kk = min(k or len(ta), len(ta))
    pos, dist = _topk_block(fa[:, 0], fa[:, 1], ta[:, 0], ta[:, 1], kk)
    n = len(fa)
    return pd.DataFrame(
        {
            "i": np.repeat(np.arange(n), kk),
            "j": pos.ravel(),
            "distance": dist.ravel(),
            "k": np.tile(np.arange(1, kk + 1), n),
        }
    )


# ------------------------------------------------------------------- opener


@contextmanager
def opener(path, mode: str = "rb"):
    """File opener context manager (reference ``io/opener.py:13`` opens
    GCS objects; local filesystem is the sandbox equivalent)."""
    f = open(path, mode)  # noqa: SIM115
    try:
        yield f
    finally:
        f.close()


# ------------------------------------------------------------------ Parallel


class Parallel:
    """Reference ``parallel/parallel.py:30-120`` — run a function over an
    iterable in parallel.  Here the backend IS the Spark cluster:
    ``sc.parallelize(items, processes).map(func)`` — the driver-side
    multiprocessing pool of the reference becomes executor tasks, so the
    same call shape scales past one machine."""

    def __init__(self, processes: int, backend: str = "spark", **kwargs):
        self.processes = max(int(processes), 1)
        self.backend = backend
        self.kwargs = kwargs

    def _spark(self) -> SparkSession:
        return SparkSession.builder.getOrCreate()

    def map(self, func, iterable, kwargs: dict | None = None) -> list:
        kw = kwargs or {}
        items = list(iterable)
        if not items:
            return []
        if self.processes == 1:  # reference: processes=1 = no parallelism
            return [func(it, **kw) for it in items]
        sc = self._spark().sparkContext
        return sc.parallelize(items, min(self.processes, len(items))).map(
            lambda it: func(it, **kw)
        ).collect()

    def starmap(self, func, iterable, kwargs: dict | None = None) -> list:
        kw = kwargs or {}
        return self.map(lambda args: func(*args, **kw), iterable)


# ------------------------------------------------------------ ElevationRaster


class ElevationRaster(Raster):
    """Reference ``ElevationRaster``: a Raster whose cells are elevations,
    adding terrain derivatives."""

    def gradient(self, degrees: bool = False) -> DataFrame:
        from .operators.raster_ops import raster_gradient

        if self.meta.tile_w != self.meta.tile_h:
            # the halo exchange indexes neighbor tiles by ONE block size;
            # stripped TIFFs (tile_h = RowsPerStrip != width) would paste
            # neighbors at wrong offsets — refuse rather than mis-shade
            raise NotImplementedError(
                "gradient needs square raster blocks; re-tile the file "
                f"(got {self.meta.tile_w}x{self.meta.tile_h})"
            )
        return raster_gradient(
            self.tiles(),
            res=self.meta.cell,
            degrees=degrees,
            tile=self.meta.tile_w,
            dtype=self.meta.dtype,
        )
