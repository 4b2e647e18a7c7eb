"""Table-level geometry plumbing: bounds, areas, cell covers, explode.

These are the DataFrame-native equivalents of the reference's hygiene /
bookkeeping layer (``sgis/geopandas_tools/general.py:137-222`` clean_geoms,
``geometry_types.py:10-22`` make_all_singlepart, ``bounds.py:375-510``).
Geometry stays WKB ``binary``; decode happens once per Arrow batch inside
``mapInPandas`` (vectorized numpy kernels — no per-row Python).

The bbox **cell cover** here is the scale-critical piece: after one
decode pass materializes (minx, miny, maxx, maxy) as native columns, the
candidate cells of each geometry are produced by *pure column arithmetic*
(`sequence` × 2 + `explode` + Morton interleave) — the big side of an
overlay never ships WKB through Python again, and Catalyst keeps the
whole pipeline in codegen until the final refine kernel.  The side that
sets a candidate join's plan is decoded once too: :func:`side_profile`
pins it with one ``localCheckpoint`` whose job also observes the row count
and median bbox span that pick the broadcast and the cell resolution, and
the join reads that checkpoint.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cells import cell_index_col, cell_size, MAX_RES, DOMAIN_SIZE
from ..kernels import wkb
from ..kernels.geom import area as geom_area, bounds as geom_bounds, length as geom_length


def with_bounds(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Append (minx, miny, maxx, maxy) — one Arrow-batched decode pass.

    Fast path: if all four bound columns already exist they are trusted
    and the decode is skipped entirely.  This is the engine's contract for
    geometry tables at scale: decode WKB ONCE, carry bounds (and cells) as
    native columns ever after — a mapInPandas hop on the hot side costs
    ~10x the equivalent native projection (measured at sf0.1)."""
    if all(c in df.columns for c in ("minx", "miny", "maxx", "maxy")):
        return df
    fields = df.schema.fields + [
        T.StructField(c, T.DoubleType()) for c in ("minx", "miny", "maxx", "maxy")
    ]
    schema = T.StructType(fields)

    def kernel(it):
        for pdf in it:
            ga = wkb.decode(pdf[geometry_col].tolist())
            bb = geom_bounds(ga)
            out = pdf.copy()
            out["minx"], out["miny"], out["maxx"], out["maxy"] = (
                bb[:, 0],
                bb[:, 1],
                bb[:, 2],
                bb[:, 3],
            )
            yield out

    return df.mapInPandas(kernel, schema=schema)


def with_area(df: DataFrame, geometry_col: str = "geometry", out: str = "area") -> DataFrame:
    fields = df.schema.fields + [T.StructField(out, T.DoubleType())]

    def kernel(it):
        for pdf in it:
            ga = wkb.decode(pdf[geometry_col].tolist())
            o = pdf.copy()
            o[out] = geom_area(ga)
            yield o

    return df.mapInPandas(kernel, schema=T.StructType(fields))


def with_length(df: DataFrame, geometry_col: str = "geometry", out: str = "length") -> DataFrame:
    fields = df.schema.fields + [T.StructField(out, T.DoubleType())]

    def kernel(it):
        for pdf in it:
            ga = wkb.decode(pdf[geometry_col].tolist())
            o = pdf.copy()
            o[out] = geom_length(ga)
            yield o

    return df.mapInPandas(kernel, schema=T.StructType(fields))


def xy_to_point_wkb(
    df: DataFrame, x_col: str = "x", y_col: str = "y", out: str = "geometry"
) -> DataFrame:
    """Encode (x, y) columns as WKB points — the bridge from the native
    point table to the WKB operator surface."""
    fields = df.schema.fields + [T.StructField(out, T.BinaryType())]

    def kernel(it):
        for pdf in it:
            o = pdf.copy()
            o[out] = [
                wkb.encode_point(float(x), float(y))
                for x, y in zip(pdf[x_col], pdf[y_col])
            ]
            yield o

    return df.mapInPandas(kernel, schema=T.StructType(fields))


def make_all_singlepart(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Explode multi-geometries to single parts (reference
    ``geometry_types.py:10-22``); other columns are repeated."""
    schema = df.schema

    def kernel(it):
        for pdf in it:
            ga = wkb.decode(pdf[geometry_col].tolist())
            rows, geoms = [], []
            for g in range(len(ga)):
                t = int(ga.types[g])
                parts = ga.geom_parts(g)
                if not parts:
                    continue
                for rings in parts:
                    rows.append(g)
                    geoms.append(wkb.encode_geom([rings], t))
            out = pdf.iloc[rows].copy() if rows else pdf.iloc[:0].copy()
            out[geometry_col] = geoms
            yield out

    return df.mapInPandas(kernel, schema=schema)


def clean_geoms(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Drop null/empty geometries (reference ``general.py:137-222``;
    make_valid is a no-op here because the engine's constructors only
    emit valid rings — invalid-input repair is out of scope without GEOS)."""
    schema = df.schema

    def kernel(it):
        for pdf in it:
            ga = wkb.decode(pdf[geometry_col].tolist())
            keep = ga.types != wkb.T_EMPTY
            yield pdf[np.asarray(keep)]

    return df.mapInPandas(kernel, schema=schema)


# ------------------------------------------------------------- cell covers
def _pack_ixy(ix: Column, iy: Column) -> Column:
    """Join key from integer cell indices: plain (ix << 26) + iy.

    Deliberately NOT the Morton interleave: a hash equi-join doesn't care
    about key locality, and the bit-spread expression tree re-expands its
    input 3x per step (3^5 copies of the leaf), which pushes the stage out
    of whole-stage codegen into interpreted eval (~1000x slower, measured).
    Morton stays in cells.py where Z-order locality matters (range covers,
    partition pruning); the join path uses this linear-size packing."""
    return F.shiftleft(ix, 26) + iy


def bbox_cells_exploded(
    df: DataFrame,
    res: int,
    minx: str = "minx",
    miny: str = "miny",
    maxx: str = "maxx",
    maxy: str = "maxy",
    out: str = "cell",
) -> DataFrame:
    """One row per (geometry, covering cell of its bbox) — pure column
    arithmetic (sequence × explode × Morton), no Python.  This is the
    candidate-generation side of the distributed overlay."""
    ix0 = cell_index_col(F.col(minx), res, "x")
    ix1 = cell_index_col(F.col(maxx), res, "x")
    iy0 = cell_index_col(F.col(miny), res, "y")
    iy1 = cell_index_col(F.col(maxy), res, "y")
    df = df.withColumn("_ix", F.explode(F.sequence(ix0, ix1)))
    df = df.withColumn("_iy", F.explode(F.sequence(iy0, iy1)))
    return df.withColumn(out, _pack_ixy(F.col("_ix"), F.col("_iy"))).drop(
        "_ix", "_iy"
    )


def side_profile(
    df: DataFrame,
    minx: str = "minx",
    miny: str = "miny",
    maxx: str = "maxx",
    maxy: str = "maxy",
) -> tuple[DataFrame, int, int]:
    """Materialize one side of a candidate join and read its plan
    settings from that same job: ``(pinned, n_rows, res)``.

    ``pinned`` is ``df`` after ``localCheckpoint(eager=True)``, so the
    join reads the side's decoded rows instead of re-running its Python
    decode.  An ``Observation`` on the checkpoint job counts the rows and
    takes the approximate median bbox span (``count`` can only over-count
    under a stage retry).  ``res`` is where that median spans ~2 cells
    per axis: it bounds the per-geometry cover fan-out (≤ ~9 cells) while
    keeping cells selective.  Candidate pairs are exact at every ``res``,
    so an approximate median only moves cost, never a pair.  An empty
    side gets ``res`` 10."""
    # a fresh Observation per call: one fulfils only on its first action
    obs = Observation()
    span = F.greatest(F.col(maxx) - F.col(minx), F.col(maxy) - F.col(miny))
    pinned = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx(span, 0.5).alias("med"),
    ).localCheckpoint(eager=True)
    stats = obs.get
    n_rows = int(stats["n"] or 0)
    if not n_rows:
        return pinned, 0, 10
    med = float(stats["med"] or 0.0) or 1.0
    res = int(np.floor(np.log2(DOMAIN_SIZE / max(med, 1e-9))))
    return pinned, n_rows, int(np.clip(res, 2, MAX_RES))


def reference_cell_filter(res: int) -> Column:
    """Keep a candidate pair only in the cell containing the SW corner of
    the two bboxes' intersection — exact, shuffle-free pair dedup (the
    standard reference-point rule; replaces dropDuplicates)."""
    rx = F.greatest(F.col("minx"), F.col("minx_2"))
    ry = F.greatest(F.col("miny"), F.col("miny_2"))
    return _pack_ixy(
        cell_index_col(rx, res, "x"), cell_index_col(ry, res, "y")
    ) == F.col("cell")


def bbox_overlap_filter() -> Column:
    """Strict bbox-overlap predicate over suffixed bound columns."""
    return (
        (F.col("minx") <= F.col("maxx_2"))
        & (F.col("maxx") >= F.col("minx_2"))
        & (F.col("miny") <= F.col("maxy_2"))
        & (F.col("maxy") >= F.col("miny_2"))
    )
