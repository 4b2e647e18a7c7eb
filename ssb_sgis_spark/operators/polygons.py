"""Polygon operators: holes, boundaries, geometry classes, ordering.

Reference: ``sgis/geopandas_tools/polygon_operations.py`` and
``geometry_types.py`` (SURVEY §2.7 / §2.8).  All are per-row geometry
transforms — one Arrow batch pass, numpy ring surgery on the GeomArray
layout, no pairwise work and no shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import wkb
from ..kernels.boolean import ring_signed_area
from ..kernels.geom import centroid as geom_centroid, ring_edges
from .geomtable import make_all_singlepart, map_geoms, with_area, with_geom_cols, with_length


def close_all_holes(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Drop every interior ring (reference ``polygon_operations.py:523-601``)."""
    return map_geoms(
        df, lambda parts, t: [rings[:1] for rings in parts] if t == wkb.T_POLYGON else parts,
        geometry_col,
    )


def close_small_holes(
    df: DataFrame, max_area: float, geometry_col: str = "geometry"
) -> DataFrame:
    """Drop interior rings with |area| < max_area
    (reference ``polygon_operations.py:631-746``)."""

    def fn(parts, t):
        if t != wkb.T_POLYGON:
            return parts
        return [
            [rings[0]]
            + [r for r in rings[1:] if abs(ring_signed_area(r)) >= max_area]
            for rings in parts
        ]

    return map_geoms(df, fn, geometry_col)


def close_thin_holes(
    df: DataFrame, tolerance: float, geometry_col: str = "geometry"
) -> DataFrame:
    """Fill interior rings thinner than ``tolerance``: a hole is thin when
    eroding it by tolerance/2 leaves nothing (reference
    ``polygon_operations.py:491-510`` — negative-buffer emptiness test).
    Unlike the reference we do not first subtract OTHER geometries nested
    inside the hole (the within-hole sfilter); holes containing islands
    wider than the tolerance are therefore closed here but kept there."""
    from ..kernels.buffer import buffer_parts

    def fn(parts, t):
        if t != wkb.T_POLYGON:
            return parts
        out = []
        for rings in parts:
            kept = [rings[0]]
            for hole in rings[1:]:
                # hole ring is CW in parts form; erode it as a CCW polygon
                eroded = buffer_parts([[hole[::-1]]], wkb.T_POLYGON, -tolerance / 2.0)
                if eroded:
                    kept.append(hole)
            out.append(kept)
        return out

    return map_geoms(df, fn, geometry_col)


def get_holes(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """One row per interior ring, as a polygon
    (reference ``polygon_operations.py:828-862``)."""
    schema = df.schema

    def kernel(it):
        for pdf in it:
            ga = wkb.decode(pdf[geometry_col].tolist())
            rows, geoms = [], []
            for g in range(len(ga)):
                if ga.types[g] != wkb.T_POLYGON:
                    continue
                for rings in ga.geom_parts(g):
                    for hole in rings[1:]:
                        rows.append(g)
                        geoms.append(wkb.encode_polygon([hole[::-1]]))
            out = pdf.iloc[rows].copy() if rows else pdf.iloc[:0].copy()
            out[geometry_col] = geoms
            yield out

    return df.mapInPandas(kernel, schema=schema)


def to_lines(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Polygon boundaries as (Multi)LineStrings (the boundary-extraction
    half of reference ``general.py:402-510``; the between-frame union split
    is clean_overlay's job)."""
    schema = df.schema

    def kernel(it):
        for pdf in it:
            ga = wkb.decode(pdf[geometry_col].tolist())
            out = []
            for g in range(len(ga)):
                t = int(ga.types[g])
                if t != wkb.T_POLYGON:
                    out.append(pdf[geometry_col].iloc[g])
                    continue
                lines = [r for rings in ga.geom_parts(g) for r in rings]
                if len(lines) == 1:
                    out.append(wkb.encode_linestring(lines[0]))
                else:
                    out.append(wkb.encode_multilinestring(lines))
            o = pdf.copy()
            o[geometry_col] = out
            yield o

    return df.mapInPandas(kernel, schema=schema)


def to_lines_split(*dfs: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Cross-frame ``to_lines`` (reference ``general.py:402-510``): every
    input frame's geometries become boundary lines, and each line is
    SPLIT at its intersections with lines from the OTHER frames (ArcGIS
    "feature to line").  Output carries the union of all frames' columns
    (other frames' columns null per row), one row per split piece.

    Physical plan: per-frame boundary extraction (:func:`to_lines`) →
    union with a frame tag → cell-exploded candidate self-join filtered
    to cross-frame pairs → one grouped Arrow kernel per left line that
    computes all segment×segment intersection parameters vectorized and
    re-emits the split polyline pieces.  Lines with no cross-frame
    candidates pass through untouched (anti-join, no Python)."""
    from ..kernels.boolean import _seg_intersections
    from .overlay import candidate_pairs

    if not dfs:
        raise ValueError("to_lines_split needs at least one frame")
    if len(dfs) == 1:
        return to_lines(dfs[0], geometry_col)

    spark = dfs[0].sparkSession
    tagged = []
    for i, df in enumerate(dfs):
        tagged.append(to_lines(df, geometry_col).withColumn("_frame", F.lit(i)))
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t, allowMissingColumns=True)
    u = u.withColumn("_lineid", F.monotonically_increasing_id()).localCheckpoint()

    attr_cols = [c for c in u.columns if c not in (geometry_col, "_lineid")]
    pairs, _ = candidate_pairs(
        u.select("_lineid", "_frame", *[c for c in attr_cols if c != "_frame"],
                 geometry_col),
        u.select("_lineid", "_frame", geometry_col),
        geometry_col,
    )
    pairs = pairs.filter(F.col("_frame") != F.col("_frame__r")).select(
        "_lineid", *[c for c in attr_cols if c != "_frame"], "_frame",
        geometry_col, F.col(geometry_col + "__r").alias("_rgeom"),
    )

    out_schema = T.StructType(
        [u.schema[c] for c in attr_cols] + [T.StructField(geometry_col, T.BinaryType())]
    )

    def split_kernel(key, pdf):
        left = wkb.decode([pdf[geometry_col].iloc[0]])
        lines = [r for part in left.geom_parts(0) for r in part]
        rga = wkb.decode(pdf["_rgeom"].tolist())
        rsegs = []
        for g in range(len(rga)):
            for part in rga.geom_parts(g):
                for r in part:
                    if len(r) >= 2:
                        rsegs.append(r)
        rx1, ry1, rx2, ry2 = ring_edges(rsegs) or (np.empty(0),) * 4
        pieces = []
        for pl in lines:
            n = len(pl) - 1
            if n < 1:
                continue
            cuts: dict[int, list[float]] = {}
            vcuts: set[int] = set()
            m = len(rx1)
            if m and n:
                ii = np.repeat(np.arange(n), m)
                jj = np.tile(np.arange(m), n)
                ta, tb, ca, ca2, cb, cb2 = _seg_intersections(
                    pl[:-1, 0][ii], pl[:-1, 1][ii], pl[1:, 0][ii], pl[1:, 1][ii],
                    rx1[jj], ry1[jj], rx2[jj], ry2[jj],
                )
                for arr in (ta, ca, ca2):
                    valid = ~np.isnan(arr)
                    hit = valid & (arr > 1e-12) & (arr < 1 - 1e-12)
                    for k in np.flatnonzero(hit):
                        cuts.setdefault(int(ii[k]), []).append(float(arr[k]))
                    # intersections landing ON an interior vertex still
                    # split the line there (ArcGIS feature-to-line).  The
                    # tests are TWO-SIDED: collinear projections (ca/ca2)
                    # are raw parameters that can land far outside [0,1]
                    # for collinear-but-disjoint segments (ubiquitous in
                    # grid data) — those never touch this segment and
                    # must not mark a vertex split.
                    for k in np.flatnonzero(
                        valid & (arr >= -1e-12) & (arr <= 1e-12)
                    ):
                        vcuts.add(int(ii[k]))
                    for k in np.flatnonzero(
                        valid & (arr >= 1 - 1e-12) & (arr <= 1 + 1e-12)
                    ):
                        vcuts.add(int(ii[k]) + 1)
            vcuts.discard(0)
            vcuts.discard(n)
            # assemble pieces: walk vertices, breaking at each cut point
            cur = [pl[0]]
            for s in range(n):
                a, b = pl[s], pl[s + 1]
                for t in sorted(set(cuts.get(s, []))):
                    p = a + (b - a) * t
                    cur.append(p)
                    pieces.append(np.array(cur))
                    cur = [p]
                cur.append(b)
                if (s + 1) in vcuts:
                    pieces.append(np.array(cur))
                    cur = [b]
            if len(cur) >= 2:
                pieces.append(np.array(cur))
        rows = pdf.iloc[[0] * len(pieces)][attr_cols].copy()
        rows[geometry_col] = [wkb.encode_linestring(p) for p in pieces]
        return rows

    split = (
        pairs.groupBy("_lineid").applyInPandas(split_kernel, schema=out_schema)
    )
    untouched = u.join(
        pairs.select("_lineid").distinct(), "_lineid", "left_anti"
    ).select(*attr_cols, geometry_col)
    return make_all_singlepart(
        split.unionByName(untouched), geometry_col
    )


def bounds_to_points(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Per-row bbox corners as a MultiPoint (reference ``bounds.py:411-439``)."""

    def fn(parts, t):
        coords = np.concatenate([r for rings in parts for r in rings])
        x0, y0 = coords.min(axis=0)
        x1, y1 = coords.max(axis=0)
        pts = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
        return [[pts[i : i + 1]] for i in range(4)]

    return map_geoms(df, fn, geometry_col, out_type=wkb.T_POINT)


# -------------------------------------------------------- type discipline
_TYPE_NAMES = {wkb.T_EMPTY: "empty", wkb.T_POINT: "point", wkb.T_LINE: "line", wkb.T_POLYGON: "polygon"}


def with_geom_type(df: DataFrame, geometry_col: str = "geometry", out: str = "geom_type") -> DataFrame:
    """Logical type class per row (reference ``geometry_types.py:130-172``)."""
    return with_geom_cols(
        df,
        lambda ga: [[_TYPE_NAMES[int(t)] for t in ga.types]],
        [T.StructField(out, T.StringType())],
        geometry_col,
    )


def to_single_geom_type(
    df: DataFrame, geom_type: str, geometry_col: str = "geometry"
) -> DataFrame:
    """Keep rows of one logical class (reference ``geometry_types.py:25-120``
    — collections were already exploded by make_all_singlepart)."""
    return (
        with_geom_type(df, geometry_col, "_gt")
        .filter(F.col("_gt") == geom_type)
        .drop("_gt")
    )


def sort_large_first(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Order by area desc (reference ``general.py:244-309``) — used before
    update_geometries."""
    return with_area(df, geometry_col, "_area").orderBy(F.desc("_area")).drop("_area")


def sort_long_first(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Order by line length desc (reference ``general.py:244-309``,
    ``sort_long_first``)."""
    return with_length(df, geometry_col, "_len").orderBy(F.desc("_len")).drop("_len")


def sort_nans_last(df: DataFrame) -> DataFrame:
    """Rows with fewer nulls first, stable (reference ``helpers.py:
    195-202``); used before drop-duplicates passes so the most complete
    row wins."""
    n_nan = sum(
        (F.when(F.col(c).isNull(), 1).otherwise(0) for c in df.columns),
        F.lit(0),
    )
    return (
        df.withColumn("_n_nan", n_nan)
        .withColumn("_idx", F.monotonically_increasing_id())
        .orderBy("_n_nan", "_idx")
        .drop("_n_nan", "_idx")
    )


def get_grouped_centroids(
    df: DataFrame,
    groupby: str,
    geometry_col: str = "geometry",
    as_string: bool = True,
    out: str = "grouped_centroid",
) -> DataFrame:
    """Per-row centroid of the row's GROUP (reference ``general.py:
    225-241``: centroid of each geometry, dissolved per group, centroid
    again — i.e. the mean of member centroids).  Appends ``out`` as an
    "{int(x)}_{int(y)}" string (or x/y columns when as_string=False)."""
    withc = with_geom_cols(
        df,
        lambda ga: geom_centroid(ga).T,
        [T.StructField("_cx", T.DoubleType()), T.StructField("_cy", T.DoubleType())],
        geometry_col,
    )
    groups = withc.groupBy(groupby).agg(
        F.avg("_cx").alias("_gx"), F.avg("_cy").alias("_gy")
    )
    j = withc.join(F.broadcast(groups), groupby).drop("_cx", "_cy")
    if as_string:
        return j.withColumn(
            out,
            F.concat(
                F.col("_gx").cast("long").cast("string"),
                F.lit("_"),
                F.col("_gy").cast("long").cast("string"),
            ),
        ).drop("_gx", "_gy")
    return j.withColumnRenamed("_gx", out + "_x").withColumnRenamed("_gy", out + "_y")


def get_rough_centerlines(
    df: DataFrame, max_segment_length: float, geometry_col: str = "geometry"
) -> DataFrame:
    """Cheap centerline per (sliver) polygon — reference
    ``centerlines.py:30-192`` (experimental there; "meant for slivers").
    Method here: densify the exterior ring at ``max_segment_length``,
    pair each boundary sample with the nearest non-adjacent sample
    (ring index distance > 2 — across the sliver for any polygon whose
    width is under ~3 segment lengths), take midpoints, dedup, and
    chain them nearest-neighbor-first into a LineString.  Degenerate
    polygons (too few samples) get their centroid as a point, like the
    reference's circle fallback.  One Arrow batch pass; no pairwise work
    across rows."""
    schema = df.schema

    def densify(ring: np.ndarray, h: float) -> np.ndarray:
        out = []
        for a, b in zip(ring[:-1], ring[1:]):
            seg = np.hypot(*(b - a))
            n = max(int(np.ceil(seg / h)), 1)
            for t in range(n):
                out.append(a + (b - a) * (t / n))
        return np.asarray(out)

    def kernel(it):
        for pdf in it:
            ga = wkb.decode(pdf[geometry_col].tolist())
            cents = geom_centroid(ga)
            geoms = []
            for g in range(len(ga)):
                if ga.types[g] != wkb.T_POLYGON:
                    geoms.append(pdf[geometry_col].iloc[g])
                    continue
                ring = ga.geom_parts(g)[0][0]
                pts = densify(ring, max_segment_length)
                n = len(pts)
                if n < 8:
                    geoms.append(
                        wkb.encode_point(float(cents[g, 0]), float(cents[g, 1]))
                    )
                    continue
                if n > 400:  # bound the O(N^2) pairing per sliver
                    step = n // 400 + 1
                    pts = pts[::step]
                    n = len(pts)
                d2 = (
                    (pts[:, 0][:, None] - pts[:, 0][None, :]) ** 2
                    + (pts[:, 1][:, None] - pts[:, 1][None, :]) ** 2
                )
                idx = np.arange(n)
                ring_dist = np.minimum(
                    np.abs(idx[:, None] - idx[None, :]),
                    n - np.abs(idx[:, None] - idx[None, :]),
                )
                d2m = np.where(ring_dist > 2, d2, np.inf)
                j = np.argmin(d2m, axis=1)
                mids = (pts + pts[j]) / 2.0
                mids = np.unique(np.round(mids, 6), axis=0)
                if len(mids) < 2:
                    geoms.append(
                        wkb.encode_point(float(cents[g, 0]), float(cents[g, 1]))
                    )
                    continue
                # chain midpoints nearest-neighbor-first from an extreme point
                start = int(np.argmin(mids[:, 0] + mids[:, 1]))
                left = np.ones(len(mids), dtype=bool)
                order = [start]
                left[start] = False
                while left.any():
                    cur = mids[order[-1]]
                    cand = np.where(
                        left,
                        (mids[:, 0] - cur[0]) ** 2 + (mids[:, 1] - cur[1]) ** 2,
                        np.inf,
                    )
                    nxt = int(np.argmin(cand))
                    order.append(nxt)
                    left[nxt] = False
                geoms.append(wkb.encode_linestring(mids[order]))
            o = pdf.copy()
            o[geometry_col] = geoms
            yield o

    return df.mapInPandas(kernel, schema=schema)


def simplify(
    df: DataFrame, tolerance: float, geometry_col: str = "geometry"
) -> DataFrame:
    """Douglas-Peucker simplification (reference: shapely.simplify,
    SURVEY §2.14; non-topology-preserving).  Per-row Arrow batch pass —
    the D-P stack loop is per split with vectorized distance tests, no
    per-vertex Python.  Polygon parts whose simplified exterior
    degenerates below a triangle are dropped (→ NULL when nothing is
    left), matching GEOS's collapse behavior."""
    from ..kernels.geom import simplify_ring

    tol = float(tolerance)

    def fn(parts, t):
        if t == wkb.T_POINT:
            return parts
        closed = t == wkb.T_POLYGON
        out_parts = []
        for rings in parts:
            new_rings = []
            for i, r in enumerate(rings):
                s = simplify_ring(np.asarray(r, dtype=np.float64), tol, closed)
                if closed and len(s) < 4:
                    if i == 0:
                        new_rings = None  # exterior collapsed -> drop part
                        break
                    continue  # hole collapsed -> closed
                new_rings.append(s)
            if new_rings:
                out_parts.append(new_rings)
        return out_parts or None

    return map_geoms(df, fn, geometry_col)


def segmentize(
    df: DataFrame, max_segment_length: float, geometry_col: str = "geometry"
) -> DataFrame:
    """Insert vertices so no segment exceeds ``max_segment_length``
    (reference: shapely.segmentize, SURVEY §2.14 — used by
    get_rough_centerlines).  Equal-subdivision per segment, original
    vertices preserved exactly; one vectorized repeat+interp pass per
    ring."""
    from ..kernels.geom import segmentize_ring

    ml = float(max_segment_length)

    def fn(parts, t):
        if t == wkb.T_POINT:
            return parts
        return [
            [segmentize_ring(np.asarray(r, dtype=np.float64), ml) for r in rings]
            for rings in parts
        ]

    return map_geoms(df, fn, geometry_col)
