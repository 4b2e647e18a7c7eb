"""Vectorized geometry kernels over GeomArray batches — pure numpy.

These are the engine's replacements for the shapely-2 ufuncs the reference
leans on (``sgis/geopandas_tools/overlay.py:16-24`` imports area,
intersection, bounds, …).  Everything here is numpy over the ragged
GeomArray layout; there is no per-vertex Python anywhere.

Point-in-polygon is the crossing-number (ray-casting) test; it is written
with the *exact* arithmetic expression that the DuckDB correctness oracles
use, so Spark results and SQL-oracle results agree bit-for-bit even for
degenerate on-edge points:

    crosses = (y1 > py) != (y2 > py)  and  px < (x2-x1)*(py-y1)/(y2-y1) + x1
"""

from __future__ import annotations

import numpy as np

from .wkb import GeomArray, T_LINE, T_POLYGON


# ------------------------------------------------------------------ reduceat
def _seg_reduce(values: np.ndarray, offsets: np.ndarray, how: str) -> np.ndarray:
    """Per-segment reduction of `values` split at `offsets` (len G+1)."""
    if len(values) == 0:
        return np.full(len(offsets) - 1, 0.0 if how == "sum" else np.nan)
    starts = offsets[:-1]
    empty = offsets[:-1] == offsets[1:]
    # pad with the reduction identity so a start index == len(values)
    # (trailing empty segment) is valid without corrupting its neighbour
    ident = {"sum": 0.0, "min": np.inf, "max": -np.inf}[how]
    padded = np.concatenate([values, [ident]])
    if how == "sum":
        out = np.add.reduceat(padded, starts)
    elif how == "min":
        out = np.minimum.reduceat(padded, starts)
    else:
        out = np.maximum.reduceat(padded, starts)
    out = np.where(empty, 0 if how == "sum" else np.nan, out)
    return out


def _ring_to_geom_offsets(ga: GeomArray) -> np.ndarray:
    """coords-offsets per geometry (start vertex index of each geometry)."""
    return ga.ring_offsets[ga.part_offsets[ga.geom_offsets]]


# ------------------------------------------------------------------- bounds
def bounds(ga: GeomArray) -> np.ndarray:
    """(G, 4) [minx, miny, maxx, maxy] per geometry; NaN for empty rows."""
    geom_coord_offsets = _ring_to_geom_offsets(ga).astype(np.int64)
    x, y = ga.coords[:, 0], ga.coords[:, 1]
    return np.column_stack(
        [
            _seg_reduce(x, geom_coord_offsets, "min"),
            _seg_reduce(y, geom_coord_offsets, "min"),
            _seg_reduce(x, geom_coord_offsets, "max"),
            _seg_reduce(y, geom_coord_offsets, "max"),
        ]
    )


# --------------------------------------------------------------------- area
def _ring_signed_areas(ga: GeomArray) -> np.ndarray:
    """Shoelace signed area per ring (R,). Vectorized over all rings."""
    x, y = ga.coords[:, 0], ga.coords[:, 1]
    # cross product terms for consecutive vertex pairs; the pair crossing a
    # ring boundary is invalid and masked out, the closing edge is implicit
    # because rings are stored closed (first == last vertex).
    cross = x[:-1] * y[1:] - x[1:] * y[:-1]
    ring_ids = np.repeat(
        np.arange(ga.n_rings), np.diff(ga.ring_offsets)
    )
    valid = ring_ids[:-1] == ring_ids[1:]
    sums = np.zeros(ga.n_rings, dtype=np.float64)
    np.add.at(sums, ring_ids[:-1][valid], cross[valid])
    return 0.5 * sums


def area(ga: GeomArray) -> np.ndarray:
    """Unsigned area per geometry; holes (any ring after the first of a
    part) subtract.  Matches GEOS convention used throughout the reference
    (``general.py:244`` sort_large_first)."""
    ring_areas = _ring_signed_areas(ga)
    if ga.n_rings:
        is_exterior = np.zeros(ga.n_rings, dtype=bool)
        is_exterior[ga.part_offsets[:-1]] = True
        signed = np.where(is_exterior, np.abs(ring_areas), -np.abs(ring_areas))
    else:
        signed = ring_areas
    # sum rings per geometry (part_offsets[geom_offsets] has G+1 boundaries)
    ring_geom_offsets = ga.part_offsets[ga.geom_offsets].astype(np.int64)
    out = _seg_reduce(signed, ring_geom_offsets, "sum")
    return np.where(ga.types == T_POLYGON, out, 0.0)


# ------------------------------------------------------------------- length
def length(ga: GeomArray) -> np.ndarray:
    """Per-geometry line length (0 for points/polygons, like geopandas
    .length counts polygons' perimeter — reference uses length only on
    lines, we follow lines-only and expose perimeter separately)."""
    d = np.hypot(np.diff(ga.coords[:, 0]), np.diff(ga.coords[:, 1]))
    ring_ids = np.repeat(np.arange(ga.n_rings), np.diff(ga.ring_offsets))
    valid = ring_ids[:-1] == ring_ids[1:]
    ring_len = np.zeros(ga.n_rings, dtype=np.float64)
    if len(d):
        np.add.at(ring_len, ring_ids[:-1][valid], d[valid])
    ring_geom_offsets = ga.part_offsets[ga.geom_offsets].astype(np.int64)
    return _seg_reduce(ring_len, ring_geom_offsets, "sum")


# ----------------------------------------------------------------- centroid
def centroid(ga: GeomArray) -> np.ndarray:
    """(G, 2) centroid per geometry.

    Polygons: area-weighted shoelace centroid (holes subtract).
    Lines: length-weighted midpoint centroid. Points: mean of points.
    Matches GEOS definitions to float64 precision.
    """
    out = np.full((len(ga), 2), np.nan)
    for g in range(len(ga)):
        t = ga.types[g]
        parts = ga.geom_parts(g)
        if not parts:
            continue
        if t == T_POLYGON:
            A, cx, cy = 0.0, 0.0, 0.0
            for rings in parts:
                for i, r in enumerate(rings):
                    x, y = r[:, 0], r[:, 1]
                    cross = x[:-1] * y[1:] - x[1:] * y[:-1]
                    a = 0.5 * cross.sum()
                    sign = 1.0 if i == 0 else -1.0
                    a_abs = sign * abs(a)
                    if a == 0:
                        continue
                    # orient-independent: scale by signed area then flip
                    gx = ((x[:-1] + x[1:]) * cross).sum() / (6.0 * a)
                    gy = ((y[:-1] + y[1:]) * cross).sum() / (6.0 * a)
                    A += a_abs
                    cx += gx * a_abs
                    cy += gy * a_abs
            if A != 0:
                out[g] = (cx / A, cy / A)
        elif t == T_LINE:
            L, cx, cy = 0.0, 0.0, 0.0
            for rings in parts:
                r = rings[0]
                seg = np.hypot(np.diff(r[:, 0]), np.diff(r[:, 1]))
                mid = 0.5 * (r[:-1] + r[1:])
                L += seg.sum()
                cx += (mid[:, 0] * seg).sum()
                cy += (mid[:, 1] * seg).sum()
            if L != 0:
                out[g] = (cx / L, cy / L)
        else:
            pts = np.concatenate([rings[0] for rings in parts])
            out[g] = pts.mean(axis=0)
    return out


# ------------------------------------------------------------ ring plumbing
def ring_edges(rings: list[np.ndarray]):
    """Directed edge arrays ``(x1, y1, x2, y2)`` of closed (k, 2) rings —
    the one polygon edge format of the engine.  Pass every ring of a
    polygon (holes included: crossing parity handles them).  Returns None
    when the rings hold no edge."""
    if not rings:
        return None
    x1 = np.concatenate([r[:-1, 0] for r in rings])
    if not len(x1):
        return None
    return (
        x1,
        np.concatenate([r[:-1, 1] for r in rings]),
        np.concatenate([r[1:, 0] for r in rings]),
        np.concatenate([r[1:, 1] for r in rings]),
    )


def points_in_polygon(
    px: np.ndarray,
    py: np.ndarray,
    edges: tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray],
) -> np.ndarray:
    """Crossing-parity PIP of many points vs ONE polygon's edge set.

    edges = (x1, y1, x2, y2) arrays.  Vectorized P×E; callers keep E modest
    by pre-bucketing via the cell index.  Uses the identical arithmetic the
    SQL oracle uses (see module docstring).
    """
    x1, y1, x2, y2 = edges
    if len(x1) == 0:
        return np.zeros(len(px), dtype=bool)
    py_c = py[:, None]
    px_c = px[:, None]
    straddle = (y1[None, :] > py_c) != (y2[None, :] > py_c)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1)[None, :] * (py_c - y1[None, :]) / (y2 - y1)[None, :] + x1[None, :]
    crossings = straddle & (px_c < xint)
    return (crossings.sum(axis=1) % 2).astype(bool)


def points_in_polygon_grouped(
    px: np.ndarray,
    py: np.ndarray,
    poly_rows: np.ndarray,
    edge_table,
    max_dist2: float | None = None,
) -> np.ndarray:
    """Refine kernel for candidate pairs: point i is tested against the
    polygon at row ``poly_rows[i]`` of ``edge_table`` (a sequence of
    :func:`ring_edges` tuples, None for an empty polygon).

    Without ``max_dist2`` the predicate is PIP — the spatial join's refine
    (reference semantics: STRtree candidate pairs -> exact predicate,
    ``sgis/geopandas_tools/sfilter.py:46-64``).  With it, a point also
    matches when its squared boundary distance is <= ``max_dist2`` — the
    refine of get_neighbor_indices(max_distance=...) (the reference
    buffers the left side, ``neighbors.py:101-102``; buffering the point
    by d ≡ distance-d test against the polygon).

    Pairs are grouped by polygon row so each polygon's edges are streamed
    once.
    """
    result = np.zeros(len(px), dtype=bool)
    if len(px) == 0:
        return result
    order = np.argsort(poly_rows, kind="stable")
    sorted_rows = poly_rows[order]
    boundaries = np.flatnonzero(np.concatenate([[True], sorted_rows[1:] != sorted_rows[:-1]]))
    boundaries = np.concatenate([boundaries, [len(sorted_rows)]])
    for lo, hi in zip(boundaries[:-1], boundaries[1:]):
        edges = edge_table[sorted_rows[lo]]
        if edges is None:
            continue
        idx = order[lo:hi]
        hit = points_in_polygon(px[idx], py[idx], edges)
        if max_dist2 is not None:
            hit |= point_to_edges_dist2(px[idx], py[idx], edges) <= max_dist2
        result[idx] = hit
    return result


def point_to_edges_dist2(
    px: np.ndarray,
    py: np.ndarray,
    edges: tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray],
) -> np.ndarray:
    """Min SQUARED distance from each point to a polygon's edge set —
    written with the exact clamp/dot expression the SQL oracle uses, so
    `dist2 <= d*d` agrees bit-for-bit:

        t  = least(greatest(((p-a)·(b-a)) / |b-a|^2, 0), 1)
        dx = px - (ax + t*(bx-ax));  dy = py - (ay + t*(by-ay))
        d2 = dx*dx + dy*dy
    """
    x1, y1, x2, y2 = edges
    abx = (x2 - x1)[None, :]
    aby = (y2 - y1)[None, :]
    apx = px[:, None] - x1[None, :]
    apy = py[:, None] - y1[None, :]
    len2 = abx * abx + aby * aby
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (apx * abx + apy * aby) / len2
    t = np.minimum(np.maximum(np.where(len2 == 0, 0.0, t), 0.0), 1.0)
    dx = apx - t * abx
    dy = apy - t * aby
    return (dx * dx + dy * dy).min(axis=1)


# -------------------------------------------------------------- distances
def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle metres on the WGS84 mean sphere (R=6371008.8)."""
    rl1, rl2 = np.radians(lat1), np.radians(lat2)
    dlat = rl2 - rl1
    dlon = np.radians(lon2 - lon1)
    a = np.sin(dlat / 2) ** 2 + np.cos(rl1) * np.cos(rl2) * np.sin(dlon / 2) ** 2
    return 2 * 6371008.8 * np.arcsin(np.sqrt(a))


# --------------------------------------------------- simplify / segmentize
def segmentize_ring(ring: np.ndarray, max_len: float) -> np.ndarray:
    """Insert vertices so no segment exceeds ``max_len`` (reference
    shapely.segmentize semantics: every segment is split into
    ``ceil(d / max_len)`` EQUAL subsegments; original vertices are
    preserved exactly).  Fully vectorized: one repeat + one interp pass,
    no per-vertex Python."""
    if len(ring) < 2 or max_len <= 0:
        return ring
    a = ring[:-1]
    b = ring[1:]
    d = np.hypot(b[:, 0] - a[:, 0], b[:, 1] - a[:, 1])
    nsub = np.maximum(np.ceil(d / max_len).astype(np.int64), 1)
    # emit nsub[i] points per segment: a_i + (j/nsub_i) * (b_i - a_i),
    # j = 0..nsub_i-1, then append the final vertex once
    seg_idx = np.repeat(np.arange(len(a)), nsub)
    starts = np.concatenate([[0], np.cumsum(nsub)[:-1]])
    j = np.arange(len(seg_idx)) - np.repeat(starts, nsub)
    frac = j / nsub[seg_idx]
    pts = a[seg_idx] + frac[:, None] * (b[seg_idx] - a[seg_idx])
    return np.concatenate([pts, ring[-1:]], axis=0)


def _dp_keep_mask(ring: np.ndarray, tol: float) -> np.ndarray:
    """Douglas-Peucker keep-mask with endpoints anchored.  The stack loop
    is per-SPLIT (log-depth), the distance test inside it is a
    vectorized perpendicular-distance over the whole sub-span."""
    n = len(ring)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    x = ring[:, 0]
    y = ring[:, 1]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        ax, ay, bx, by = x[i], y[i], x[j], y[j]
        px = x[i + 1 : j]
        py = y[i + 1 : j]
        dx, dy = bx - ax, by - ay
        nrm2 = dx * dx + dy * dy
        if nrm2 == 0.0:
            d2 = (px - ax) ** 2 + (py - ay) ** 2
        else:
            # squared perpendicular distance to the infinite line a-b
            # (GEOS DP uses the line, not the clamped segment)
            cross = dx * (py - ay) - dy * (px - ax)
            d2 = cross * cross / nrm2
        m = int(np.argmax(d2))
        if d2[m] > tol * tol:
            k = i + 1 + m
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return keep


def simplify_ring(ring: np.ndarray, tol: float, closed: bool) -> np.ndarray:
    """Douglas-Peucker simplification of one ring/line.  Open lines
    anchor both endpoints; closed rings anchor vertex 0 plus the vertex
    farthest from it (the standard ring split), keeping the ring closed.
    Non-topology-preserving, like the reference's shapely.simplify."""
    if tol < 0 or len(ring) <= 2:
        return ring
    if not closed:
        return ring[_dp_keep_mask(ring, tol)]
    # closed: ring[0] == ring[-1]; split at the farthest vertex from 0
    body = ring[:-1]
    if len(body) <= 3:
        return ring
    d2 = (body[:, 0] - body[0, 0]) ** 2 + (body[:, 1] - body[0, 1]) ** 2
    far = int(np.argmax(d2))
    if far == 0:
        return ring
    m1 = _dp_keep_mask(ring[: far + 1], tol)
    m2 = _dp_keep_mask(ring[far:], tol)
    keep = np.zeros(len(ring), dtype=bool)
    keep[: far + 1] = m1
    keep[far:] |= m2
    return ring[keep]
