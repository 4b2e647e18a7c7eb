"""Buffer kernel — Minkowski sum with a disc, from scratch.

The reference's ``buff`` is GEOS ``buffer(distance, resolution=50)`` +
``make_valid`` (``sgis/geopandas_tools/buffer_dissolve_explode.py:303-335``
— resolution=50 vs the geopandas default 16 is a parity-critical constant,
so ``quad_segs`` defaults to 50 here too).  Without GEOS the buffer of a
geometry is built as the union of primitive inflations:

* point      → disc (regular 4·quad_segs-gon inscribed in the circle)
* linestring → per-segment rectangle + disc at every vertex (round joins
               and caps, GEOS's default join/cap style)
* polygon    → the polygon itself + per-edge rectangle + per-vertex disc
               for positive distances; negative distances erode via
               :func:`_erode` (P ∖ band(∂P, |d|), same arrangement kernel)

The union is the arrangement kernel in :mod:`.boolean`.  The polygon
approximates the true (circular-arc) buffer from inside; vertex density is
``quad_segs`` per quarter circle, matching how GEOS discretizes arcs.
"""

from __future__ import annotations

import numpy as np

from .boolean import union_all

DEFAULT_QUAD_SEGS = 50  # reference parity: buffer_dissolve_explode.py:318


def disc(cx: float, cy: float, r: float, quad_segs: int = DEFAULT_QUAD_SEGS) -> np.ndarray:
    """Closed CCW ring approximating a circle with 4*quad_segs vertices."""
    n = max(4 * int(quad_segs), 4)
    th = np.linspace(0.0, 2.0 * np.pi, n, endpoint=False)
    ring = np.column_stack([cx + r * np.cos(th), cy + r * np.sin(th)])
    return np.vstack([ring, ring[:1]])


def disc_area(r: float, quad_segs: int = DEFAULT_QUAD_SEGS) -> float:
    """Exact area of the inscribed disc polygon (test oracle)."""
    n = 4 * int(quad_segs)
    return 0.5 * n * r * r * np.sin(2.0 * np.pi / n)


def _segment_rect(p1: np.ndarray, p2: np.ndarray, r: float) -> np.ndarray | None:
    d = p2 - p1
    ln = float(np.hypot(d[0], d[1]))
    if ln == 0.0:
        return None
    n = np.array([-d[1], d[0]]) / ln * r
    ring = np.array([p1 + n, p2 + n, p2 - n, p1 - n, p1 + n])
    # ensure CCW
    x, y = ring[:, 0], ring[:, 1]
    if 0.5 * np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]) < 0:
        ring = ring[::-1]
    return ring


def buffer_parts(
    parts: list[list[np.ndarray]],
    geom_type: int,
    distance: float,
    quad_segs: int = DEFAULT_QUAD_SEGS,
) -> list[list[np.ndarray]]:
    """Buffer one geometry (parts form + logical type, see kernels.wkb)
    by ``distance``; returns a multipolygon in parts form."""
    from .wkb import T_LINE, T_POINT, T_POLYGON

    if distance < 0:
        if geom_type != T_POLYGON:
            return []  # GEOS: negative buffer of point/line is empty
        return _erode(parts, -distance, quad_segs)
    if distance == 0:
        return parts if geom_type == T_POLYGON else []

    pieces: list[list[list[np.ndarray]]] = []
    if geom_type == T_POINT:
        for rings in parts:
            for p in rings[0]:
                pieces.append([[disc(p[0], p[1], distance, quad_segs)]])
    elif geom_type == T_LINE:
        for rings in parts:
            line = rings[0]
            for v in line:
                pieces.append([[disc(v[0], v[1], distance, quad_segs)]])
            for a, b in zip(line[:-1], line[1:]):
                rect = _segment_rect(a, b, distance)
                if rect is not None:
                    pieces.append([[rect]])
    elif geom_type == T_POLYGON:
        for rings in parts:
            # the polygon itself (holes included) unioned with rects + discs
            # around EVERY ring boundary: hole interiors stay uncovered except
            # for the inflation band, so holes shrink by exactly `distance`
            # and vanish when thinner than 2·distance — true Minkowski.
            pieces.append([list(rings)])
            for r in rings:
                for v in r[:-1]:
                    pieces.append([[disc(v[0], v[1], distance, quad_segs)]])
                for a, b in zip(r[:-1], r[1:]):
                    rect = _segment_rect(a, b, distance)
                    if rect is not None:
                        pieces.append([[rect]])
    else:
        return []
    return union_all(pieces)


def _erode(
    parts: list[list[np.ndarray]],
    distance: float,
    quad_segs: int = DEFAULT_QUAD_SEGS,
) -> list[list[np.ndarray]]:
    """Negative buffer (Minkowski erosion) of a multipolygon:
    ``erode(P, d) = P ∖ band(∂P, d)`` where the band is the positive
    inflation of every boundary ring — built from the same per-edge
    rectangles + per-vertex discs as the positive buffer, so the circular
    arcs are discretized identically (inscribed, quad_segs per quarter).
    Thin necks/parts narrower than 2·d vanish; holes grow by d.
    Reference behavior: GEOS buffer(-d) as used by close_thin_holes
    (``polygon_operations.py:491-510``)."""
    from .boolean import difference

    band: list[list[list[np.ndarray]]] = []
    for rings in parts:
        for r in rings:
            for v in r[:-1]:
                band.append([[disc(v[0], v[1], distance, quad_segs)]])
            for a, b in zip(r[:-1], r[1:]):
                rect = _segment_rect(a, b, distance)
                if rect is not None:
                    band.append([[rect]])
    if not band:
        return []
    return difference(parts, [union_all(band)])
