"""Cell index layer: quadtree (Morton / S2-style) cells + SSB grid ids.

Two tiling schemes, mirroring the reference's grid layer
(``sgis/geopandas_tools/bounds.py:176-372``):

1. **SSB grid id** (`make_ssb_grid` / `add_grid_id`,
   ``bounds.py:262-372``): pure integer arithmetic —
   ``SSBID = str(floor((x + 2_000_000) / size) * size) +
   str(floor(y / size) * size)`` — expressed as a *native Spark column*
   (no UDF, stays in whole-stage codegen) and identically in DuckDB SQL.

2. **Quadtree Morton cells** (our H3/S2 equivalent, built from scratch —
   no H3 library exists in this environment).  A square domain is
   recursively quartered; a cell at resolution ``r`` is the 2r-bit
   interleave of its (ix, iy) indices.  Point indexing is plain column
   arithmetic; polygon *covers* (the candidate-generation side of the
   spatial join) are computed driver-side per broadcast polygon with an
   exact box-vs-polygon classifier, yielding FULL (cell entirely inside —
   no refine needed) and PARTIAL (boundary — ray-casting refine) cells.

The cover + candidate-pair join replaces the reference's STRtree bulk
query (``overlay.py:210-211``, ``sfilter.py:51-59``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .kernels.geom import bounds as geom_bounds, points_in_polygon, ring_edges
from .kernels.wkb import GeomArray

# Domain: EPSG:25833-style planar metres.  A 2^23 m (~8389 km) square
# anchored at (-1_000_000, 5_000_000) covers Norway + margin; resolution r
# cells are (2^23 / 2^r) m wide.  r<=15 keeps morton codes in int32 range;
# we use int64 throughout.
DOMAIN_X0 = -1_000_000.0
DOMAIN_Y0 = 5_000_000.0
DOMAIN_SIZE = float(2**23)
MAX_RES = 20


def cell_size(res: int) -> float:
    return DOMAIN_SIZE / (1 << res)


# ------------------------------------------------------------ morton numpy
def _interleave_bits_np(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of v so there is a 0 bit between each."""
    v = v.astype(np.uint64)
    v = (v | (v << 16)) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << 8)) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << 4)) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << 2)) & np.uint64(0x3333333333333333)
    v = (v | (v << 1)) & np.uint64(0x5555555555555555)
    return v


def morton_np(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return (_interleave_bits_np(ix) | (_interleave_bits_np(iy) << np.uint64(1))).astype(
        np.int64
    )


def _compact_bits_np(v: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_interleave_bits_np`: gather the even bits of v
    into its low 32 bits."""
    v = v & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def cell_box(cell: int, res: int) -> tuple[float, float, float, float]:
    """``(x0, y0, x1, y1)`` of the Morton cell ``cell`` at ``res``."""
    v = np.uint64(cell)
    s = cell_size(res)
    x0 = DOMAIN_X0 + int(_compact_bits_np(v)) * s
    y0 = DOMAIN_Y0 + int(_compact_bits_np(v >> np.uint64(1))) * s
    return x0, y0, x0 + s, y0 + s


def cell_of_xy_np(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    s = cell_size(res)
    ix = np.floor((x - DOMAIN_X0) / s).astype(np.int64)
    iy = np.floor((y - DOMAIN_Y0) / s).astype(np.int64)
    n = (1 << res) - 1
    ix = np.clip(ix, 0, n)
    iy = np.clip(iy, 0, n)
    return morton_np(ix, iy)


def cell_parent(cell: np.ndarray | int, steps: int = 1):
    return cell >> (2 * steps)


# --------------------------------------------------------- morton as Column
def _spread_col(v: Column) -> Column:
    v = v.bitwiseOR(F.shiftleft(v, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x3333333333333333))
    v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x5555555555555555))
    return v


def cell_index_col(v: Column, res: int, axis: str) -> Column:
    """Clamped integer cell index along one axis — native column."""
    s = F.lit(cell_size(res))
    n = (1 << res) - 1
    origin = DOMAIN_X0 if axis == "x" else DOMAIN_Y0
    return F.least(
        F.greatest(F.floor((v - F.lit(origin)) / s), F.lit(0)), F.lit(n)
    ).cast("long")


def morton_from_ixy_col(ix: Column, iy: Column) -> Column:
    """Morton interleave of integer cell indices — native column."""
    return _spread_col(ix).bitwiseOR(F.shiftleft(_spread_col(iy), 1))


def cell_of_xy_col(x: Column, y: Column, res: int) -> Column:
    """Morton cell id as a native Spark column expression (stays in
    whole-stage codegen — the page-side indexing never leaves the JVM).

    Bit-interleaving via the same magic-mask spread used in the numpy
    kernel, written with Spark bitwise ops.
    """
    ix = cell_index_col(x, res, "x")
    iy = cell_index_col(y, res, "y")
    return morton_from_ixy_col(ix, iy)


def morton_sql(x_expr: str, y_expr: str, res: int) -> str:
    """The identical Morton-cell computation as a DuckDB SQL expression
    (bit-twiddling mirrors cell_of_xy_col exactly)."""
    s = cell_size(res)
    n = (1 << res) - 1
    ix = f"least(greatest(cast(floor((({x_expr}) - ({DOMAIN_X0!r})) / {s!r}) as bigint), 0), {n})"
    iy = f"least(greatest(cast(floor((({y_expr}) - ({DOMAIN_Y0!r})) / {s!r}) as bigint), 0), {n})"

    def spread(v: str) -> str:
        for shift, mask in (
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ):
            v = f"((({v}) | (({v}) << {shift})) & {mask})"
        return v

    return f"({spread(ix)} | ({spread(iy)} << 1))"


# ---------------------------------------------------------------- SSB grid
def ssb_grid_id_col(x: Column, y: Column, gridsize: int = 1000) -> Column:
    """SSBID as native columns — parity with ``bounds.py:329-337`` :
    str(int(x+2e6)//size*size) + str(int(y)//size*size)."""
    gx = (F.floor((x + F.lit(2_000_000.0)) / F.lit(float(gridsize))) * F.lit(gridsize)).cast(
        "long"
    )
    gy = (F.floor(y / F.lit(float(gridsize))) * F.lit(gridsize)).cast("long")
    return F.concat(gx.cast("string"), gy.cast("string"))


def ssb_grid_id_sql(x_expr: str, y_expr: str, gridsize: int = 1000) -> str:
    """The identical SSBID formula as a DuckDB SQL expression (oracle)."""
    return (
        f"concat(cast(cast(floor(({x_expr} + 2000000.0) / {gridsize}.0) * {gridsize} as bigint) as varchar), "
        f"cast(cast(floor(({y_expr}) / {gridsize}.0) * {gridsize} as bigint) as varchar))"
    )


def ssb_grid_id_np(x: np.ndarray, y: np.ndarray, gridsize: int = 1000) -> np.ndarray:
    gx = (np.floor((x + 2_000_000.0) / float(gridsize)) * gridsize).astype(np.int64)
    gy = (np.floor(y / float(gridsize)) * gridsize).astype(np.int64)
    return np.char.add(gx.astype(str), gy.astype(str))


# ------------------------------------------------------------ polygon cover
@dataclass
class CellCover:
    """Cover of one polygon at a fixed resolution.

    FULL coverage is stored COMPACT, as quadtree-block morton ranges
    ``[start, end)`` at ``res`` (the H3-compact-cover idea): a county-
    sized polygon keeps a few hundred block rows instead of millions of
    enumerated cells.  ``full`` expands the ranges for small covers /
    tests; callers at scale use ``full_ranges`` directly.
    """

    full_ranges: np.ndarray  # (N, 2) int64 [start, end) morton ranges at res
    partial: np.ndarray  # morton cells intersecting the boundary

    @property
    def full(self) -> np.ndarray:
        if len(self.full_ranges) == 0:
            return np.empty(0, dtype=np.int64)
        return np.concatenate(
            [np.arange(s, e, dtype=np.int64) for s, e in self.full_ranges]
        )

    def full_count(self) -> int:
        if len(self.full_ranges) == 0:
            return 0
        return int((self.full_ranges[:, 1] - self.full_ranges[:, 0]).sum())


def _seg_box_intersect(x1, y1, x2, y2, bx0, by0, bx1, by1) -> np.ndarray:
    """Vectorized: does segment i intersect the axis-aligned box?
    Separating-axis test via slab clipping (Liang-Barsky)."""
    dx = x2 - x1
    dy = y2 - y1
    t0 = np.zeros_like(x1)
    t1 = np.ones_like(x1)
    ok = np.ones(len(x1), dtype=bool)
    for p, q in (
        (-dx, x1 - bx0),
        (dx, bx1 - x1),
        (-dy, y1 - by0),
        (dy, by1 - y1),
    ):
        para_out = (p == 0) & (q < 0)
        ok &= ~para_out
        with np.errstate(divide="ignore", invalid="ignore"):
            r = np.where(p != 0, q / np.where(p == 0, 1.0, p), 0.0)
        t0 = np.where((p < 0), np.maximum(t0, r), t0)
        t1 = np.where((p > 0), np.minimum(t1, r), t1)
    ok &= t0 <= t1
    return ok


def _classify_box(edges, box) -> int:
    """-1 outside, 0 boundary, 1 fully inside polygon (edge set)."""
    x1, y1, x2, y2 = edges
    bx0, by0, bx1, by1 = box
    if len(x1) and _seg_box_intersect(
        x1, y1, x2, y2,
        np.float64(bx0), np.float64(by0), np.float64(bx1), np.float64(by1),
    ).any():
        return 0
    # no edge touches the box: box is entirely inside or outside — test center
    cx = np.array([(bx0 + bx1) / 2.0])
    cy = np.array([(by0 + by1) / 2.0])
    inside = points_in_polygon(cx, cy, edges)[0]
    return 1 if inside else -1


def polygon_cover(edges, bbox, res: int, coarse_res: int = 6) -> CellCover:
    """Quadtree cover of one polygon (given as edge arrays + bbox) at
    resolution ``res``: recursive quartering from ``coarse_res``.  A box
    entirely inside the polygon stops the recursion at its own level and
    is kept compact, as the one morton range of its res-level descendants
    (``CellCover.full_ranges``); boundary boxes recurse down to ``res``
    and become PARTIAL cells.
    """
    minx, miny, maxx, maxy = bbox
    full: list[np.ndarray] = []
    partial: list[int] = []

    def recurse(ix: int, iy: int, r: int) -> None:
        s = cell_size(r)
        bx0 = DOMAIN_X0 + ix * s
        by0 = DOMAIN_Y0 + iy * s
        box = (bx0, by0, bx0 + s, by0 + s)
        if box[0] > maxx or box[2] < minx or box[1] > maxy or box[3] < miny:
            return
        cls = _classify_box(edges, box)
        if cls == -1:
            return
        if cls == 1:
            # keep the block COMPACT: one contiguous morton range at res
            steps = res - r
            base = morton_np(np.array([ix], dtype=np.int64), np.array([iy], dtype=np.int64))[0]
            start = int(base) << (2 * steps)
            full.append((start, start + (1 << (2 * steps))))
            return
        if r == res:
            partial.append(
                int(morton_np(np.array([ix], dtype=np.int64), np.array([iy], dtype=np.int64))[0])
            )
            return
        for cx in (0, 1):
            for cy in (0, 1):
                recurse(ix * 2 + cx, iy * 2 + cy, r + 1)

    # start from the coarse cells overlapping the bbox
    s0 = cell_size(coarse_res)
    ix0 = max(int((minx - DOMAIN_X0) // s0), 0)
    ix1 = min(int((maxx - DOMAIN_X0) // s0), (1 << coarse_res) - 1)
    iy0 = max(int((miny - DOMAIN_Y0) // s0), 0)
    iy1 = min(int((maxy - DOMAIN_Y0) // s0), (1 << coarse_res) - 1)
    for ix in range(ix0, ix1 + 1):
        for iy in range(iy0, iy1 + 1):
            recurse(ix, iy, coarse_res)

    ranges = (
        np.array(sorted(full), dtype=np.int64).reshape(-1, 2)
        if full
        else np.empty((0, 2), dtype=np.int64)
    )
    return CellCover(
        full_ranges=ranges, partial=np.asarray(sorted(partial), dtype=np.int64)
    )


def covers_for_polygons(ga: GeomArray, res: int):
    """Per-geometry covers for a polygon batch.  Returns list of
    (row, CellCover, edges) where edges are the row's
    :func:`~.kernels.geom.ring_edges` (None for an empty row)."""
    bbs = geom_bounds(ga)
    empty = CellCover(np.empty((0, 2), np.int64), np.empty(0, np.int64))
    out = []
    for g in range(len(ga)):
        edges = ring_edges(ga.geom_rings(g))
        cover = empty if edges is None else polygon_cover(edges, tuple(bbs[g]), res)
        out.append((g, cover, edges))
    return out


def pick_cover_resolution(bbox, target_cells_across: int = 16) -> int:
    """Choose a cover resolution so a typical polygon spans ~target cells
    per axis — bounds candidate-pair fan-out while keeping covers small."""
    minx, miny, maxx, maxy = bbox
    extent = max(maxx - minx, maxy - miny, 1e-9)
    res = int(np.ceil(np.log2(DOMAIN_SIZE / (extent / target_cells_across))))
    return int(np.clip(res, 4, MAX_RES))


def cell_pyramid(
    df,
    resolutions,
    x_col: str = "x",
    y_col: str = "y",
):
    """Multi-resolution tile-pyramid counts ``(res, cell, n_pages)`` —
    the zoom-level density rollup a tiled lake maintains (tile manifests,
    render pyramids, salt-count policies per zoom).

    Scale shape: pages are binned ONCE at the finest requested
    resolution (one map-side-combined groupBy); every coarser level is
    derived from that HISTOGRAM by the Morton parent identity
    ``parent = cell >> 2*(res_f - res)`` (interleaved bits drop in
    pairs), exploded map-only and re-aggregated — the pyramid costs one
    corpus shuffle plus work proportional to the finest histogram, never
    a second scan.  Same identity in the DuckDB mirror
    (:func:`cell_pyramid_sql`) and numpy (:func:`cell_parent`).
    """
    from pyspark.sql import functions as F

    rs = sorted({int(r) for r in resolutions})
    rf = rs[-1]
    hist = df.groupBy(
        cell_of_xy_col(F.col(x_col), F.col(y_col), rf).alias("_c")
    ).agg(F.count("*").alias("_n"))
    levels = F.explode(F.array(*[F.lit(r).cast("long") for r in rs])).alias(
        "res"
    )
    return (
        hist.select("_c", "_n", levels)
        .groupBy(
            "res",
            F.expr(f"shiftright(_c, cast(({rf} - res) * 2 as int))").alias(
                "cell"
            ),
        )
        .agg(F.sum("_n").alias("n_pages"))
    )


def cell_pyramid_sql(
    rel: str,
    resolutions,
    x_col: str = "x",
    y_col: str = "y",
) -> str:
    """DuckDB mirror: same finest-level histogram, same parent shift."""
    rs = sorted({int(r) for r in resolutions})
    rf = rs[-1]
    vals = ", ".join(f"({r})" for r in rs)
    return f"""
    WITH h AS (
      SELECT {morton_sql(x_col, y_col, rf)} AS c, CAST(count(*) AS BIGINT) AS n
      FROM {rel} GROUP BY 1
    ),
    lv(res) AS (VALUES {vals})
    SELECT CAST(res AS BIGINT) AS res,
           (c >> (({rf} - res) * 2)) AS cell,
           CAST(sum(n) AS BIGINT) AS n_pages
    FROM h CROSS JOIN lv
    GROUP BY 1, 2
    """
