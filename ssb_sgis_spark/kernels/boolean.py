"""Polygon boolean operations from scratch — arrangement + side classification.

The reference delegates every set operation to GEOS (``shapely.intersection``
/ ``difference`` / ``union`` imports at ``sgis/geopandas_tools/overlay.py:16-24``).
This environment has no GEOS, so the engine implements the classic
*overlay-by-arrangement* algorithm in numpy:

1. collect the directed edges of every input ring,
2. split every edge at its intersections with edges of other polygons
   (vectorized segment×segment solve over bbox-prefiltered pairs,
   collinear-overlap aware),
3. classify each resulting sub-edge by sampling coverage counts a small
   offset to its left and right (crossing-parity PIP per input polygon —
   sample points are off-boundary by construction, so parity is exact),
4. keep sub-edges where the boolean predicate (union / intersection /
   difference / symmetric-difference over group-A/group-B coverage)
   changes across the edge, oriented interior-on-left,
5. stitch directed sub-edges into rings (leftmost-turn walk), CCW rings are
   exteriors, CW rings are holes, holes assigned to containing exteriors.

One kernel therefore serves ``clean_overlay``'s six hows
(``overlay.py:69-77``), dissolve's unary union
(``buffer_dissolve_explode.py:158``), ``clean_clip`` and ``get_gaps``.

Geometry I/O is "parts" form: a polygon is ``list[np.ndarray]`` of closed
(k,2) rings (exterior first by convention, but classification never relies
on ring order or orientation), a multipolygon is a list of those.

Precision model: vertices are snapped to ``SNAP`` (1e-6 of a metre at the
engine's EPSG:25833-style scale) for connectivity only; emitted coordinates
keep full float64. The side-sample offset ``delta`` adapts to local edge
length. Like the reference, which only asserts 3-decimal area equality
across GEOS orderings (``tests/test_overlay.py:80-88``), exactness is
area-level, not bit-level, for the boundary itself.
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np

from .geom import points_in_polygon, ring_edges

SNAP = 1e-6  # vertex quantum for connectivity keys (default grid size)


@contextmanager
def _grid_size(quantum: float):
    """Scoped override of the vertex quantum — the reference's
    ``grid_size`` knob (``overlay.py:58-60``: precision grid passed to
    GEOS).  Every helper reads the module attribute at call time, and
    kernels run single-threaded per worker process, so a scoped global
    swap is race-free."""
    global SNAP
    old = SNAP
    SNAP = float(quantum)
    try:
        yield
    finally:
        SNAP = old


# --------------------------------------------------------------- primitives
def _close_ring(r: np.ndarray) -> np.ndarray:
    if len(r) and not (r[0] == r[-1]).all():
        r = np.vstack([r, r[:1]])
    return r


def ring_signed_area(r: np.ndarray) -> float:
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def polygon_area(parts: list[list[np.ndarray]]) -> float:
    """Unsigned area of a multipolygon in parts form (holes subtract)."""
    a = 0.0
    for rings in parts:
        for i, r in enumerate(rings):
            a += abs(ring_signed_area(r)) * (1.0 if i == 0 else -1.0)
    return a


# ----------------------------------------------------------- edge splitting
def _candidate_pairs(b1: np.ndarray, b2: np.ndarray, chunk: int = 1024):
    """Indices (i, j) of bbox-overlapping edge pairs between two edge sets.
    b = (E,4) [minx,miny,maxx,maxy]. Vectorized in row chunks so memory is
    O(chunk × E), not O(E²) — per overlay task E can reach 10^5 when
    buffering with quad_segs=50."""
    iis, jjs = [], []
    for lo in range(0, len(b1), chunk):
        hi = min(lo + chunk, len(b1))
        s = b1[lo:hi]
        ov = (
            (s[:, None, 0] <= b2[None, :, 2])
            & (s[:, None, 2] >= b2[None, :, 0])
            & (s[:, None, 1] <= b2[None, :, 3])
            & (s[:, None, 3] >= b2[None, :, 1])
        )
        i, j = np.nonzero(ov)
        iis.append(i + lo)
        jjs.append(j)
    if not iis:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    return np.concatenate(iis), np.concatenate(jjs)


def _edge_bboxes(x1, y1, x2, y2) -> np.ndarray:
    return np.column_stack(
        [
            np.minimum(x1, x2),
            np.minimum(y1, y2),
            np.maximum(x1, x2),
            np.maximum(y1, y2),
        ]
    )


def _seg_intersections(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2, eps=1e-12):
    """Vectorized segment×segment intersection over paired arrays.

    Returns (ta, tb, collinear_mask, ta2, tb2): parametric split positions
    on segment a and b.  For proper crossings ta/tb in [0,1]; for collinear
    overlaps, (ta, ta2) are b's endpoints projected onto a and (tb, tb2)
    a's endpoints projected onto b (NaN where not applicable).
    """
    rx, ry = ax2 - ax1, ay2 - ay1
    sx, sy = bx2 - bx1, by2 - by1
    denom = rx * sy - ry * sx
    qpx, qpy = bx1 - ax1, by1 - ay1
    cross_qp_s = qpx * sy - qpy * sx
    cross_qp_r = qpx * ry - qpy * rx

    # scale-aware tolerance: |denom| relative to edge length products
    lr = np.hypot(rx, ry)
    ls = np.hypot(sx, sy)
    tol = eps * np.maximum(lr * ls, 1.0)
    parallel = np.abs(denom) <= tol
    collinear = parallel & (np.abs(cross_qp_r) <= eps * np.maximum(lr * lr, 1.0))

    with np.errstate(divide="ignore", invalid="ignore"):
        ta = np.where(parallel, np.nan, cross_qp_s / denom)
        tb = np.where(parallel, np.nan, cross_qp_r / denom)

    ok = ~parallel & (ta >= -eps) & (ta <= 1 + eps) & (tb >= -eps) & (tb <= 1 + eps)
    ta = np.where(ok, np.clip(ta, 0.0, 1.0), np.nan)
    tb = np.where(ok, np.clip(tb, 0.0, 1.0), np.nan)

    # collinear overlap: project endpoints
    with np.errstate(divide="ignore", invalid="ignore"):
        rr = rx * rx + ry * ry
        ss = sx * sx + sy * sy
        ta_b1 = ((bx1 - ax1) * rx + (by1 - ay1) * ry) / rr
        ta_b2 = ((bx2 - ax1) * rx + (by2 - ay1) * ry) / rr
        tb_a1 = ((ax1 - bx1) * sx + (ay1 - by1) * sy) / ss
        tb_a2 = ((ax2 - bx1) * sx + (ay2 - by1) * sy) / ss
    ca = np.where(collinear, ta_b1, np.nan)
    ca2 = np.where(collinear, ta_b2, np.nan)
    cb = np.where(collinear, tb_a1, np.nan)
    cb2 = np.where(collinear, tb_a2, np.nan)
    return ta, tb, ca, ca2, cb, cb2


class _EdgeSoup:
    """All edges of all input polygons with their owning polygon id."""

    def __init__(self):
        self.x1 = []
        self.y1 = []
        self.x2 = []
        self.y2 = []
        self.poly = []

    def add_polygon(self, pid: int, rings: list[np.ndarray]) -> None:
        for r in rings:
            r = _close_ring(np.asarray(r, dtype=np.float64))
            if len(r) < 4:
                continue
            # drop zero-length edges
            keep = ~((r[:-1] == r[1:]).all(axis=1))
            a, b = r[:-1][keep], r[1:][keep]
            if not len(a):
                continue
            self.x1.append(a[:, 0])
            self.y1.append(a[:, 1])
            self.x2.append(b[:, 0])
            self.y2.append(b[:, 1])
            self.poly.append(np.full(len(a), pid, dtype=np.int64))

    def arrays(self):
        if not self.x1:
            z = np.empty(0)
            return z, z, z, z, np.empty(0, dtype=np.int64)
        return (
            np.concatenate(self.x1),
            np.concatenate(self.y1),
            np.concatenate(self.x2),
            np.concatenate(self.y2),
            np.concatenate(self.poly),
        )


def _split_edges(x1, y1, x2, y2, poly):
    """Split all edges at intersections with edges of OTHER polygons.
    Returns sub-edge arrays (sx1, sy1, sx2, sy2, spoly)."""
    n = len(x1)
    if n == 0:
        return x1, y1, x2, y2, poly
    bb = _edge_bboxes(x1, y1, x2, y2)
    ii, jj = _candidate_pairs(bb, bb)
    mask = (ii < jj) & (poly[ii] != poly[jj])
    ii, jj = ii[mask], jj[mask]

    splits: list[list[float]] = [[] for _ in range(n)]
    if len(ii):
        ta, tb, ca, ca2, cb, cb2 = _seg_intersections(
            x1[ii], y1[ii], x2[ii], y2[ii], x1[jj], y1[jj], x2[jj], y2[jj]
        )
        prop = ~np.isnan(ta)
        for k in np.nonzero(prop)[0]:
            t_a, t_b = float(ta[k]), float(tb[k])
            if 0.0 < t_a < 1.0:
                splits[ii[k]].append(t_a)
            if 0.0 < t_b < 1.0:
                splits[jj[k]].append(t_b)
        col = ~np.isnan(ca)
        for k in np.nonzero(col)[0]:
            for t in (float(ca[k]), float(ca2[k])):
                if 0.0 < t < 1.0:
                    splits[ii[k]].append(t)
            for t in (float(cb[k]), float(cb2[k])):
                if 0.0 < t < 1.0:
                    splits[jj[k]].append(t)

    sx1, sy1, sx2, sy2, sp = [], [], [], [], []
    for e in range(n):
        ts = sorted(set([0.0, 1.0] + splits[e]))
        xs = x1[e] + (x2[e] - x1[e]) * np.asarray(ts)
        ys = y1[e] + (y2[e] - y1[e]) * np.asarray(ts)
        m = len(ts) - 1
        sx1.append(xs[:-1])
        sy1.append(ys[:-1])
        sx2.append(xs[1:])
        sy2.append(ys[1:])
        sp.append(np.full(m, poly[e], dtype=np.int64))
    return (
        np.concatenate(sx1),
        np.concatenate(sy1),
        np.concatenate(sx2),
        np.concatenate(sy2),
        np.concatenate(sp),
    )


# -------------------------------------------------------------- the kernel
def _keys(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Connectivity key per point: quantized (ix, iy) packed into complex
    (fast structured dedupe without tuple objects)."""
    ix = np.round(x / SNAP).astype(np.int64)
    iy = np.round(y / SNAP).astype(np.int64)
    return ix.astype(np.complex128) + 1j * iy.astype(np.complex128)


def _fast_no_crossing(pa: list[np.ndarray], pb: list[np.ndarray], op: str):
    """Shortcut for ONE polygon vs ONE polygon when their boundaries do not
    cross: the result is disjoint / A⊂B / B⊂A and needs no arrangement.
    Returns None when the shortcut doesn't apply (crossings, collinear
    touches, or an op case that needs ring surgery).  This is the dominant
    case in overlay workloads (a small feature entirely inside a big tile)
    and turns ~1 ms of arrangement into ~30 µs of numpy."""
    ea = ring_edges(pa)
    eb = ring_edges(pb)
    ba = _edge_bboxes(*ea)
    bb = _edge_bboxes(*eb)
    # total-bbox disjoint?
    if (
        ba[:, 0].min() > bb[:, 2].max()
        or ba[:, 2].max() < bb[:, 0].min()
        or ba[:, 1].min() > bb[:, 3].max()
        or ba[:, 3].max() < bb[:, 1].min()
    ):
        crossings = False
    else:
        ii, jj = _candidate_pairs(ba, bb)
        if len(ii):
            ta, tb, ca, ca2, cb, cb2 = _seg_intersections(
                ea[0][ii], ea[1][ii], ea[2][ii], ea[3][ii],
                eb[0][jj], eb[1][jj], eb[2][jj], eb[3][jj],
            )
            eps = 1e-12
            proper = (~np.isnan(ta)) & (ta > eps) & (ta < 1 - eps) & (tb > eps) & (tb < 1 - eps)
            touching = (~np.isnan(ta)) & ~proper
            collinear = ~np.isnan(ca)
            if proper.any() or touching.any() or collinear.any():
                return None  # boundaries interact -> full kernel
        crossings = False
    a_in_b = bool(points_in_polygon(ea[0][:1], ea[1][:1], eb)[0])
    b_in_a = bool(points_in_polygon(eb[0][:1], eb[1][:1], ea)[0])
    if (a_in_b or b_in_a) and (len(pa) > 1 or len(pb) > 1):
        # containment with holes: the inner polygon may contain the outer's
        # hole ring without any boundary crossing — needs the full kernel
        return None
    if a_in_b:
        if op == "intersection":
            return [list(pa)]
        if op == "difference":
            return []
        if op == "union":
            return [list(pb)]
        return None  # symdiff needs A as a hole of B
    if b_in_a:
        if op == "intersection":
            return [list(pb)]
        return None  # difference/symdiff need B as a hole; union == A
    # disjoint
    if op == "intersection":
        return []
    if op == "difference":
        return [list(pa)]
    if op in ("union", "symdiff"):
        return [list(pa), list(pb)]
    return None


def overlay_parts(
    group_a: list[list[list[np.ndarray]]],
    group_b: list[list[list[np.ndarray]]],
    op: str,
    grid_size: float | None = None,
) -> list[list[np.ndarray]]:
    """Boolean op between two groups of multipolygons (parts form).

    op: "union" (of everything in A and B), "intersection" (A∩B),
    "difference" (A−B), "symdiff" (A xor B).  Group coverage means
    "inside ANY member", so difference against a group subtracts the
    union of that group in one pass — exactly the reference's
    groupby-left union-of-right difference
    (``overlay.py:338-345`` + ``:473-474``).

    ``grid_size`` overrides the vertex quantum for this call (the
    reference's precision knob, ``overlay.py:58-60``): vertices within
    ``grid_size`` of each other share a connectivity key, and result
    rings below ``grid_size**2`` area are dropped.

    Returns the result as ONE multipolygon in parts form ([] if empty).
    """
    if grid_size is not None:
        with _grid_size(grid_size):
            return overlay_parts(group_a, group_b, op)
    polys: list[tuple[int, list[np.ndarray]]] = []
    for grp_flag, group in ((0, group_a), (1, group_b)):
        for mp in group:
            for rings in mp:
                rings = [_close_ring(np.asarray(r, dtype=np.float64)) for r in rings]
                rings = [r for r in rings if len(r) >= 4]
                if rings:
                    polys.append((grp_flag, rings))
    if not polys:
        return []

    a_polys = [r for g, r in polys if g == 0]
    b_polys = [r for g, r in polys if g == 1]
    if len(a_polys) == 1 and len(b_polys) == 1:
        fast = _fast_no_crossing(a_polys[0], b_polys[0], op)
        if fast is not None:
            return fast
    if len(b_polys) == 0 and len(a_polys) == 1 and op in ("union", "difference"):
        return [list(a_polys[0])]
    if len(b_polys) == 0 and op == "intersection":
        return []

    soup = _EdgeSoup()
    per_poly_edges = []
    groups = []
    pid = 0
    for grp_flag, rings in polys:
        soup.add_polygon(pid, rings)
        per_poly_edges.append(ring_edges(rings))
        groups.append(grp_flag)
        pid += 1
    groups_arr = np.asarray(groups, dtype=np.int8)

    x1, y1, x2, y2, poly = soup.arrays()
    sx1, sy1, sx2, sy2, sp = _split_edges(x1, y1, x2, y2, poly)

    # dedupe geometrically-coincident sub-edges (shared borders): canonical
    # undirected key; remember one representative orientation.
    k1 = _keys(sx1, sy1)
    k2 = _keys(sx2, sy2)
    lo = np.where(
        (k1.real < k2.real) | ((k1.real == k2.real) & (k1.imag <= k2.imag)), k1, k2
    )
    hi = np.where(
        (k1.real < k2.real) | ((k1.real == k2.real) & (k1.imag <= k2.imag)), k2, k1
    )
    und_key = lo + 1j * 0  # build structured key via records
    rec = np.empty(len(sx1), dtype=[("a", np.complex128), ("b", np.complex128)])
    rec["a"] = lo
    rec["b"] = hi
    _, first_idx = np.unique(rec, return_index=True)
    sx1, sy1, sx2, sy2 = sx1[first_idx], sy1[first_idx], sx2[first_idx], sy2[first_idx]

    # drop degenerate (snapped-identical endpoints)
    nz = (np.abs(_keys(sx1, sy1) - _keys(sx2, sy2)) > 0)
    sx1, sy1, sx2, sy2 = sx1[nz], sy1[nz], sx2[nz], sy2[nz]
    if len(sx1) == 0:
        return []

    # side samples
    mx = 0.5 * (sx1 + sx2)
    my = 0.5 * (sy1 + sy2)
    dx = sx2 - sx1
    dy = sy2 - sy1
    ln = np.hypot(dx, dy)
    delta = np.minimum(1e-3, 0.125 * ln)  # metres; well above SNAP
    nxu = -dy / ln
    nyu = dx / ln
    lxp = mx + nxu * delta
    lyp = my + nyu * delta
    rxp = mx - nxu * delta
    ryp = my - nyu * delta

    # coverage counts per group at left/right samples; each polygon only
    # tests the sample points inside its own bbox (everything else counts
    # 0) — turns the union-of-N classification from O(N·E) into near-
    # linear for spread-out clusters
    covL = np.zeros((2, len(sx1)), dtype=np.int32)
    covR = np.zeros((2, len(sx1)), dtype=np.int32)
    for p in range(pid):
        g = groups_arr[p]
        e = per_poly_edges[p]
        if e is None:
            continue
        bx0 = min(e[0].min(), e[2].min())
        bx1 = max(e[0].max(), e[2].max())
        by0 = min(e[1].min(), e[3].min())
        by1 = max(e[1].max(), e[3].max())
        mL = (lxp >= bx0) & (lxp <= bx1) & (lyp >= by0) & (lyp <= by1)
        mR = (rxp >= bx0) & (rxp <= bx1) & (ryp >= by0) & (ryp <= by1)
        if mL.any():
            covL[g][mL] += points_in_polygon(lxp[mL], lyp[mL], e).astype(np.int32)
        if mR.any():
            covR[g][mR] += points_in_polygon(rxp[mR], ryp[mR], e).astype(np.int32)

    def inside(cov):
        a = cov[0] >= 1
        b = cov[1] >= 1
        if op == "union":
            return a | b
        if op == "intersection":
            return a & b
        if op == "difference":
            return a & ~b
        if op == "symdiff":
            return a ^ b
        raise ValueError(f"unknown op {op!r}")

    inL = inside(covL)
    inR = inside(covR)
    keep = inL != inR
    if not keep.any():
        return []
    # orient interior-on-left
    flip = keep & inR
    fx1 = np.where(flip, sx2, sx1)[keep]
    fy1 = np.where(flip, sy2, sy1)[keep]
    fx2 = np.where(flip, sx1, sx2)[keep]
    fy2 = np.where(flip, sy1, sy2)[keep]

    rings = _stitch_rings(fx1, fy1, fx2, fy2)
    return _assemble_polygons(rings)


def _stitch_rings(x1, y1, x2, y2) -> list[np.ndarray]:
    """Walk directed sub-edges (interior-on-left) into closed rings.
    At junctions take the most-counterclockwise (sharpest-left) turn, which
    keeps the interior consistently on the left."""
    n = len(x1)
    k1 = _keys(x1, y1)
    k2 = _keys(x2, y2)
    out_edges: dict[complex, list[int]] = {}
    for i in range(n):
        out_edges.setdefault(complex(k1[i]), []).append(i)
    ang = np.arctan2(y2 - y1, x2 - x1)
    used = np.zeros(n, dtype=bool)
    rings: list[np.ndarray] = []
    for start in range(n):
        if used[start]:
            continue
        path = [start]
        used[start] = True
        cur = start
        guard = 0
        while guard <= n:
            guard += 1
            cands = [e for e in out_edges.get(complex(k2[cur]), []) if not used[e]]
            if not cands:
                break
            # incoming direction reversed
            rev = ang[cur] + np.pi
            best, best_turn = None, None
            for e in cands:
                turn = (ang[e] - rev) % (2 * np.pi)  # CW-measured from reverse
                # smallest positive clockwise turn keeps the leftmost face
                if best is None or turn < best_turn:
                    best, best_turn = e, turn
            used[best] = True
            path.append(best)
            cur = best
            # ring closes when we return to the start vertex
            if complex(k2[cur]) == complex(k1[start]):
                pts = np.column_stack(
                    [np.concatenate([x1[path], [x2[path[-1]]]]),
                     np.concatenate([y1[path], [y2[path[-1]]]])]
                )
                rings.append(pts)
                break
        # open walks (numerical leaks) are dropped
    return rings


def _assemble_polygons(rings: list[np.ndarray]) -> list[list[np.ndarray]]:
    """CCW rings are exteriors, CW rings holes; each hole goes to the
    smallest-area exterior containing its first vertex."""
    exts: list[tuple[float, np.ndarray]] = []
    holes: list[np.ndarray] = []
    for r in rings:
        a = ring_signed_area(r)
        if abs(a) < SNAP * SNAP:
            continue
        if a > 0:
            exts.append((a, r))
        else:
            holes.append(r)
    if not exts:
        return []
    parts: list[list[np.ndarray]] = [[r] for _, r in exts]
    ext_edges = [ring_edges([r]) for _, r in exts]
    areas = np.array([a for a, _ in exts])
    for h in holes:
        px = np.array([h[0, 0]])
        py = np.array([h[0, 1]])
        containing = [
            i for i in range(len(exts)) if points_in_polygon(px, py, ext_edges[i])[0]
        ]
        if not containing:
            # hole's corner is exactly on an exterior vertex: test midpoint
            px = np.array([(h[0, 0] + h[1, 0]) / 2.0])
            py = np.array([(h[0, 1] + h[1, 1]) / 2.0])
            containing = [
                i for i in range(len(exts)) if points_in_polygon(px, py, ext_edges[i])[0]
            ]
        if containing:
            best = min(containing, key=lambda i: areas[i])
            parts[best].append(h)
    return parts


def parts_intersect(a: list[list[np.ndarray]], b: list[list[np.ndarray]]) -> bool:
    """Cheap exact polygon-intersects predicate (no arrangement): true iff
    any boundary edges cross, or one polygon's vertex lies inside the other.
    The predicate behind get_polygon_clusters / get_intersections
    (reference STRtree query ``duplicates.py:276-277``)."""
    ea = ring_edges([r for rings in a for r in rings])
    eb = ring_edges([r for rings in b for r in rings])
    if ea is None or eb is None:
        return False
    ba = _edge_bboxes(*ea)
    bb = _edge_bboxes(*eb)
    ii, jj = _candidate_pairs(ba, bb)
    if len(ii):
        ta, tb, ca, ca2, cb, cb2 = _seg_intersections(
            ea[0][ii], ea[1][ii], ea[2][ii], ea[3][ii],
            eb[0][jj], eb[1][jj], eb[2][jj], eb[3][jj],
        )
        if (~np.isnan(ta)).any() or (~np.isnan(ca)).any():
            return True
    # containment: test one vertex of each against the other's full edge set
    for rings_a in a:
        px = np.array([rings_a[0][0, 0]])
        py = np.array([rings_a[0][0, 1]])
        for rings_b in b:
            if points_in_polygon(px, py, ring_edges(rings_b))[0]:
                return True
    for rings_b in b:
        px = np.array([rings_b[0][0, 0]])
        py = np.array([rings_b[0][0, 1]])
        for rings_a in a:
            if points_in_polygon(px, py, ring_edges(rings_a))[0]:
                return True
    return False


# ---------------------------------------------------------- convenience ops
def union_all(polys: list[list[list[np.ndarray]]]) -> list[list[np.ndarray]]:
    """Unary union of many multipolygons (the dissolve kernel —
    reference ``buffer_dissolve_explode.py:158`` dissolve)."""
    return overlay_parts(polys, [], "union")


def intersection(a, b) -> list[list[np.ndarray]]:
    return overlay_parts([a], [b], "intersection")


def difference(a, bs: list) -> list[list[np.ndarray]]:
    """a minus the union of bs (reference ``overlay.py:338-345``)."""
    return overlay_parts([a], bs, "difference")


def symmetric_difference(a, b) -> list[list[np.ndarray]]:
    return overlay_parts([a], [b], "symdiff")
