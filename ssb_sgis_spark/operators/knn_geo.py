"""The lon/lat grid of the cellwise kNN scale path: exact haversine kNN
by the shared ring-escalation driver on a wrap-aware lon/lat grid
(``knn.get_k_nearest_neighbors(metric="haversine")`` routes
non-broadcastable right sides here).

Why the planar cellwise guarantee breaks on a sphere: "outside the
(2r+1)² ring" separates candidates by ≥ r·cell in LON-INDEX or
LAT-INDEX, but longitude degrees shrink with latitude — near the poles
a huge Δλ is a tiny distance, so ``kth_dist ≤ r·cell`` proves nothing.
The fix is NOT a different grid (exactness never depends on the grid —
any candidate the rings miss is caught by escalation + the brute
fallback); it is a correct per-query-point PROOF bound:

    G(p, r) = min( R·rΔ,                      # |Δφ| ≥ rΔ branch
                   R·asin(cos φ_p · sin rΔ) ) # |Δλ| ≥ rΔ branch

with rΔ = radians(r · cell_deg).  The lat branch is the meridian arc
(great-circle distance ≥ R·|Δφ| always).  The lon branch is the
cross-track distance from p to the boundary meridian of the excluded
lune: the spherical distance from p to the great circle through the
poles at Δλ is asin(|p·n|) = asin(cos φ_p · sin Δλ), a valid lower
bound on the distance to ANY point with |Δλ| ≥ rΔ (for rΔ > 90° the
full-circle distance under-estimates the lune distance — an
under-estimate only delays proof, never falsifies it; for rΔ ≥ 180°
the lune is empty and only the lat branch separates).  A row is proven
when its kth distance ≤ G(p, r); rows near a pole have cos φ → 0, are
never proven by rings, and degrade gracefully into the distributed
brute pass — exactly the behaviour you want: polar data is the skew
case, and it costs a bounded brute stage instead of a wrong answer.

Grid: ilon = ⌊(lon+180)/cell⌋ mod N (N = 360/cell — the halo WRAPS at
the dateline, so ±179.9° are ring-1 neighbours), ilat = ⌊(lat+90)/cell⌋
clamped at the poles; replicas whose lat offset leaves the grid are
dropped (no cell exists there — nothing to probe).  Pair-uniqueness
per cell holds whenever 2r+1 ≤ N; wider rings dedup on (id, cell).

This module is only the grid and the metric: :func:`knn_cellwise_haversine`
builds a ``knn.CellGrid`` from them and runs the one ring-escalation
driver ``knn._knn_rings`` that the planar ``knn.knn_cellwise`` also
runs (reference parity ``neighbors.py:228-382``): round 1 replicates
the RIGHT side into 3×3 halos, later rounds replicate the shrinking
LEFT violator set with r doubling, then a brute stage (broadcast
violators, per-partition numpy haversine top-k, one final window).
Distances are great-circle metres on the R=6371008.8 sphere — the same
formula as ``kernels.geom.haversine_m`` and the knn_haversine oracle;
cross-engine comparisons round to whole metres (documented ~1e-9 m libm
drift).
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .knn import CellGrid, _knn_rings, _ring_offsets, _topk_block_haversine

R_EARTH = 6371008.8

__all__ = ["knn_cellwise_haversine"]


def _geo_cell(lon, lat, cell_deg: float, n_lon: int, n_lat: int, ox, oy):
    """Wrapped cell id for a (lon, lat) point shifted by (ox, oy) cells;
    NULL when the lat offset leaves the grid (no such cell)."""
    ilon = F.floor((lon + 180.0) / cell_deg).cast("long")
    ilat = F.least(
        F.floor((lat + 90.0) / cell_deg).cast("long"), F.lit(n_lat - 1)
    )  # lat=90 lands in the top band
    sh_lat = ilat + oy
    sh_lon = F.pmod(ilon + ox, F.lit(n_lon))
    return F.when(
        (sh_lat >= 0) & (sh_lat < n_lat), sh_lat * n_lon + sh_lon
    )


def _geo_halo(df, id_col, lon_col, lat_col, r: int, *, cell_deg, n_lon, n_lat):
    """Replicate rows into their (2r+1)² ring cells (lon wraps, lat
    drops off-grid replicas).  Distinct cells per row when 2r+1 ≤ n_lon,
    else dedup."""
    out = (
        df.withColumn("_o", F.explode(F.array(*_ring_offsets(r))))
        .withColumn(
            "_cell",
            _geo_cell(
                F.col(lon_col),
                F.col(lat_col),
                cell_deg,
                n_lon,
                n_lat,
                F.col("_o.ox"),
                F.col("_o.oy"),
            ),
        )
        .filter(F.col("_cell").isNotNull())
        .drop("_o")
    )
    if 2 * r + 1 > n_lon:
        out = out.dropDuplicates([id_col, "_cell"])
    return out


def _haversine_col(llon, llat, rlon, rlat):
    """Great-circle metres, same formula as kernels.geom.haversine_m."""
    a = F.pow(F.sin(F.radians(rlat - llat) / 2), 2) + F.cos(
        F.radians(llat)
    ) * F.cos(F.radians(rlat)) * F.pow(F.sin(F.radians(rlon - llon) / 2), 2)
    return 2 * R_EARTH * F.asin(F.sqrt(a))


def _proof_bound(lat_col, r: int, cell_deg: float):
    """G(p, r): a lower bound on the distance to anything outside the
    (2r+1)² ring (see module docstring)."""
    rdelta = np.radians(r * cell_deg)
    g_lat = R_EARTH * rdelta
    if r * cell_deg >= 180.0:
        return F.lit(float(g_lat))
    g_lon = R_EARTH * F.asin(
        F.cos(F.radians(lat_col)) * F.lit(float(np.sin(rdelta)))
    )
    return F.least(F.lit(float(g_lat)), g_lon)


def knn_cellwise_haversine(
    left: DataFrame,
    right: DataFrame,
    k: int,
    cell_deg: float = 1.0,
    *,
    left_id: str = "uid",
    left_x: str = "x",
    left_y: str = "y",
    right_id: str = "vid",
    right_x: str = "px",
    right_y: str = "py",
    n_right: int | None = None,
) -> DataFrame:
    """Exact great-circle kNN without broadcasting the right side.
    Coordinates are degrees (x=lon, y=lat), lon normalized to
    [-180, 180); output ``(left_id, neighbor_id, distance, knn_rank)``
    in metres, ties on (distance, neighbor_id) — the broadcast path's
    and oracle's ordering."""
    if not (0 < cell_deg <= 90):
        raise ValueError("cell_deg must be in (0, 90]")
    n_lon = int(round(360.0 / cell_deg))
    if abs(n_lon * cell_deg - 360.0) > 1e-9:
        raise ValueError("cell_deg must divide 360 exactly (wrap grid)")
    n_lat = int(np.ceil(180.0 / cell_deg))

    grid = CellGrid(
        home=lambda lon, lat: _geo_cell(lon, lat, cell_deg, n_lon, n_lat, F.lit(0), F.lit(0)),
        halo=partial(_geo_halo, cell_deg=cell_deg, n_lon=n_lon, n_lat=n_lat),
        dist=_haversine_col,
        bound=lambda lat, r: _proof_bound(lat, r, cell_deg),
        block=_topk_block_haversine,
    )

    def wrap_lon(c):
        return (F.pmod(F.col(c) + 180.0, F.lit(360.0)) - 180.0).alias(c)

    return _knn_rings(
        left.select(left_id, wrap_lon(left_x), left_y),
        right.select(right_id, wrap_lon(right_x), right_y),
        k, grid, (left_id, left_x, left_y), (right_id, right_x, right_y),
        n_right,
    )
