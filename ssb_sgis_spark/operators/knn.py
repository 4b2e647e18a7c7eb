"""k-nearest-neighbors joins (reference: get_k_nearest_neighbors /
get_all_distances / sjoin_nearest, ``sgis/geopandas_tools/neighbors.py``).

Physical strategies:

* **broadcast kNN** (default, right side up to ~10^6 points): the right
  point cloud is collected once, sorted by id, and broadcast; each Arrow
  batch of the left side computes a vectorized (batch × n_right) distance
  block in numpy and takes the top-k per row.  Shuffle-free — the plan is
  scan → mapInPandas → (optional) final filter, so it scales linearly in
  the left (10^12-page) side and with executor count.

* **cell-partitioned kNN** (both sides huge): one ring-escalation driver,
  :func:`_knn_rings`, over a :class:`CellGrid` that hides the grid and
  the metric.  Left and right are bucketed into cells; round 1 joins
  each left cell to its own + ring-1 right cells and computes local
  top-k; rows whose kth distance exceeds the grid's proof bound escalate
  to a wider ring (ring expansion, mirrors the reference's two-stage
  candidate widening), and the residue falls to a distributed brute
  pass.  Two grids plug in: planar quadtree cells with Euclidean
  distance (:func:`knn_cellwise`), and wrap-aware lon/lat cells with
  great-circle metres (``knn_geo.knn_cellwise_haversine``).

Determinism / parity: ties broken by ascending neighbor id (stable
argsort over an id-sorted cloud); identical points ARE neighbors
(distance 0 rows kept — reference docstring ``neighbors.py:242-247``);
``strict=True`` raises when k > n_right, else k is clamped
(``neighbors.py:394-398``).
"""

from __future__ import annotations

from functools import partial, reduce
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType


def _collect_right(right: DataFrame, id_col: str, x_col: str, y_col: str):
    pdf = right.select(id_col, x_col, y_col).toPandas()
    order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
    rid = pdf[id_col].to_numpy()[order]
    rx = pdf[x_col].to_numpy(dtype=np.float64)[order]
    ry = pdf[y_col].to_numpy(dtype=np.float64)[order]
    return rid, rx, ry


def _select_topk_tiesafe(d, kk: int):
    """Row-wise positions of the ``kk`` smallest values ordered by
    (value, column), EXACT under ties.

    np.argpartition alone breaks ties at the kk-th boundary arbitrarily:
    a candidate tied at the kk-th distance but with a smaller column
    position (= smaller neighbor id over an id-sorted cloud) can be
    discarded.  Here the partition is repaired for the (rare) rows where
    a boundary tie exists: keep everything strictly below the kth value,
    then tied entries in ascending column order.  O(n) fast path; the
    per-row repair only runs on rows with an actual boundary tie.
    """
    n = d.shape[1]
    if kk >= n:
        return np.argsort(d, axis=1, kind="stable")[:, :kk]
    part = np.argpartition(d, kk - 1, axis=1)[:, :kk]
    vals = np.take_along_axis(d, part, axis=1)
    kth = vals.max(axis=1)
    total_tied = (d == kth[:, None]).sum(axis=1)
    sel_tied = (vals == kth[:, None]).sum(axis=1)
    for i in np.flatnonzero(total_tied > sel_tied):
        row = d[i]
        lt = np.flatnonzero(row < kth[i])
        eq = np.flatnonzero(row == kth[i])
        part[i] = np.concatenate([lt, eq[: kk - len(lt)]])
    # order the kk candidates by (distance, position): stable sort on
    # distance after a primary sort by position keeps position order on ties
    pos_order = np.argsort(part, axis=1, kind="stable")
    part = np.take_along_axis(part, pos_order, axis=1)
    vals = np.take_along_axis(d, part, axis=1)
    ord2 = np.argsort(vals, axis=1, kind="stable")
    return np.take_along_axis(part, ord2, axis=1)


def _topk_block(lx, ly, rx, ry, k: int):
    """Vectorized top-k for a left batch vs the whole right cloud.

    Distances use the exact sqrt(dx*dx + dy*dy) expression of the SQL
    oracle.  Returns (neighbor_pos, dist) arrays of shape (batch, k),
    ordered by (distance, right_position) — right is pre-sorted by id, so
    ties resolve to ascending neighbor id, matching the oracle's
    ``ORDER BY dist, vid`` window (tie-exact even at the kth boundary,
    via :func:`_select_topk_tiesafe`).
    """
    dx = lx[:, None] - rx[None, :]
    dy = ly[:, None] - ry[None, :]
    d = np.sqrt(dx * dx + dy * dy)
    order = _select_topk_tiesafe(d, k)
    return order, np.take_along_axis(d, order, axis=1)


def _topk_block_haversine(llon, llat, rlon, rlat, k: int):
    """Haversine variant of :func:`_topk_block`: great-circle metres over
    a (batch x n_right) broadcast block (north-star: "Haversine kNN
    inside pandas/Arrow UDFs").  Coordinates in degrees (lon, lat).

    Unlike sqrt, sin/cos are not correctly-rounded and numpy's SIMD
    loops differ from another engine's libm by ~1 ulp (measured 1.6e-9 m
    on realistic extents) — callers comparing across engines must round
    the output (whole metres is 9 orders of magnitude above the drift);
    ranks are safe because distinct point spacing dwarfs the drift.
    """
    from ..kernels.geom import haversine_m

    d = haversine_m(llon[:, None], llat[:, None], rlon[None, :], rlat[None, :])
    order = _select_topk_tiesafe(d, k)
    return order, np.take_along_axis(d, order, axis=1)


def get_k_nearest_neighbors(
    left: DataFrame,
    right: DataFrame,
    k: int,
    *,
    left_id: str = "uid",
    left_x: str = "x",
    left_y: str = "y",
    right_id: str = "vid",
    right_x: str = "px",
    right_y: str = "py",
    strict: bool = False,
    max_distance: float | None = None,
    broadcast_threshold: int = 2_000_000,
    metric: str = "euclidean",
) -> DataFrame:
    """kNN join.  Output columns: (left_id, neighbor_id, distance,
    knn_rank 1..k) — exactly len(left) * k rows (reference invariant,
    ``tests/test_neighbors.py:30-36``) unless ``max_distance`` filters
    (sjoin_nearest with max_distance, ``neighbors.py:106-110``).

    Physical routing: right sides up to ``broadcast_threshold`` rows use
    the broadcast block kernel; bigger right sides route through the
    cell-partitioned scale path (ring escalation, no broadcast of the
    cloud) — :func:`knn_cellwise`, or ``knn_geo.knn_cellwise_haversine``
    for ``metric="haversine"`` — at a cell size picked from the right
    side's density.
    """
    if metric not in ("euclidean", "haversine"):
        raise ValueError(f"unknown metric {metric!r}")
    n_right = right.count()
    if strict and k > n_right:
        raise ValueError(f"k={k} > n_right={n_right} with strict=True")
    k_eff = min(k, n_right)
    cols = dict(
        left_id=left_id, left_x=left_x, left_y=left_y,
        right_id=right_id, right_x=right_x, right_y=right_y,
    )
    if n_right <= broadcast_threshold:
        block = _topk_block if metric == "euclidean" else _topk_block_haversine
        out = _knn_broadcast(left, right, k_eff, block, **cols)
    else:
        if metric == "haversine":
            from .knn_geo import knn_cellwise_haversine as cellwise

            cell = _auto_geo_cell_deg(right, n_right, k, right_x, right_y)
        else:
            cellwise = knn_cellwise
            cell = _auto_knn_res(right, n_right, k, right_x, right_y)
        out = cellwise(left, right, k_eff, cell, **cols, n_right=n_right)
    if max_distance is not None:
        out = out.filter(F.col("distance") <= max_distance)
    return out


def _knn_broadcast(
    left, right, k: int, block, *, left_id, left_x, left_y, right_id, right_x, right_y
) -> DataFrame:
    """The broadcast path: collect + broadcast the id-sorted right cloud,
    score left Arrow batches against it with the numpy ``block`` kernel."""
    spark = left.sparkSession
    rid, rx, ry = _collect_right(right, right_id, right_x, right_y)
    n_right = len(rid)
    bc = spark.sparkContext.broadcast((rid, rx, ry))

    schema = StructType(
        [
            StructField(left_id, left.schema[left_id].dataType),
            StructField("neighbor_id", right.schema[right_id].dataType),
            StructField("distance", DoubleType()),
            StructField("knn_rank", IntegerType()),
        ]
    )

    # bound the (chunk x n_right) distance block to ~2 MB: every block is a
    # FRESH numpy allocation, and above glibc's mmap threshold each one is
    # an mmap+munmap pair — 32 workers doing concurrent 32 MB map/unmap
    # cycles stalled 20x on this host (mmap_lock / TLB-shootdown storms;
    # measured 34.9s -> 1.7s standalone by shrinking the block)
    chunk = max(16, int(250_000 / max(n_right, 1)))

    def kernel(iterator):
        rid_, rx_, ry_ = bc.value
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            lids = pdf[left_id].to_numpy()
            lx = pdf[left_x].to_numpy(dtype=np.float64)
            ly = pdf[left_y].to_numpy(dtype=np.float64)
            for s in range(0, len(pdf), chunk):
                e = s + chunk
                pos, dist = block(lx[s:e], ly[s:e], rx_, ry_, k)
                b = len(lx[s:e])
                yield pd.DataFrame(
                    {
                        left_id: np.repeat(lids[s:e], k),
                        "neighbor_id": rid_[pos].ravel(),
                        "distance": dist.ravel(),
                        "knn_rank": np.tile(np.arange(1, k + 1, dtype=np.int32), b),
                    }
                )

    # spread the CPU-bound distance kernel over every core — AQE coalesces
    # small upstream shuffles to a handful of partitions, which would cap
    # kNN parallelism at 2-3 tasks (measured 123s -> ~15s at sf0.1)
    return (
        left.select(left_id, left_x, left_y)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(kernel, schema=schema)
    )


def knn_haversine(left: DataFrame, right: DataFrame, k: int, **kw) -> DataFrame:
    """kNN over lon/lat degree columns with great-circle metre distances
    (north-star parity: "Haversine kNN inside pandas/Arrow UDFs").  Same
    output contract as :func:`get_k_nearest_neighbors`; the left/right
    x/y columns hold degrees longitude/latitude."""
    return get_k_nearest_neighbors(left, right, k, metric="haversine", **kw)


def sjoin_nearest(left: DataFrame, right: DataFrame, max_distance: float | None = None, **kw) -> DataFrame:
    """predicate="nearest" of get_neighbor_indices (``neighbors.py:106-110``):
    k=1 nearest join, optional distance cap."""
    return get_k_nearest_neighbors(left, right, k=1, max_distance=max_distance, **kw).drop(
        "knn_rank"
    )


def get_all_distances(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str = "uid",
    left_x: str = "x",
    left_y: str = "y",
    right_id: str = "vid",
    right_x: str = "px",
    right_y: str = "py",
) -> DataFrame:
    """Full cross-distance table = kNN with k = len(right)
    (``neighbors.py:119-225``).  Native crossJoin + column expression —
    stays entirely in the JVM; Catalyst broadcasts the small side."""
    dx = F.col(left_x) - F.col(right_x)
    dy = F.col(left_y) - F.col(right_y)
    return (
        left.select(left_id, left_x, left_y)
        .crossJoin(F.broadcast(right.select(right_id, right_x, right_y)))
        .select(
            left_id,
            F.col(right_id).alias("neighbor_id"),
            F.sqrt(dx * dx + dy * dy).alias("distance"),
        )
    )


def _cells_across(right, n_right: int, k: int, right_x: str, right_y: str):
    """(extent of the right side, cells across it) for ~8k (min 64) right
    points per cell, so a 3x3 halo nearly always proves top-k in round 1."""
    row = right.agg(
        F.min(right_x), F.max(right_x), F.min(right_y), F.max(right_y)
    ).first()
    # float() guards against DECIMAL columns (Spark SQL float literals
    # are decimals, so `4.0 + id/2.0` yields one)
    span = max(float(row[1]) - float(row[0]), float(row[3]) - float(row[2]), 1e-9)
    return span, max(np.sqrt(n_right / max(64, 8 * k)), 1.0)


def _auto_knn_res(right, n_right: int, k: int, right_x: str, right_y: str) -> int:
    """Quadtree resolution for :func:`knn_cellwise` (see :func:`_cells_across`)."""
    from ..cells import DOMAIN_SIZE, MAX_RES

    span, across = _cells_across(right, n_right, k, right_x, right_y)
    res = int(np.ceil(np.log2(DOMAIN_SIZE * across / span)))
    return int(np.clip(res, 4, MAX_RES))


def _auto_geo_cell_deg(right, n_right: int, k: int, right_x: str, right_y: str) -> float:
    """Degree cell size for the lon/lat grid (see :func:`_cells_across`),
    quantized to a divisor of 360 (the wrap grid needs an integral cell
    count)."""
    span, across = _cells_across(right, n_right, k, right_x, right_y)
    want = span / across
    # largest divisor-of-360 cell <= want (bounded stock list keeps the
    # cell count sane: >= 0.025 deg ~ 2.8 km)
    for c in (90.0, 45.0, 30.0, 15.0, 10.0, 5.0, 3.0, 2.0, 1.0, 0.5, 0.25,
              0.1, 0.05, 0.025):
        if c <= want:
            return c
    return 0.025


# ------------------------------------------------------------- scale path
class CellGrid(NamedTuple):
    """What the ring-escalation driver :func:`_knn_rings` needs to know
    about a grid and its metric — everything else is shared.

    * ``home(x, y)``: home-cell id column of a point.
    * ``halo(df, id_col, x_col, y_col, r)``: ``df`` replicated into the
      (2r+1)^2 ring cells around each row's home cell, as column
      ``_cell``, at most one replica per (row, cell) — that makes every
      (left, right) candidate pair unique per round, so no round needs a
      dedup exchange.
    * ``dist(lx, ly, rx, ry)``: distance column.
    * ``bound(y, r)``: lower bound on the distance from a point at ``y``
      to anything outside its r-ring (a row whose kth distance is within
      it is proven exact).
    * ``block(lx, ly, rx, ry, k)``: the numpy top-k kernel of the same
      metric, tie-exact on (distance, column position).
    """

    home: Callable
    halo: Callable
    dist: Callable
    bound: Callable
    block: Callable


def _ring_offsets(r: int):
    """The (2r+1)^2 cell offsets of an r-ring, as (ox, oy) struct literals."""
    return [
        F.struct(F.lit(ox).alias("ox"), F.lit(oy).alias("oy"))
        for ox in range(-r, r + 1)
        for oy in range(-r, r + 1)
    ]


def knn_cellwise(
    left: DataFrame,
    right: DataFrame,
    k: int,
    res: int,
    *,
    left_id: str = "uid",
    left_x: str = "x",
    left_y: str = "y",
    right_id: str = "vid",
    right_x: str = "px",
    right_y: str = "py",
    n_right: int | None = None,
) -> DataFrame:
    """Cell-partitioned Euclidean kNN for huge right sides (no broadcast):
    :func:`_knn_rings` over the quadtree cells of resolution ``res``
    (gridbuffer-style halo exchange, reference ``bounds.py:141-168``).
    A row is proven exact when its kth distance is <= r * cell_size:
    anything nearer lies inside the r-ring."""
    from ..cells import cell_size

    s = cell_size(res)
    grid = CellGrid(
        home=lambda x, y: _cell_shift_col(x, y, res, F.lit(0), F.lit(0)),
        halo=partial(_halo_replicas, res=res),
        dist=lambda lx, ly, rx, ry: F.sqrt((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry)),
        bound=lambda y, r: F.lit(float(r) * s),
        block=_topk_block,
    )
    return _knn_rings(
        left, right, k, grid, (left_id, left_x, left_y), (right_id, right_x, right_y),
        n_right,
    )


# ring escalation: at most MAX_RINGS widened rounds after round 1, then a
# brute pass; read by _knn_rings at call time (see its adaptive exit)
MAX_RINGS = 4
BRUTE_THRESHOLD = 100_000  # violators the brute pass broadcasts at most
BRUTE_WORK = 2_000_000_000  # violators x right rows the brute pass scores at most


def _knn_rings(
    left: DataFrame,
    right: DataFrame,
    k: int,
    grid: CellGrid,
    left_cols: tuple[str, str, str],
    right_cols: tuple[str, str, str],
    n_right: int | None,
) -> DataFrame:
    """Exact kNN by multi-round ring escalation on ``grid``.

    Round 1: right rows are replicated into their cell's 3x3 halo; left
    joins its own cell, a window takes local top-k.  A left row's result
    is PROVEN exact when it found k neighbors and its kth distance is
    <= ``grid.bound`` for its ring.  Unproven rows escalate: the (small)
    violator set explodes into a (2r+1)^2 cell neighborhood — note the
    asymmetry: round 1 replicates the RIGHT side (every left row needs
    candidates), later rounds replicate the shrinking LEFT violator set
    — with r doubling per round.  After ``MAX_RINGS`` doublings the
    remainder falls back to a distributed brute pass: every right
    partition scores the broadcast violators with ``grid.block`` and
    emits a partial top-k, then one final window.  Ties break on
    (distance, neighbor_id) in every path, matching the oracle's
    ORDER BY dist, vid.
    """
    from pyspark.sql.window import Window

    left_id, left_x, left_y = left_cols
    right_id, right_x, right_y = right_cols
    right_c = right.select(right_id, right_x, right_y)
    dist = grid.dist(F.col(left_x), F.col(left_y), F.col(right_x), F.col(right_y))
    w = Window.partitionBy(left_id).orderBy("distance", "neighbor_id")

    def _home(df, x, y):
        return df.withColumn("_cell", grid.home(F.col(x), F.col(y)))

    def _score(pairs):
        return pairs.select(
            left_id, left_x, left_y, F.col(right_id).alias("neighbor_id"), dist.alias("distance")
        )

    def _topk(scored):
        return (
            scored.withColumn("knn_rank", F.row_number().over(w))
            .filter(F.col("knn_rank") <= k)
            .withColumn("knn_rank", F.col("knn_rank").cast("int"))
        )

    def _split_proven(ranked, r, current_left):
        """(proven rows, still-unproven left rows) for ring radius r.

        Violators are derived from ``current_left``, NOT from ``ranked``:
        a left row whose ring found ZERO candidates appears in neither a
        groupBy over scored rows nor its complement, and deriving the
        violator set from ranked would silently drop it (never escalate,
        never reach the brute fallback, emit no rows — breaking the
        exactly len(left)*k invariant).  current_left anti-join proven
        keeps candidate-less rows escalating.
        """
        per = ranked.groupBy(left_id).agg(
            F.max("knn_rank").alias("_n"),
            F.max("distance").alias("_kd"),
            F.first(left_y).alias("_y"),
        )
        proven_ids = per.filter(
            (F.col("_n") >= k) & (F.col("_kd") <= grid.bound(F.col("_y"), r))
        ).select(left_id)
        proven = ranked.join(proven_ids, on=left_id, how="left_semi")
        remaining = current_left.join(proven_ids, on=left_id, how="left_anti")
        return proven, remaining

    # round 1: halo-replicate the right side, left joins its own cell.
    # No dropDuplicates: the halo puts each row at most once per cell, so
    # each (left, right) pair matches on at most one cell and the dedup
    # exchange (as big as the whole scored set) is provably unnecessary
    leftc = _home(left.select(left_id, left_x, left_y), left_x, left_y)
    right_h = grid.halo(right_c, right_id, right_x, right_y, 1)
    ranked = _topk(_score(leftc.join(right_h, "_cell"))).localCheckpoint()
    proven, remaining = _split_proven(ranked, 1, leftc)
    results = [proven.select(left_id, "neighbor_id", "distance", "knn_rank")]
    remaining = remaining.localCheckpoint()

    right_home = _home(right_c, right_x, right_y)
    r = 2
    rounds = 0
    # adaptive exit: once the violator set is broadcast-small AND the
    # brute pass's total work (violators x right rows, every right
    # partition scores every violator) is bounded, one distributed brute
    # stage beats another ring round (each round pays checkpoint +
    # window + join fixed costs for a shrinking set).  Gating on the
    # count alone would be wrong at scale: 90k violators x 10^8 right
    # rows is ~10^13 distance evaluations, far worse than one more ring.
    n_rem = remaining.count()
    if n_right is None:
        n_right = right_c.count()

    def _go_brute(nr):
        return nr <= BRUTE_THRESHOLD and nr * n_right <= BRUTE_WORK

    while rounds < MAX_RINGS and not _go_brute(n_rem) and n_rem > 0:
        # pair-uniqueness as in round 1: only the LEFT is ringed here, the
        # right sits in its home cell
        cells = grid.halo(remaining.drop("_cell"), left_id, left_x, left_y, r)
        ranked_r = _topk(_score(cells.join(right_home, "_cell"))).localCheckpoint()
        proven_r, remaining = _split_proven(ranked_r, r, remaining)
        results.append(proven_r.select(left_id, "neighbor_id", "distance", "knn_rank"))
        remaining = remaining.localCheckpoint()
        n_rem = remaining.count()
        r *= 2
        rounds += 1

    if n_rem:
        # distributed brute fallback for the residue: broadcast the (small)
        # violator set, every right partition emits its local top-k, one
        # final window picks the global top-k
        bcv = left.sparkSession.sparkContext.broadcast(
            _collect_right(remaining, left_id, left_x, left_y)
        )
        block = grid.block
        part_schema = StructType(
            [
                StructField(left_id, left.schema[left_id].dataType),
                StructField("neighbor_id", right.schema[right_id].dataType),
                StructField("distance", DoubleType()),
            ]
        )

        def brute(it):
            vid_, vx_, vy_ = bcv.value
            for pdf in it:
                if not len(pdf):
                    continue
                # id-sort the partition so column position == id order and
                # the tie-safe selector keeps the SMALLER id on boundary
                # ties (the final window orders by distance, neighbor_id)
                order = np.argsort(pdf[right_id].to_numpy(), kind="stable")
                ridv = pdf[right_id].to_numpy()[order]
                rxv = pdf[right_x].to_numpy(np.float64)[order]
                ryv = pdf[right_y].to_numpy(np.float64)[order]
                pos, d = block(vx_, vy_, rxv, ryv, min(k, len(pdf)))
                yield pd.DataFrame(
                    {
                        left_id: np.repeat(vid_, pos.shape[1]),
                        "neighbor_id": ridv[pos].ravel(),
                        "distance": d.ravel(),
                    }
                )

        partials = right_c.mapInPandas(brute, schema=part_schema)
        # partitions of right_c are row-disjoint, so each (violator,
        # right-row) pair is scored by exactly one partition: no dedup
        results.append(_topk(partials))

    return reduce(DataFrame.unionByName, results)


def _cell_shift_col(x, y, res: int, ox, oy):
    """Cell id of (x, y) shifted by (ox, oy) cells — native columns."""
    from ..cells import cell_of_xy_col, cell_size

    s = cell_size(res)
    return cell_of_xy_col(x + ox * F.lit(s), y + oy * F.lit(s), res)


def _cell_shift_valid_col(x, y, res: int, ox, oy):
    """True when the (ox, oy)-shifted cell index is in-domain UNCLAMPED.

    For IN-DOMAIN rows only: cell_index_col clamps to [0, 2^res), so at
    the domain edge two different offsets would clamp onto the SAME cell
    and a halo replica would collide with another replica of the same
    row.  Filtering the exploded halo on this predicate keeps every
    surviving (row, offset) on a distinct cell — distinct offsets give
    strictly increasing target indices (s is a power of two, exact float
    steps) — which makes (left, right) candidate pairs unique per round
    BY CONSTRUCTION: no dropDuplicates shuffle over the scored set (that
    shuffle was ~the size of the whole candidate join output, the single
    most expensive exchange of the cellwise path).

    The shifted index is computed from the SAME float expression
    cell_index_col floors (x + ox*s, not bx + ox), so "valid" here and
    the cell the replica actually lands on can never disagree, even by
    1 ulp at a cell boundary.  Rows whose own base index is out of
    domain take the separate clamped-replica branch in
    :func:`_halo_replicas`.
    """
    from ..cells import DOMAIN_X0, DOMAIN_Y0, cell_size

    s = F.lit(cell_size(res))
    n = (1 << res) - 1
    sx = F.floor((x + ox * s - F.lit(DOMAIN_X0)) / s)
    sy = F.floor((y + oy * s - F.lit(DOMAIN_Y0)) / s)
    return (sx >= 0) & (sx <= n) & (sy >= 0) & (sy <= n)


def _halo_replicas(df, id_col: str, x_col: str, y_col: str, r: int, *, res: int):
    """Replicate rows of ``df`` into their (2r+1)^2 ring cells with
    pair-uniqueness per cell and EXACT clamped semantics at the border.

    In-domain rows (everything, in practice — the domain spans far
    beyond any regional CRS extent) take the filter fast path: only
    unclamped in-range offsets survive, every replica lands on a
    distinct cell, no dedup exchange.  Out-of-domain rows keep the old
    exact behaviour — all offsets, clamped cells, then a dedup on
    (id, cell) — so a point just past the border still probes inward
    cells through its clamped replicas; that branch is a filter over a
    (tiny or empty) subset, so the dedup costs nothing.
    """
    x, y = F.col(x_col), F.col(y_col)
    exploded = df.withColumn("_o", F.explode(F.array(*_ring_offsets(r))))
    shift = _cell_shift_col(x, y, res, F.col("_o.ox"), F.col("_o.oy"))
    in_dom = _cell_shift_valid_col(x, y, res, F.lit(0), F.lit(0))
    fast = (
        exploded.filter(
            in_dom & _cell_shift_valid_col(x, y, res, F.col("_o.ox"), F.col("_o.oy"))
        )
        .withColumn("_cell", shift)
        .drop("_o")
    )
    border = (
        exploded.filter(~in_dom)
        .withColumn("_cell", shift)
        .drop("_o")
        .dropDuplicates([id_col, "_cell"])
    )
    return fast.unionByName(border)
