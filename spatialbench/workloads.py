"""The benchmark's workloads: seeded set-up plus the operations one
closed-loop client issues.

* ``pip_lake``     inner PIP join, its per-municipality rollup and a full
                   checkpoint-resumable TiledRun, all over the lake table
                   with the cell cover cached in set-up (JVM path: scan +
                   codegen broadcast-hash PIP, no Python; plus the tiled
                   writes, audits and manifest commits).
* ``polygon_ops``  buffdissexp_by_cluster of a seeded lake subsample,
                   clean_overlay(intersection) of seeded site boxes x tiles
                   and get_k_nearest_neighbors(k=8) of a seeded subsample
                   against the materialized point cloud (shuffles,
                   iterative rounds, grouped Python, skew, and the Arrow
                   kNN kernel behind a driver collect + broadcast).

The closed loop issues whole cycles of a workload's operations, so every
run samples each operation equally often.

Every operation returns a (row count, checksum) pair that is compared
with the oracle computed from the same lake files.
"""

from __future__ import annotations

import itertools
import os
import shutil
import time
from dataclasses import dataclass
from typing import Callable

from . import data, oracle

NX = NY = 4  # municipality tessellation
KNN_K = 8
KNN_MOD = 317  # ~1.5k left points at full scale
# ~75 points to buffer and dissolve.  The operation is per-job driver
# work (checkpoints, connected-components rounds), so its time follows the
# number of rounds: at ~150 points seeds 1-20 need 2 or 3 rounds, at ~35
# some seeds have no overlapping pair at all (1 round), at ~75 every one
# of them has overlaps and converges in 2
BLOB_MOD = 6329
BLOB_RADIUS = 500.0
BLOB_QUAD_SEGS = 8
SITE_MOD = 127  # ~3.7k site boxes
TILED_BATCHES = 2


def residue(seed: int, mod: int, salt: int) -> int:
    return (seed * 2654435761 + salt * 40503) % mod


@dataclass
class Op:
    name: str
    input_rows: int
    run: Callable  # (tracer) -> (n_rows, checksum)
    expect: Callable | None  # () -> the oracle's (n_rows, checksum)
    verify: Callable | None = None  # untimed extra check of the result


def later(pool, query, con, *args) -> Callable:
    """Run an oracle query on the oracle thread, on a cursor of its own;
    returns a getter that waits for the answer.  DuckDB releases the GIL
    while it runs, so the slow oracle queries overlap the untimed warm-up
    cycle instead of adding to the run."""
    cur = con.cursor()

    def run():
        try:
            return query(cur, *args)
        finally:
            cur.close()

    return pool.submit(run).result


@dataclass
class Context:
    """What set-up leaves for the operations."""

    spark: object
    lake: str
    lake_rows: int
    cover_key: str
    munis: object
    setup_parts: dict


def _agg(df, checksum):
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)), F.sum(checksum)).collect()[0]
    return int(row[0]), int(row[1] or 0)


def _dec(col):
    return col.cast("decimal(38,0)")


class Workload:
    """Common set-up: derive the pages, materialize the lake, build and
    cache the municipality cover (where the workload joins against it),
    warm the Python workers."""

    name = ""
    uses_cover = False  # build and cache the municipality cover in set-up
    full_scale = data.FULL  # inputs outside the smoke mode
    calls_kernels = False  # the traced run times the geometry kernels
    # nominal seconds per cycle of ops() at local[2] on a 4-vCPU host; a
    # window of S seconds runs round(S / cycle_s) cycles
    cycle_s = 6.5

    def __init__(self, seed: int, scale: data.Scale, work: str, cores: int):
        self.seed = seed
        self.scale = scale
        self.work = work
        self.cores = cores
        self.src = os.path.join(work, "src")
        self.lake = os.path.join(work, "lake")
        self.muni_seed = seed % 100_000

    def setup(self, spark, rep: int) -> Context:
        from pyspark.sql import functions as F

        from ssb_sgis_spark.operators import sjoin
        from ssb_sgis_spark.sources import municipalities, pages

        parts = {}
        t = time.perf_counter()
        # cached, so the lake is written from these pages, not a second
        # derivation
        derived = pages.pages_df(spark, self.src).cache()
        derived.count()
        parts["pages_derive_s"] = time.perf_counter() - t
        t = time.perf_counter()
        lake_rows = data.materialize_lake(spark, derived, self.lake, self.seed, self.scale)
        derived.unpersist()
        parts["lake_s"] = time.perf_counter() - t
        self.extra_setup(spark)
        munis = municipalities.muni_df(spark, NX, NY, self.muni_seed)
        key = f"spatialbench-{rep}"
        if self.uses_cover:
            t = time.perf_counter()
            lake = spark.read.parquet(self.lake)
            sjoin.points_in_polygons_join(lake.limit(1), munis, cache_key=key).count()
            parts["cover_build_s"] = time.perf_counter() - t
        t = time.perf_counter()

        def ident(it):
            yield from it

        spark.range(self.cores * 1000).repartition(self.cores).mapInPandas(
            ident, "id long"
        ).agg(F.count(F.lit(1))).collect()
        parts["warmup_s"] = time.perf_counter() - t
        return Context(spark, self.lake, lake_rows, key, munis, parts)

    def extra_setup(self, spark) -> None:
        pass

    def ops(self, ctx: Context, con, pool) -> list[Op]:
        """One cycle of operations; slow oracle queries go to ``pool``."""
        raise NotImplementedError

    # seeded inputs of the kernel probes, shared by every workload
    def blob_points(self, con):
        r = residue(self.seed, BLOB_MOD, 3)
        rows = con.execute(
            f"SELECT uid, x, y FROM read_parquet('{self.lake}/*.parquet') "
            f"WHERE uid % {BLOB_MOD} = {r} ORDER BY uid"
        ).fetchnumpy()
        return r, rows["uid"], rows["x"], rows["y"]


class PipLake(Workload):
    name = "pip_lake"
    uses_cover = True
    full_scale = data.PIP

    def ops(self, ctx, con, pool):
        from pyspark.sql import functions as F

        from ssb_sgis_spark.operators import sjoin
        from ssb_sgis_spark.sources.municipalities import muni_rings

        spark = ctx.spark
        # ((n_hits, checksum), {muni_id: n_pages})
        pip = later(pool, oracle.pip_expect, con, ctx.lake, NX, NY, self.muni_seed)
        # long arithmetic: the sum stays below 2**57 at the full lake size
        # (uids below 2**25), and a decimal sum would cost about a third of
        # the join's time
        checksum = F.col("uid") * 1000 + F.col("muni_id").cast("long")

        def pip_join(tr):
            with tr.span("operators.sjoin.plan"):
                df = sjoin.points_in_polygons_join(
                    spark.read.parquet(ctx.lake), ctx.munis, cache_key=ctx.cover_key
                )
            with tr.span("operators.sjoin.exec"):
                return _agg(df, checksum)

        def pip_rollup(tr):
            with tr.span("operators.sjoin.plan"):
                df = (
                    sjoin.points_in_polygons_join(
                        spark.read.parquet(ctx.lake), ctx.munis, cache_key=ctx.cover_key
                    )
                    .groupBy("muni_id")
                    .agg(F.count(F.lit(1)).alias("n_pages"))
                )
            with tr.span("operators.sjoin.exec"):
                rows = df.collect()
            return oracle.rollup_checksum({r["muni_id"]: r["n_pages"] for r in rows})

        bounds = {
            mid: (rings[0][:, 0].min(), rings[0][:, 1].min(),
                  rings[0][:, 0].max(), rings[0][:, 1].max())
            for mid, rings in muni_rings(NX, NY, self.muni_seed)
        }
        tiled_root = os.path.join(self.work, "tiled")
        counter = itertools.count()
        written = []  # output of the last tiled_write, for tiled_resume

        def tiled_write(tr):
            from ssb_sgis_spark.plans.manifest import TiledRun

            out = os.path.join(tiled_root, f"run-{next(counter)}")
            lake = spark.read.parquet(ctx.lake)
            run = TiledRun(spark, out, batch_col="_batch")
            n = 0
            for b, tiles, done in run.batches(sorted(bounds), n_batches=TILED_BATCHES):
                if done:
                    continue
                prune = None
                for t in tiles:
                    x0, y0, x1, y1 = bounds[t]
                    box = ((F.col("x") >= float(x0)) & (F.col("x") <= float(x1))
                           & (F.col("y") >= float(y0)) & (F.col("y") <= float(y1)))
                    prune = box if prune is None else (prune | box)
                with run.record(b) as rec:
                    hit = sjoin.points_in_polygons_join(
                        lake.filter(prune), ctx.munis, cache_key=ctx.cover_key
                    ).filter(F.col("muni_id").isin(tiles))
                    rec.write(hit.select("uid", "muni_id"))
                n += rec.n_rows
            written.append(out)
            return n, out

        def tiled_verify(got):
            n, out = got
            return (n, oracle.tiled_output_checksum(con, os.path.join(out, "data"))[1]) \
                == pip()[0]

        # the resume pass over the run just committed must skip every batch
        def tiled_resume(tr):
            from ssb_sgis_spark.plans.manifest import TiledRun

            out = written.pop()
            with tr.span("plans.tiled.resume"):
                again = TiledRun(spark, out, batch_col="_batch")
                pending = [b for b, _, done in again.batches(sorted(bounds), TILED_BATCHES)
                           if not done]
            return pending, out

        def resume_verify(got):
            pending, out = got
            shutil.rmtree(out, ignore_errors=True)
            return not pending

        rows = ctx.lake_rows
        return [
            Op("pip_join", rows, pip_join, lambda: pip()[0]),
            Op("pip_rollup", rows, pip_rollup, lambda: oracle.rollup_checksum(pip()[1])),
            Op("tiled_write", rows, tiled_write, None, tiled_verify),
            # a fast operation: with it, the median of a window falls among
            # the joins and rollups, not on the slowest of them
            Op("tiled_resume", 0, tiled_resume, None, resume_verify),
        ]


class PolygonOps(Workload):
    name = "polygon_ops"
    calls_kernels = True

    def extra_setup(self, spark):
        self.cloud = os.path.join(self.work, "cloud")
        data.write_cloud(spark, self.src, self.cloud)

    def ops(self, ctx, con, pool):
        from pyspark.sql import functions as F

        from ssb_sgis_spark.operators import dissolve, geomtable, grid, knn, overlay
        from ssb_sgis_spark.sources import sites

        spark = ctx.spark
        br, uids, x, y = self.blob_points(con)
        n_blobs, dropped = oracle.blob_expect(uids, x, y, BLOB_RADIUS, BLOB_QUAD_SEGS)
        dropped = [int(u) for u in dropped]
        sr = residue(self.seed, SITE_MOD, 2)
        overlay_expect = later(pool, oracle.overlay_expect, con, ctx.lake, SITE_MOD, sr)
        n_sites = oracle.count_subsample(con, ctx.lake, SITE_MOD, sr)
        n_tiles = sites.tiles_df(spark).count()

        def blobs(tr):
            with tr.span("operators.dissolve.plan"):
                pts = spark.read.parquet(ctx.lake).filter(F.col("uid") % BLOB_MOD == br)
                if dropped:
                    pts = pts.filter(~F.col("uid").isin(dropped))
                df = dissolve.buffdissexp_by_cluster(
                    geomtable.xy_to_point_wkb(pts), BLOB_RADIUS, quad_segs=BLOB_QUAD_SEGS
                )
            with tr.span("operators.dissolve.exec"):
                return df.agg(F.count(F.lit(1))).collect()[0][0], 0

        def box_overlay(tr):
            with tr.span("operators.overlay.plan"):
                site_df = grid.bounds_to_polygon(sites.site_bounds_cols(
                    spark.read.parquet(ctx.lake).filter(F.col("uid") % SITE_MOD == sr)
                ))
                df = overlay.clean_overlay(site_df, sites.tiles_df(spark), "intersection")
            with tr.span("operators.overlay.exec"):
                return _agg(df, _dec(F.col("uid")) * 1024 + F.col("tile_id"))

        kr = residue(self.seed, KNN_MOD, 1)
        knn_expect = later(pool, oracle.knn_expect, con, ctx.lake, self.cloud, KNN_MOD, kr, KNN_K)
        n_left = oracle.count_subsample(con, ctx.lake, KNN_MOD, kr)
        knn_checksum = (_dec(F.col("uid")) * 1000003 + _dec(F.col("neighbor_id")) * 31
                        + F.col("knn_rank") * 7 + F.floor(F.col("distance") * 1000))

        def knn_op(tr):
            with tr.span("operators.knn.plan"):
                left = spark.read.parquet(ctx.lake).filter(F.col("uid") % KNN_MOD == kr)
                df = knn.get_k_nearest_neighbors(left, spark.read.parquet(self.cloud), k=KNN_K)
            with tr.span("operators.knn.exec"):
                return _agg(df, knn_checksum)

        return [
            Op("blobs", len(uids) - len(dropped), blobs, lambda: (n_blobs, 0)),
            Op("box_overlay", n_sites + n_tiles, box_overlay, overlay_expect),
            Op("knn", n_left, knn_op, knn_expect),
        ]


WORKLOADS = {w.name: w for w in (PipLake, PolygonOps)}
