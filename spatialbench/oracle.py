"""Independent expected results for every benchmarked operation.

DuckDB reads the same lake parquet the engine scans and computes each
answer with plain SQL: crossing-parity point-in-polygon over the
municipality edge table, a rank window for kNN, bbox overlap for the box
overlay.  ``buffdissexp_by_cluster`` has no SQL form; its blob count is
checked against a numpy union-find over point pairs closer than twice
the buffer radius.

Every check is a (row count, order-insensitive checksum) pair.  The
checksums are integer sums, so the engine side computes them with one
aggregate and the comparison is exact.
"""

from __future__ import annotations

import math

import numpy as np


def connect(threads: int, temp_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET preserve_insertion_order = false")
    return con


def _scalar_pair(con, sql: str) -> tuple[int, int]:
    n, s = con.execute(sql).fetchone()
    return int(n), int(s or 0)


# ------------------------------------------------------------------ PIP
def pip_hits_sql(lake: str, edges_values: str) -> str:
    """(uid, muni_id) for every lake page inside a municipality.  An edge
    is crossed by the +x ray of (x, y) when y lies in [min(y1,y2),
    max(y1,y2)) and x is left of the crossing; odd crossings mean inside
    (holes included).  The y-band form lets DuckDB use a range join."""
    return f"""
        WITH pages AS (SELECT uid, x, y FROM read_parquet('{lake}/*.parquet')),
        edges(muni_id, x1, y1, x2, y2) AS (VALUES
        {edges_values}
        ),
        e AS (SELECT muni_id, x1, y1, x2, y2,
                     least(y1, y2) AS ylo, greatest(y1, y2) AS yhi FROM edges)
        SELECT p.uid, e.muni_id
        FROM pages p JOIN e ON p.y >= e.ylo AND p.y < e.yhi
        WHERE p.x < (e.x2 - e.x1) * (p.y - e.y1) / (e.y2 - e.y1) + e.x1
        GROUP BY p.uid, e.muni_id
        HAVING count(*) % 2 = 1
    """


PIP_CHECKSUM_SQL = "sum(CAST(uid AS HUGEINT) * 1000 + CAST(muni_id AS BIGINT))"


def pip_expect(con, lake: str, nx: int, ny: int, muni_seed: int):
    """((n_hits, checksum), {muni_id: n_pages}) for the inner PIP join
    and its per-municipality rollup."""
    from ssb_sgis_spark.sources.municipalities import muni_edges_sql_values

    con.execute(
        "CREATE OR REPLACE TEMP TABLE hits AS "
        + pip_hits_sql(lake, muni_edges_sql_values(nx, ny, muni_seed))
    )
    join = _scalar_pair(con, f"SELECT count(*), {PIP_CHECKSUM_SQL} FROM hits")
    rollup = dict(con.execute("SELECT muni_id, count(*) FROM hits GROUP BY muni_id").fetchall())
    return join, rollup


def rollup_checksum(per_muni: dict) -> tuple[int, int]:
    return len(per_muni), sum(int(m) * 1_000_000_000 + int(n) for m, n in per_muni.items())


def tiled_output_checksum(con, data_dir: str) -> tuple[int, int]:
    """Read a TiledRun's committed output back with DuckDB."""
    return _scalar_pair(
        con,
        f"SELECT count(*), {PIP_CHECKSUM_SQL} "
        f"FROM read_parquet('{data_dir}/**/*.parquet', hive_partitioning = true)",
    )


# ------------------------------------------------------------------ kNN
KNN_CHECKSUM_SQL = (
    "sum(CAST(uid AS HUGEINT) * 1000003 + CAST(neighbor_id AS HUGEINT) * 31"
    " + knn_rank * 7 + CAST(floor(distance * 1000) AS BIGINT))"
)


def knn_expect(con, lake: str, cloud: str, mod: int, residue: int, k: int):
    """kNN of the lake subsample ``uid % mod == residue`` against the
    cloud, ranked by (distance, neighbour id) with a window."""
    return _scalar_pair(
        con,
        f"""
        WITH l AS (SELECT uid, x, y FROM read_parquet('{lake}/*.parquet')
                   WHERE uid % {mod} = {residue}),
        c AS (SELECT vid, px, py FROM read_parquet('{cloud}/*.parquet')),
        ranked AS (
          SELECT l.uid, c.vid AS neighbor_id,
                 sqrt((l.x - c.px) * (l.x - c.px) + (l.y - c.py) * (l.y - c.py)) AS distance,
                 row_number() OVER (
                   PARTITION BY l.uid
                   ORDER BY sqrt((l.x - c.px) * (l.x - c.px) + (l.y - c.py) * (l.y - c.py)), c.vid
                 ) AS knn_rank
          FROM l CROSS JOIN c
        )
        SELECT count(*), {KNN_CHECKSUM_SQL} FROM ranked WHERE knn_rank <= {k}
        """,
    )


# -------------------------------------------------------------- overlay
def site_bounds_sql(lake: str, mod: int, residue: int) -> str:
    """The ``site_bounds_cols`` boxes, same float operation order."""
    return f"""
        SELECT uid,
               x - (100.0 + CAST(uid % 9 AS DOUBLE) * 150.0) AS minx,
               y - (100.0 + CAST(uid % 5 AS DOUBLE) * 210.0) AS miny,
               x + (100.0 + CAST(uid % 9 AS DOUBLE) * 150.0) AS maxx,
               y + (100.0 + CAST(uid % 5 AS DOUBLE) * 210.0) AS maxy
        FROM read_parquet('{lake}/*.parquet') WHERE uid % {mod} = {residue}
    """


def overlay_expect(con, lake: str, mod: int, residue: int):
    """Box x tile intersection pairs: strict bbox overlap."""
    from ssb_sgis_spark.sources.sites import tiles_bounds_sql

    return _scalar_pair(
        con,
        f"""
        WITH s AS ({site_bounds_sql(lake, mod, residue)}), t AS ({tiles_bounds_sql()})
        SELECT count(*), sum(CAST(s.uid AS HUGEINT) * 1024 + t.tile_id)
        FROM s JOIN t ON s.minx < t.maxx AND s.maxx > t.minx
                     AND s.miny < t.maxy AND s.maxy > t.miny
        """,
    )


def count_subsample(con, lake: str, mod: int, residue: int) -> int:
    return int(
        con.execute(
            f"SELECT count(*) FROM read_parquet('{lake}/*.parquet') WHERE uid % {mod} = {residue}"
        ).fetchone()[0]
    )


# ---------------------------------------------------------------- blobs
def components(x: np.ndarray, y: np.ndarray, limit: float) -> tuple[int, np.ndarray]:
    """Union-find over point pairs closer than ``limit``; returns the
    component count and each point's component label."""
    dx = x[:, None] - x[None, :]
    dy = y[:, None] - y[None, :]
    d = np.sqrt(dx * dx + dy * dy)
    i, j = np.nonzero(np.triu(d < limit, 1))
    parent = np.arange(len(x))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in zip(i, j):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = np.array([find(a) for a in range(len(x))], dtype=np.int64)
    return len(np.unique(labels)), labels


def blob_expect(uids: np.ndarray, x: np.ndarray, y: np.ndarray, radius: float, quad_segs: int):
    """Expected ``buffdissexp_by_cluster`` blob count for points buffered
    by ``radius`` and the uids to leave out so the count is exact.

    A buffered point is a polygon with 4*quad_segs vertices on the
    circle, so two discs surely overlap below 2r*cos(pi/(4q)) and surely
    do not at 2r or more.  Points in a pair inside that band are dropped
    (repeatedly) until both limits give the same components."""
    inner = 2.0 * radius * math.cos(math.pi / (4 * quad_segs)) * (1 - 1e-9)
    outer = 2.0 * radius
    keep = np.ones(len(uids), bool)
    while True:
        xs, ys = x[keep], y[keep]
        n_in, _ = components(xs, ys, inner)
        n_out, _ = components(xs, ys, outer)
        if n_in == n_out:
            return n_in, uids[~keep]
        dx = xs[:, None] - xs[None, :]
        dy = ys[:, None] - ys[None, :]
        d = np.sqrt(dx * dx + dy * dy)
        band = np.triu((d >= inner) & (d < outer), 1)
        idx = np.flatnonzero(keep)
        keep[idx[np.unique(np.nonzero(band)[0])]] = False
