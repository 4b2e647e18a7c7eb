"""Network-analysis operators (reference ``sgis/networkanalysis/``).

Line prep → node ids → directed network → graph queries, Spark-first:

* :func:`make_node_ids` — endpoints per line, dedup to integer node ids,
  joined back as source/target (+ node degree columns) — reference
  ``nodes.py:15-94`` (its "integer-as-string in order of appearance" ids
  become rank-over-(y, x) ids: deterministic under any partitioning).
* :func:`make_directed_network` — duplicate + reverse bidirectional rows
  with per-direction minute columns (``directednetwork.py:85-202``) —
  pure unions/renames, one reverse-geometry batch kernel.
* :func:`get_connected_components` — node graph → the engine's iterative
  CC (``finding_isolated_networks.py:9-63``), largest component flagged.
* :func:`od_cost_matrix` — *broadcast graph, partition the origins*
  (SURVEY §3.3): heapq-Dijkstra per origin inside ``mapInPandas``;
  ``cutoff`` and ``destination_count`` post-filters are a native filter
  and a rank window (``networkanalysis.py:391-397``).
* :func:`service_area_nodes` — per-origin reachable node set within each
  break (``_service_area.py:15-127``, node-distance stage).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..kernels.graph import Adjacency, dijkstra
from .geomtable import with_geom_cols, with_length


# --------------------------------------------------------------- node prep
def make_edge_coords_cols(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """First/last vertex per line as (x0, y0, x1, y1) columns
    (``nodes.py:97-150``)."""

    def endpoints(ga):
        a = np.full((len(ga), 4), np.nan)
        for g in range(len(ga)):
            rings = ga.geom_rings(g)
            if rings:
                a[g, :2] = rings[0][0]
                a[g, 2:] = rings[-1][-1]
        return a.T

    fields = [T.StructField(c, T.DoubleType()) for c in ("x0", "y0", "x1", "y1")]
    return with_geom_cols(df, endpoints, fields, geometry_col)


def make_node_ids(df: DataFrame, geometry_col: str = "geometry") -> tuple[DataFrame, DataFrame]:
    """Returns (lines_with_source_target, nodes).

    nodes: (node_id long, x double, y double, n long) — n = degree
    (count of line endpoints at the node, reference ``n_source``+
    ``n_target``).  node_id = dense rank over (y, x): deterministic.
    """
    e = make_edge_coords_cols(df, geometry_col)
    spark = df.sparkSession
    pts = (
        e.select(F.col("x0").alias("x"), F.col("y0").alias("y"))
        .unionAll(e.select(F.col("x1").alias("x"), F.col("y1").alias("y")))
    )
    grouped = pts.groupBy("x", "y").agg(F.count("*").alias("n")).localCheckpoint()
    # node_id = row_number over (y, x), assigned WITHOUT a global
    # single-partition window (the scale-killer on a real road network):
    # range-bucket on y, rank within each bucket in parallel, then add the
    # exclusive prefix-sum of bucket counts (tiny driver-side table,
    # broadcast back).  Bucket order is consistent with (y, x) order, so
    # the ids are identical to the global sort's.
    # Small graphs skip the bucket machinery (its two extra driver jobs
    # cost more than the single-partition window they avoid).
    if grouped.count() <= 100_000:
        nodes = grouped.withColumn(
            "node_id",
            F.row_number().over(Window.orderBy(F.col("y"), F.col("x"))).cast("long")
            - 1,
        )
        src = nodes.select(
            F.col("x").alias("x0"), F.col("y").alias("y0"),
            F.col("node_id").alias("source"),
        )
        tgt = nodes.select(
            F.col("x").alias("x1"), F.col("y").alias("y1"),
            F.col("node_id").alias("target"),
        )
        lines = e.join(F.broadcast(src), ["x0", "y0"]).join(
            F.broadcast(tgt), ["x1", "y1"]
        )
        return lines, nodes.select("node_id", "x", "y", "n")
    lo, hi = grouped.agg(F.min("y"), F.max("y")).first()
    nb = max(spark.sparkContext.defaultParallelism * 4, 1)
    h = max((hi - lo) / nb, 1e-300) if hi is not None and hi > lo else 1.0
    bucketed = grouped.withColumn(
        "_b",
        F.least(F.greatest(F.floor((F.col("y") - F.lit(lo)) / F.lit(h)), F.lit(0)),
                F.lit(nb - 1)),
    )
    counts = bucketed.groupBy("_b").count().orderBy("_b").collect()
    offsets, acc = {}, 0
    for r in counts:
        offsets[r["_b"]] = acc
        acc += r["count"]
    off_df = spark.createDataFrame(
        [(int(b), int(o)) for b, o in offsets.items()], "_b long, _off long"
    )
    nodes = (
        bucketed.join(F.broadcast(off_df), "_b")
        .withColumn(
            "node_id",
            (
                F.row_number().over(
                    Window.partitionBy("_b").orderBy(F.col("y"), F.col("x"))
                ).cast("long")
                - 1
                + F.col("_off")
            ),
        )
        .drop("_b", "_off")
    )
    src = nodes.select(
        F.col("x").alias("x0"), F.col("y").alias("y0"), F.col("node_id").alias("source")
    )
    tgt = nodes.select(
        F.col("x").alias("x1"), F.col("y").alias("y1"), F.col("node_id").alias("target")
    )
    # nodes are the dedup of line endpoints — always the small side
    lines = e.join(F.broadcast(src), ["x0", "y0"]).join(F.broadcast(tgt), ["x1", "y1"])
    return lines, nodes.select("node_id", "x", "y", "n")


def make_directed_network(
    df: DataFrame,
    direction_col: str = "oneway",
    direction_vals: tuple = ("B", "FT", "TF"),
    minute_cols: tuple | None = None,
) -> DataFrame:
    """Bidirectional rows duplicated + reversed (``directednetwork.py:
    85-202``): B = both ways, FT = forward only, TF = backward only.
    Reversal swaps source/target (geometry direction is irrelevant to the
    graph, so the WKB stays — the reference reverses it for display)."""
    both, ft, tf = direction_vals
    fwd = df.filter(F.col(direction_col).isin([both, ft]))
    rev = df.filter(F.col(direction_col).isin([both, tf])).withColumns(
        {
            "source": F.col("target"),
            "target": F.col("source"),
        }
    )
    if minute_cols:
        fw_col, bw_col = minute_cols
        fwd = fwd.withColumn("minutes", F.col(fw_col))
        rev = rev.withColumn("minutes", F.col(bw_col))
    return fwd.unionByName(rev)


def make_directed_network_norway(df: DataFrame) -> DataFrame:
    """Preset (``directednetwork.py:12-82``): oneway ∈ B/FT/TF with
    drivetime_fw/drivetime_bw minute columns."""
    return make_directed_network(
        df, "oneway", ("B", "FT", "TF"), ("drivetime_fw", "drivetime_bw")
    )


def get_connected_components(
    lines: DataFrame, nodes: DataFrame
) -> DataFrame:
    """Per-line component label + ``connected`` flag for the largest
    component (reference ``finding_isolated_networks.py:9-63``)."""
    from .clusters import connected_components

    edges = lines.select(F.col("source").alias("src"), F.col("target").alias("dst"))
    comp = connected_components(
        edges, nodes.select(F.col("node_id")), id_col="node_id", component_col="component"
    )
    lines_c = lines.join(
        comp.withColumnRenamed("node_id", "source"), "source", "left"
    )
    sizes = lines_c.groupBy("component").agg(F.count("*").alias("_sz"))
    largest = sizes.orderBy(F.desc("_sz"), F.asc("component")).limit(1)
    return lines_c.join(F.broadcast(largest), "component", "left").withColumn(
        "connected", F.when(F.col("_sz").isNotNull(), 1).otherwise(0)
    ).drop("_sz")


# ------------------------------------------------------------ graph queries
# Dijkstra-family queries ship the WHOLE edge list to the driver and
# broadcast it (the reference does exactly this with igraph: the graph
# object lives in one process and origins are parallelized).  That is
# the right design for road networks — national-scale graphs are ~1e6-1e7
# edges, a few hundred MB broadcast — but it is a DRIVER-MEMORY bound,
# not a cluster bound, so it must fail loudly rather than OOM the driver.
_ADJACENCY_MAX_EDGES = 10_000_000


def _broadcast_adjacency(edges: DataFrame, weight_col: str):
    # limit(max+1) bounds what the collect can ever ship to the driver
    # (no extra count job, no lineage recompute); one excess row is the
    # overflow signal
    rows = (
        edges.select("source", "target", weight_col)
        .limit(_ADJACENCY_MAX_EDGES + 1)
        .collect()
    )
    if len(rows) > _ADJACENCY_MAX_EDGES:
        raise ValueError(
            f"network graph exceeds {_ADJACENCY_MAX_EDGES:,} edges: the "
            "broadcast-graph design collects every edge to the driver "
            "(reference parity: igraph builds one in-process graph). For "
            "larger graphs partition by connected component first "
            "(get_connected_components) and run per-component, or use the "
            "distributed primitives (connected_components / pagerank) that "
            "never materialize the edge list."
        )
    src = [r[0] for r in rows]
    dst = [r[1] for r in rows]
    w = [float(r[2]) for r in rows]
    spark = edges.sparkSession
    return spark.sparkContext.broadcast((src, dst, w))


def od_cost_matrix(
    edges: DataFrame,
    origins: DataFrame,
    destinations: DataFrame,
    weight_col: str = "weight",
    origin_id: str = "origin",
    dest_id: str = "destination",
    origin_node: str = "node_id",
    dest_node: str = "node_id",
    cutoff: float | None = None,
    destination_count: int | None = None,
    rowwise: bool = False,
) -> DataFrame:
    """Many-to-many least cost (reference ``networkanalysis.py:145-418``).

    origins/destinations carry (id, node) — point→node connection is the
    caller's kNN snap (reference connects via k=50 nearest within
    search_tolerance, ``_points.py:66-99``).  The graph is broadcast; the
    origins are the partitioned side; one Dijkstra per origin per task.
    Unreachable pairs get null cost (reference's NaN,
    ``_od_cost_matrix.py:68``); ``rowwise`` pairs origins to destinations
    positionally instead of all-to-all (``_od_cost_matrix.py:24-33``).
    """
    bc = _broadcast_adjacency(edges, weight_col)
    dest_rows = destinations.select(dest_id, dest_node).collect()
    dests = [(r[0], r[1]) for r in dest_rows]
    spark = origins.sparkSession
    bc_dests = spark.sparkContext.broadcast(dests)

    schema = T.StructType(
        [
            T.StructField(origin_id, origins.schema[origin_id].dataType),
            T.StructField(dest_id, destinations.schema[dest_id].dataType),
            T.StructField("cost", T.DoubleType()),
        ]
    )

    o = origins.select(origin_id, origin_node)
    if rowwise:
        o = o.withColumn("_row", F.monotonically_increasing_id())

    def kernel(it):
        src, dst, w = bc.value
        adj = Adjacency(src, dst, w)
        dlist = bc_dests.value
        target_nodes = {n for _, n in dlist}
        for pdf in it:
            out_o, out_d, out_c = [], [], []
            for i in range(len(pdf)):
                oid = pdf[origin_id].iloc[i]
                onode = pdf[origin_node].iloc[i]
                dist = dijkstra(adj, onode, targets=target_nodes, cutoff=cutoff)
                for did, dnode in dlist:
                    c = dist.get(dnode)
                    out_o.append(oid)
                    out_d.append(did)
                    out_c.append(c if c is not None else np.nan)
            yield pd.DataFrame({origin_id: out_o, dest_id: out_d, "cost": out_c})

    res = o.repartition(max(origins.sparkSession.sparkContext.defaultParallelism, 2), origin_id).mapInPandas(
        kernel, schema=schema
    )
    res = res.withColumn("cost", F.when(F.isnan("cost"), F.lit(None)).otherwise(F.col("cost")))
    if cutoff is not None:
        res = res.filter(F.col("cost") <= cutoff)
    if destination_count is not None:
        w_rank = Window.partitionBy(origin_id).orderBy(F.asc_nulls_last("cost"), F.asc(dest_id))
        res = res.withColumn("_r", F.row_number().over(w_rank)).filter(
            F.col("_r") <= destination_count
        ).drop("_r")
    return res


def get_route(
    edges: DataFrame,
    origins: DataFrame,
    destinations: DataFrame,
    weight_col: str = "weight",
    origin_id: str = "origin",
    dest_id: str = "destination",
    origin_node: str = "node_id",
) -> DataFrame:
    """Shortest-path node sequences per OD pair (reference ``get_route``,
    ``networkanalysis.py:642-748`` / ``_get_route.py:56-98`` — the
    reference maps epath edge ids to road rows; here the path is returned
    as an ordered edge list (src, dst, seq) so the road-geometry join is a
    plain equi-join downstream).  Same broadcast-graph / partitioned-
    origins shape as od_cost_matrix."""
    from ..kernels.graph import dijkstra_paths

    bc = _broadcast_adjacency(edges, weight_col)
    dest_rows = destinations.select(dest_id, origin_node).collect()
    dests = [(r[0], r[1]) for r in dest_rows]
    spark = origins.sparkSession
    bc_dests = spark.sparkContext.broadcast(dests)

    schema = T.StructType(
        [
            T.StructField(origin_id, origins.schema[origin_id].dataType),
            T.StructField(dest_id, destinations.schema[dest_id].dataType),
            T.StructField("seq", T.IntegerType()),
            T.StructField("src", T.LongType()),
            T.StructField("dst", T.LongType()),
        ]
    )

    def kernel(it):
        src_, dst_, w_ = bc.value
        adj = Adjacency(src_, dst_, w_)
        dlist = bc_dests.value
        targets = {n for _, n in dlist}
        for pdf in it:
            rows = {k.name: [] for k in schema.fields}
            for i in range(len(pdf)):
                oid = pdf[origin_id].iloc[i]
                onode = pdf[origin_node].iloc[i]
                paths = dijkstra_paths(adj, onode, targets)
                for did, dnode in dlist:
                    p = paths.get(dnode)
                    if p is None:
                        continue
                    for s in range(len(p) - 1):
                        rows[origin_id].append(oid)
                        rows[dest_id].append(did)
                        rows["seq"].append(s)
                        rows["src"].append(int(p[s]))
                        rows["dst"].append(int(p[s + 1]))
            yield pd.DataFrame(rows)

    o = origins.select(origin_id, origin_node)
    return o.repartition(
        max(origins.sparkSession.sparkContext.defaultParallelism, 2), origin_id
    ).mapInPandas(kernel, schema=schema)


def get_route_frequencies(
    edges: DataFrame,
    origins: DataFrame,
    destinations: DataFrame,
    weight_col: str = "weight",
) -> DataFrame:
    """Per-edge traversal counts over all OD shortest paths (reference
    ``get_route_frequencies``, ``networkanalysis.py:420-640`` — epath
    lists → explode → groupBy(edge).sum, a natural Spark agg)."""
    routes = get_route(edges, origins, destinations, weight_col)
    return routes.groupBy("src", "dst").agg(F.count("*").alias("frequency"))


def service_area_nodes(
    edges: DataFrame,
    origins: DataFrame,
    breaks: list[float],
    weight_col: str = "weight",
    origin_id: str = "origin",
    origin_node: str = "node_id",
) -> DataFrame:
    """Reachable nodes per origin per break (the node-distance stage of
    ``service_area``, ``_service_area.py:15-127``)."""
    bc = _broadcast_adjacency(edges, weight_col)
    max_break = max(breaks)
    schema = T.StructType(
        [
            T.StructField(origin_id, origins.schema[origin_id].dataType),
            T.StructField("break_val", T.DoubleType()),
            T.StructField("node_id", T.LongType()),
            T.StructField("cost", T.DoubleType()),
        ]
    )

    def kernel(it):
        src, dst, w = bc.value
        adj = Adjacency(src, dst, w)
        for pdf in it:
            rows = {origin_id: [], "break_val": [], "node_id": [], "cost": []}
            for i in range(len(pdf)):
                oid = pdf[origin_id].iloc[i]
                onode = pdf[origin_node].iloc[i]
                dist = dijkstra(adj, onode, cutoff=max_break)
                for node, c in dist.items():
                    for b in breaks:
                        if c <= b:
                            rows[origin_id].append(oid)
                            rows["break_val"].append(float(b))
                            rows["node_id"].append(node)
                            rows["cost"].append(c)
            yield pd.DataFrame(rows)

    o = origins.select(origin_id, origin_node)
    return o.repartition(
        max(origins.sparkSession.sparkContext.defaultParallelism, 2), origin_id
    ).mapInPandas(kernel, schema=schema)


# --------------------------------------------------------- network holes
def _deadends_df(df: DataFrame, geometry_col: str):
    """(did, x, y, ox, oy): degree-1 endpoints of the (undirected-deduped)
    line set with their other-end coords (reference
    ``closing_network_holes.py:205-246``)."""
    lines, _ = make_node_ids(df, geometry_col)
    dedup = (
        lines.withColumn("_lo", F.least("source", "target"))
        .withColumn("_hi", F.greatest("source", "target"))
        .dropDuplicates(["_lo", "_hi"])
        .drop("_lo", "_hi")
        .drop("source", "target", "x0", "y0", "x1", "y1")
    )
    lines2, nodes2 = make_node_ids(dedup, geometry_col)
    deg_s = nodes2.select(F.col("node_id").alias("source"), F.col("n").alias("_ns"))
    deg_t = nodes2.select(F.col("node_id").alias("target"), F.col("n").alias("_nt"))
    e = lines2.join(F.broadcast(deg_s), "source").join(F.broadcast(deg_t), "target")
    de_t = e.filter(F.col("_nt") == 1).select(
        F.col("target").alias("did"),
        F.col("x1").alias("x"), F.col("y1").alias("y"),
        F.col("x0").alias("ox"), F.col("y0").alias("oy"),
    )
    de_s = e.filter(F.col("_ns") == 1).select(
        F.col("source").alias("did"),
        F.col("x0").alias("x"), F.col("y0").alias("y"),
        F.col("x1").alias("ox"), F.col("y1").alias("oy"),
    )
    return de_t.unionByName(de_s).dropDuplicates(["did"]), nodes2


def _append_hole_lines(df, chosen, hole_col, geometry_col):
    """Straight 2-point hole lines unioned onto the input (other columns
    null, like the reference's concat)."""
    from .lineops import make_lines_between_points

    spark = df.sparkSession
    new_lines = make_lines_between_points(
        chosen.select("x", "y", F.col("nx").alias("x2"), F.col("ny").alias("y2")),
        x1="x", y1="y", x2="x2", y2="y2", out=geometry_col,
    ).select(geometry_col)
    base = df.withColumn(
        hole_col,
        F.lit(0) if hole_col not in df.columns else F.coalesce(F.col(hole_col), F.lit(0)),
    )
    holes = new_lines.withColumn(hole_col, F.lit(1))
    for c in base.columns:
        if c not in holes.columns:
            holes = holes.withColumn(c, F.lit(None).cast(base.schema[c].dataType))
    return base.unionByName(holes.select(*base.columns))


def close_network_holes(
    df: DataFrame,
    max_distance: float,
    max_angle: float,
    hole_col: str = "hole",
    geometry_col: str = "geometry",
    k: int = 50,
) -> DataFrame:
    """Fill network gaps: each deadend connects with a straight line to
    the nearest node within ``max_distance`` whose direction deviates at
    most ``max_angle`` degrees from the deadend's incident line
    (reference ``closing_network_holes.py:15-116, 205-317``; the angle
    metric replicates ``get_angle``'s abs(abs(a)-abs(b)) comparison)."""
    from pyspark.sql.window import Window

    from .knn import get_k_nearest_neighbors

    deadends, nodes = _deadends_df(df, geometry_col)
    n_nodes = nodes.count()
    cand = get_k_nearest_neighbors(
        deadends, nodes.withColumnRenamed("x", "px").withColumnRenamed("y", "py"),
        k=min(k, n_nodes),
        left_id="did", right_id="node_id",
    )
    nd = nodes.select(
        F.col("node_id").alias("neighbor_id"),
        F.col("x").alias("nx"), F.col("y").alias("ny"),
    )
    j = (
        cand.join(F.broadcast(deadends), "did")
        .join(F.broadcast(nd), "neighbor_id")
        .filter(F.col("neighbor_id") != F.col("did"))
        .filter((F.col("nx") != F.col("ox")) | (F.col("ny") != F.col("oy")))
        .filter(F.col("distance") <= max_distance)
    )
    a_prior = F.degrees(F.atan2(F.col("x") - F.col("ox"), F.col("y") - F.col("oy")))
    a_new = F.degrees(F.atan2(F.col("nx") - F.col("x"), F.col("ny") - F.col("y")))
    j = j.filter(F.abs(F.abs(a_prior) - F.abs(a_new)) <= max_angle)
    w = Window.partitionBy("did").orderBy("distance", "neighbor_id")
    chosen = j.withColumn("_r", F.row_number().over(w)).filter(F.col("_r") == 1)
    return _append_hole_lines(df, chosen, hole_col, geometry_col)


def close_network_holes_to_deadends(
    df: DataFrame,
    max_distance: float,
    hole_col: str = "hole",
    geometry_col: str = "geometry",
) -> DataFrame:
    """Connect each deadend to its nearest OTHER deadend within
    ``max_distance`` (no angle condition; one line per unordered pair —
    reference ``closing_network_holes.py:128-201, 320-378``)."""
    from pyspark.sql.window import Window

    from .knn import get_k_nearest_neighbors

    deadends, _ = _deadends_df(df, geometry_col)
    n_de = deadends.count()
    if n_de <= 1:
        return df.withColumn(hole_col, F.lit(0))
    cand = get_k_nearest_neighbors(
        deadends,
        deadends.select(
            F.col("did").alias("node_id"),
            F.col("x").alias("px"), F.col("y").alias("py"),
        ),
        k=min(8, n_de),
        left_id="did", right_id="node_id",
    )
    nd = deadends.select(
        F.col("did").alias("neighbor_id"),
        F.col("x").alias("nx"), F.col("y").alias("ny"),
    )
    j = (
        cand.join(F.broadcast(deadends), "did")
        .join(F.broadcast(nd), "neighbor_id")
        .filter(F.col("neighbor_id") != F.col("did"))
        .filter((F.col("nx") != F.col("ox")) | (F.col("ny") != F.col("oy")))
        .filter(F.col("distance") <= max_distance)
    )
    w = Window.partitionBy("did").orderBy("distance", "neighbor_id")
    chosen = (
        j.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .withColumn("_a", F.least("did", "neighbor_id"))
        .withColumn("_b", F.greatest("did", "neighbor_id"))
        .dropDuplicates(["_a", "_b"])
    )
    return _append_hole_lines(df, chosen, hole_col, geometry_col)


def get_k_routes(
    edges: DataFrame,
    origins: DataFrame,
    destinations: DataFrame,
    k: int,
    drop_middle_percent: float,
    weight_col: str = "weight",
    origin_id: str = "origin",
    dest_id: str = "destination",
    origin_node: str = "node_id",
) -> DataFrame:
    """k alternative routes per OD pair (reference ``get_k_routes``,
    ``networkanalysis.py:750-916`` / ``_get_route.py:101-189``): shortest
    path, then the middle ``drop_middle_percent`` of its edges is banned
    and the pair re-solved, k times.  Output: (origin, destination, k,
    seq, src, dst) ordered edge lists — same broadcast-graph /
    partitioned-origins shape as get_route."""
    from ..kernels.graph import k_routes_for_pair

    bc = _broadcast_adjacency(edges, weight_col)
    dest_rows = destinations.select(dest_id, origin_node).collect()
    dests = [(r[0], r[1]) for r in dest_rows]
    spark = origins.sparkSession
    bc_dests = spark.sparkContext.broadcast(dests)

    schema = T.StructType(
        [
            T.StructField(origin_id, origins.schema[origin_id].dataType),
            T.StructField(dest_id, destinations.schema[dest_id].dataType),
            T.StructField("k", T.IntegerType()),
            T.StructField("seq", T.IntegerType()),
            T.StructField("src", T.LongType()),
            T.StructField("dst", T.LongType()),
        ]
    )

    def kernel(it):
        src_, dst_, w_ = bc.value
        adj = Adjacency(src_, dst_, w_)
        dlist = bc_dests.value
        for pdf in it:
            rows = {f.name: [] for f in schema.fields}
            for i in range(len(pdf)):
                oid = pdf[origin_id].iloc[i]
                onode = pdf[origin_node].iloc[i]
                for did, dnode in dlist:
                    routes = k_routes_for_pair(
                        adj, onode, dnode, k, drop_middle_percent
                    )
                    for ki, p in enumerate(routes, start=1):
                        for s in range(len(p) - 1):
                            rows[origin_id].append(oid)
                            rows[dest_id].append(did)
                            rows["k"].append(ki)
                            rows["seq"].append(s)
                            rows["src"].append(int(p[s]))
                            rows["dst"].append(int(p[s + 1]))
            yield pd.DataFrame(rows)

    o = origins.select(origin_id, origin_node)
    return o.repartition(
        max(origins.sparkSession.sparkContext.defaultParallelism, 2), origin_id
    ).mapInPandas(kernel, schema=schema)


def precice_service_area(
    edges: DataFrame,
    origins: DataFrame,
    breaks: list[float],
    weight_col: str = "weight",
    origin_id: str = "origin",
    origin_node: str = "node_id",
    geometry_col: str = "geometry",
) -> DataFrame:
    """Exact service-area edges per origin per break (reference
    ``precice_service_area``, ``networkanalysis.py:1046-1174`` /
    ``_service_area.py:34-150``, directed case):

    * edges whose BOTH endpoints are reachable within the break are
      included whole;
    * edges whose source is reachable but target is not are CUT at the
      remaining distance (break - cost(source)) and the prefix piece is
      included (the reference's cut_lines_once + source-touch filter).

    Relational shape: the node-distance stage is the distributed
    Dijkstra (service_area_nodes); everything after is joins + one Arrow
    line-cut kernel on the partly-within rows only."""
    from .lineops import cut_lines_once

    d = service_area_nodes(
        edges, origins, breaks, weight_col, origin_id, origin_node
    )
    d_src = d.select(
        F.col(origin_id), F.col("break_val"),
        F.col("node_id").alias("source"), F.col("cost").alias("_cost_src"),
    )
    d_tgt = d.select(
        F.col(origin_id), F.col("break_val"),
        F.col("node_id").alias("target"), F.lit(1).alias("_tgt_in"),
    )
    e = edges.select("source", "target", weight_col, geometry_col)
    j = (
        e.join(d_src, "source")
        .join(d_tgt, [origin_id, "break_val", "target"], "left")
    )
    whole = j.filter(F.col("_tgt_in").isNotNull()).select(
        origin_id, "break_val", "source", "target", geometry_col
    )
    partly = (
        j.filter(F.col("_tgt_in").isNull())
        .withColumn("_remaining", F.col("break_val") - F.col("_cost_src"))
        .filter(F.col("_remaining") > 0)
        .select(origin_id, "break_val", "source", "target", geometry_col,
                "_remaining", F.col(weight_col).alias("_w"))
    )
    # cut at the remaining GEOMETRIC distance: length * remaining/weight
    # (identical to the reference when the weight IS meters; exact for any
    # weight proportional to length per edge)
    partly = with_length(partly, geometry_col, "_len").withColumn(
        "_cutd", F.col("_len") * F.col("_remaining") / F.col("_w")
    )
    cut = cut_lines_once(partly, "_cutd", geometry_col, keep="first")
    partly_cut = cut.select(
        origin_id, "break_val", "source", "target", geometry_col
    )
    return whole.unionByName(partly_cut)


def get_component_size(lines: DataFrame, nodes: DataFrame) -> DataFrame:
    """Per-line ``component_size`` — the node count of the component the
    line belongs to (reference ``finding_isolated_networks.py:66-113``).
    connected-components labels + one groupBy(component) count joined
    back; no driver-side graph."""
    from .clusters import connected_components

    edges = lines.select(F.col("source").alias("src"), F.col("target").alias("dst"))
    comp = connected_components(
        edges, nodes.select("node_id"), id_col="node_id", component_col="component"
    )
    sizes = comp.groupBy("component").agg(F.count("*").alias("component_size"))
    return (
        lines.join(comp.withColumnRenamed("node_id", "source"), "source")
        .join(F.broadcast(sizes), "component")
        .drop("component")
    )
