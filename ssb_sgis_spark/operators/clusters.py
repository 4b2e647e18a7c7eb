"""Polygon clusters + distributed connected components.

Reference: ``get_polygon_clusters`` (``sgis/geopandas_tools/
polygon_operations.py:31-188``): STRtree self-join pairs → networkx
``connected_components`` → cluster label column.  At 10^12 rows neither a
driver-side graph nor a global STRtree exists, so:

* candidate pair edges (:func:`polygon_pair_edges`) come from the
  overlay's bbox-cell candidate join,
  :func:`~ssb_sgis_spark.operators.overlay.candidate_pairs`, run as a
  self-join and refined by the exact
  :func:`~ssb_sgis_spark.kernels.boolean.parts_intersect` predicate in an
  Arrow batch; without a given ``res`` the bounds are decoded once into a
  ``localCheckpoint`` that both join sides read, and the same job
  observes the median bbox span that picks ``res``, and
* components are computed by **iterative hash-min label propagation with
  pointer jumping** (label-of-label each step → O(log diameter)
  rounds).  The induced symmetric edge list is pinned once, and an
  ``Observation`` on that job counts it.  Below ``LOCAL_CC_MAX_EDGES``
  rows the rounds run in numpy on the driver (the reference's
  networkx scale) and the labels return as an Arrow-built
  ``LocalRelation``; above it each round is a ``localCheckpoint``-ed
  pair of shuffle steps — the DataFrame equivalent of map-reduce CC
  (large-star/small-star family).  On both paths every step flags the
  labels it lowered, and the loop stops in the first round whose last
  step lowered none.

``cluster_points_within_distance`` is the point specialization used by
buffdissexp-by-cluster pipelines on page points: buffering points by r and
clustering overlaps ≡ clustering points with pairwise distance < 2r, so
the pair edges are a native 3×3 neighbor-cell join + distance filter —
no geometry ever materializes for the 10^12-point side.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cells import cell_index_col, DOMAIN_SIZE, MAX_RES
from ..kernels import wkb
from ..kernels.boolean import parts_intersect
from .geomtable import side_profile, with_bounds
from .overlay import _detect_boxes, candidate_pairs


# -------------------------------------------------------- pair generation
def polygon_pair_edges(
    df: DataFrame,
    id_col: str,
    geometry_col: str = "geometry",
    res: int | None = None,
) -> DataFrame:
    """(src, dst) edges between intersecting polygons of one table —
    :func:`~.overlay.candidate_pairs` as a self-join (src < dst) + exact
    predicate refine (the reference's STRtree self-query,
    ``polygon_operations.py:100-110``).  With ``res`` None, one eager
    job pins the decoded bounds and picks ``res``; both join sides read
    that pin."""
    b = with_bounds(df.select(id_col, geometry_col), geometry_col)
    if res is None:
        # both self-join sides read the one checkpointed decode
        b, _, res = side_profile(b)
    id_r, geometry_r = id_col + "__r", geometry_col + "__r"
    pairs, _ = candidate_pairs(b, b, geometry_col, res, broadcast_right=False)
    pairs = pairs.filter(F.col(id_col) < F.col(id_r))

    out_schema = T.StructType(
        [
            T.StructField("src", df.schema[id_col].dataType),
            T.StructField("dst", df.schema[id_col].dataType),
        ]
    )

    def refine(it):
        for pdf in it:
            if not len(pdf):
                continue
            ga = wkb.decode(pdf[geometry_col].tolist())
            gb = wkb.decode(pdf[geometry_r].tolist())
            # box x box pairs that survived the bbox-overlap filter are
            # intersecting by definition — skip the per-pair kernel for
            # the dominant tile/grid shape (same fast path as overlay)
            am, *_ = _detect_boxes(ga)
            bm, *_ = _detect_boxes(gb)
            both = am & bm
            keep = list(np.flatnonzero(both)) + [
                i
                for i in np.flatnonzero(~both)
                if parts_intersect(ga.geom_parts(i), gb.geom_parts(i))
            ]
            o = pdf.iloc[sorted(keep)][[id_col, id_r]].copy()
            o.columns = ["src", "dst"]
            yield o

    return pairs.mapInPandas(refine, schema=out_schema)


def point_pair_edges_within(
    df: DataFrame,
    distance: float,
    id_col: str = "uid",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """(src, dst) edges between points closer than ``distance`` — native
    3×3 neighbor-cell equi-join + distance filter, no Python, no WKB.
    Each pair appears exactly once (left emits 1 cell, right emits its
    3×3 block), so no dedup shuffle is needed."""
    res = int(np.clip(int(np.floor(np.log2(DOMAIN_SIZE / distance))), 2, MAX_RES))
    # join on raw (ix, iy) integer cell indices, NOT the Morton code: the
    # interleave expression tree grows ~3^5× per bit-spread and 9 neighbor
    # copies of it blow up whole-stage codegen (janino OOM).  Two int
    # columns shuffle identically.
    ix = cell_index_col(F.col(x_col), res, "x")
    iy = cell_index_col(F.col(y_col), res, "y")
    left = df.select(
        F.col(id_col).alias("src"),
        F.col(x_col).alias("_x1"),
        F.col(y_col).alias("_y1"),
        ix.alias("_jx"),
        iy.alias("_jy"),
    )
    neigh = [
        F.struct((ix + dx).alias("_jx"), (iy + dy).alias("_jy"))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    ]
    right = (
        df.select(
            F.col(id_col).alias("dst"),
            F.col(x_col).alias("_x2"),
            F.col(y_col).alias("_y2"),
            F.explode(F.array(*neigh)).alias("_n"),
        )
        .select("dst", "_x2", "_y2", "_n._jx", "_n._jy")
    )
    d2 = F.lit(float(distance) * float(distance))
    dx = F.col("_x1") - F.col("_x2")
    dy = F.col("_y1") - F.col("_y2")
    return (
        left.join(right, ["_jx", "_jy"])
        .filter(F.col("src") < F.col("dst"))
        .filter(dx * dx + dy * dy < d2)
        .select("src", "dst")
    )


# ---------------------------------------------------- connected components
# symmetric edge rows below this are labelled on the driver, like the
# reference's networkx path; larger graphs run the distributed rounds
LOCAL_CC_MAX_EDGES = 1_000_000


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "id",
    component_col: str = "component",
    max_iter: int = 50,
) -> DataFrame:
    """Label every vertex with min-id of its connected component.

    Components are those of the subgraph induced on ``vertices``: an edge
    with an endpoint missing from ``vertices`` joins nothing, and labels
    never propagate through such an endpoint.

    Both directions of ``edges``, restricted to that induced subgraph,
    are pinned by one ``localCheckpoint``; an ``Observation`` on that
    job counts the symmetric rows (a retried stage can only over-count,
    so the choice errs toward the distributed path).  Below
    ``LOCAL_CC_MAX_EDGES`` rows the pin is collected and labelled on the
    driver (:func:`_driver_labels`), and the labels come back as an
    Arrow-built ``LocalRelation`` whose size the planner knows, so the
    joins downstream broadcast it and no Python worker re-reads it.
    Otherwise :func:`_distributed_labels` runs the same rounds as
    shuffles.

    A round is two steps; a step is (label ← min(label, neighbors'
    labels)) ∘ (label ← label of label).  Each step flags the vertices
    whose label it lowered; the loop stops after the first round whose
    second step lowered none.  That is a fixed point: both ends of every
    edge carry the same label, every label is the id of a component
    member and never exceeds the vertex's own id, so it is the
    component's min id.  Converges in O(log diameter) rounds.

    The rounds run ONLY over edge-touched vertices; vertices with no
    incident edge are self-labeled singletons unioned back map-only at
    the end.  Output-identical, but the per-round cost is proportional
    to the component graph, not the vertex set — on a near-duplicate
    graph over a web corpus the dup graph is orders of magnitude smaller
    than the corpus.

    Raises ``RuntimeError`` when the labels still change in round
    ``max_iter`` rather than returning unconverged components; both
    paths count rounds alike.
    """
    # both directions from ONE evaluation of ``edges`` (a unionAll of two
    # selects would run the upstream pair join and refine twice)
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("a"), F.col("dst").alias("b")),
                F.struct(F.col("dst").alias("a"), F.col("src").alias("b")),
            )
        ).alias("_e")
    ).select("_e.a", "_e.b")
    verts = vertices.select(F.col(id_col).alias("v"))
    # the induced subgraph: output rows stay ⊆ the vertices frame even if
    # edges mention ids outside it, and every ``a`` is a vertex
    sym = (
        sym.join(verts.select(F.col("v").alias("a")), "a", "left_semi")
        .join(verts.select(F.col("v").alias("b")), "b", "left_semi")
        .select("a", "b")
    )
    obs = Observation()
    sym = sym.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    if obs.get["n"] < LOCAL_CC_MAX_EDGES:
        labels = _driver_labels(sym, max_iter)
    else:
        labels = _distributed_labels(sym, max_iter)
    singletons = verts.join(labels.select("v"), "v", "left_anti").select(
        F.col("v"), F.col("v").alias("lbl")
    )
    return labels.unionByName(singletons).select(
        F.col("v").alias(id_col), F.col("lbl").alias(component_col)
    )


def _unconverged(max_iter: int) -> RuntimeError:
    return RuntimeError(
        f"connected_components did not converge within max_iter={max_iter}:"
        f" labels still changed in round {max_iter}; raise max_iter"
    )


def _driver_labels(sym: DataFrame, max_iter: int) -> DataFrame:
    """(v, lbl) of the pinned symmetric edges (a, b), labelled in numpy.
    Ids are coded by ``np.unique``, whose sorted codes make the min code
    the min id (string ids too: UTF-8 byte order, Spark's, is code-point
    order, Python's).  A step is a hash-min over the edges
    (``np.minimum.at``) then one pointer jump."""
    t = sym.toArrow()
    a, b = t.column("a").to_numpy(), t.column("b").to_numpy()
    ids, codes = np.unique(np.concatenate([a, b]), return_inverse=True)
    a, b = codes[: len(a)], codes[len(a) :]

    def step(lbl):
        nbr = lbl.copy()
        np.minimum.at(nbr, a, lbl[b])
        jumped = nbr[nbr]
        return jumped, bool((nbr < lbl).any() or (jumped < nbr).any())

    lbl = np.arange(len(ids))
    for _ in range(max_iter):
        lbl, _ = step(lbl)
        lbl, chg = step(lbl)
        if not chg:
            break
    else:
        raise _unconverged(max_iter)
    typ = sym.schema["a"].dataType
    schema = T.StructType([T.StructField("v", typ), T.StructField("lbl", typ)])
    # an Arrow table, not a pandas frame: pandas input becomes a
    # Python-RDD scan of unknown size that every reader re-runs
    return sym.sparkSession.createDataFrame(
        pa.table({"v": ids, "lbl": ids[lbl]}), schema
    )


def _distributed_labels(sym: DataFrame, max_iter: int) -> DataFrame:
    """(v, lbl) of the pinned symmetric edges (a, b): each step is two
    shuffles on (id), each round ``localCheckpoint``-ed — scale-safe, no
    driver-side graph.  The round's change flag is read by an
    ``Observation`` on its checkpoint job (``max`` is idempotent under
    stage retries), so a round costs no extra action."""
    labels = sym.select(F.col("a").alias("v")).distinct()
    labels = labels.select("v", F.col("v").alias("lbl")).localCheckpoint(eager=True)

    def step(lbls):
        """(v, lbl, ...) → (v, lbl, chg): chg marks a label this step lowered."""
        # neighbor min
        nbr_min = (
            sym.join(lbls, sym["b"] == lbls["v"])
            .groupBy("a")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new = lbls.join(nbr_min, lbls["v"] == nbr_min["a"], "left").select(
            F.col("v"),
            F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
            F.coalesce(F.col("nlbl") < F.col("lbl"), F.lit(False)).alias("chg"),
        )
        # pointer jumping: lbl <- lbl(lbl)
        l2 = new.selectExpr("v as v2", "lbl as lbl2")
        return new.join(l2, new["lbl"] == l2["v2"], "left").select(
            F.col("v"),
            F.coalesce(F.col("lbl2"), F.col("lbl")).alias("lbl"),
            (F.col("chg") | F.coalesce(F.col("lbl2") < F.col("lbl"), F.lit(False))).alias(
                "chg"
            ),
        )

    for _ in range(max_iter):
        # TWO propagation steps per checkpoint: the per-round fixed cost
        # (the eager checkpoint job) dominates the per-step shuffles until
        # the graph is huge.  The second step's change flag rides that
        # same job as an observed max — a fresh Observation per round,
        # since one fulfils only on its first action
        obs = Observation()
        labels = (
            step(step(labels))
            .observe(obs, F.max("chg").alias("chg"))
            .select("v", "lbl")
            .localCheckpoint(eager=True)
        )
        # NULL on an empty active set (no edges): nothing left to change
        if not obs.get["chg"]:
            return labels
    raise _unconverged(max_iter)


def get_polygon_clusters(
    df: DataFrame,
    cluster_col: str = "cluster",
    geometry_col: str = "geometry",
    id_col: str | None = None,
    res: int | None = None,
) -> DataFrame:
    """Append a cluster label (min member id) to every row — reference
    ``get_polygon_clusters`` (``polygon_operations.py:31-188``), with
    integer min-id labels instead of positional ones."""
    drop_id = False
    if id_col is None:
        df = df.withColumn("_cid", F.monotonically_increasing_id())
        df = df.localCheckpoint(eager=True)  # pin nondeterministic ids
        id_col = "_cid"
        drop_id = True
    edges = polygon_pair_edges(df, id_col, geometry_col, res)
    comp = connected_components(
        edges, df.select(id_col), id_col=id_col, component_col=cluster_col
    )
    out = df.join(comp, id_col, "left").withColumn(
        cluster_col, F.coalesce(F.col(cluster_col), F.col(id_col))
    )
    return out.drop("_cid") if drop_id else out


def cluster_points_within_distance(
    df: DataFrame,
    distance: float,
    id_col: str = "uid",
    x_col: str = "x",
    y_col: str = "y",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Cluster points whose pairwise distance < ``distance`` (≡ clustering
    r=distance/2 point buffers by overlap).  Returns df + cluster label."""
    edges = point_pair_edges_within(df, distance, id_col, x_col, y_col)
    comp = connected_components(
        edges, df.select(id_col), id_col=id_col, component_col=cluster_col
    )
    return df.join(comp, id_col, "left").withColumn(
        cluster_col, F.coalesce(F.col(cluster_col), F.col(id_col))
    )
