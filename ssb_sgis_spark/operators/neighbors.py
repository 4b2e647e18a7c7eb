"""Generic neighbor join — geometry × geometry get_neighbor_indices.

Reference: ``get_neighbor_indices(gdf, neighbors, max_distance=0,
predicate="intersects")`` (``geopandas_tools/neighbors.py:19-116``) for
ARBITRARY geometry pairs.  The point×polygon fast path lives in
:mod:`.sjoin` (cell covers, codegen predicate); this operator covers the
general case: bbox-cell candidate pairs (left bounds widened by
``max_distance``) + an Arrow refine kernel running the boolean/distance
kernels per pair.

Predicates: ``intersects`` (default), ``within`` (area-of-difference
emptiness via the boolean kernel, the reference's geometric meaning),
``intersects`` + ``max_distance`` = distance(a, b) <= d (vertex↔edge
minimum both ways — exact for non-crossing polygon boundaries, 0 when
they intersect).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import wkb
from ..kernels.boolean import difference, parts_intersect, polygon_area
from ..kernels.geom import point_to_edges_dist2, ring_edges
from .geomtable import with_bounds
from .overlay import candidate_pairs


def _parts_rings(parts):
    return [r for rings in parts for r in rings]


def _parts_verts(parts):
    rings = _parts_rings(parts)
    return (
        np.concatenate([r[:, 0] for r in rings]),
        np.concatenate([r[:, 1] for r in rings]),
    )


def parts_distance2(a, b) -> float:
    """Min squared distance between two geometries in parts form: 0 when
    they intersect, else the vertex↔edge minimum checked both ways."""
    if parts_intersect(a, b):
        return 0.0
    ea, eb = ring_edges(_parts_rings(a)), ring_edges(_parts_rings(b))
    va, vb = _parts_verts(a), _parts_verts(b)
    best = np.inf
    if eb is not None and len(va[0]):
        best = min(best, float(point_to_edges_dist2(va[0], va[1], eb).min()))
    if ea is not None and len(vb[0]):
        best = min(best, float(point_to_edges_dist2(vb[0], vb[1], ea).min()))
    return best


def get_neighbor_indices(
    df1: DataFrame,
    df2: DataFrame,
    left_id: str,
    right_id: str,
    predicate: str = "intersects",
    max_distance: float = 0.0,
    geometry_col: str = "geometry",
) -> DataFrame:
    """(left_id, right_id) rows for every pair satisfying the predicate
    (optionally within ``max_distance`` — the reference buffers the left
    side; widening the left bbox + exact distance refine is equivalent
    and cheaper)."""
    if predicate not in ("intersects", "within"):
        raise ValueError(f"predicate must be intersects/within, got {predicate!r}")
    l = with_bounds(df1.select(left_id, geometry_col), geometry_col)
    if max_distance:
        d = float(max_distance)
        l = (
            l.withColumn("minx", F.col("minx") - d)
            .withColumn("miny", F.col("miny") - d)
            .withColumn("maxx", F.col("maxx") + d)
            .withColumn("maxy", F.col("maxy") + d)
        )
    pairs, _ = candidate_pairs(l, df2.select(right_id, geometry_col), geometry_col)
    gl, gr = geometry_col, geometry_col + "__r"
    rid = right_id if right_id != left_id else right_id + "__r"

    schema = T.StructType(
        [
            df1.schema[left_id],
            T.StructField(rid, df2.schema[right_id].dataType),
        ]
    )
    max_d2 = float(max_distance) * float(max_distance)
    pred = predicate

    def refine(it):
        for pdf in it:
            if not len(pdf):
                continue
            ga = wkb.decode(pdf[gl].tolist())
            gb = wkb.decode(pdf[gr].tolist())
            keep = []
            for i in range(len(pdf)):
                a = ga.geom_parts(i)
                b = gb.geom_parts(i)
                if not a or not b:
                    continue
                if pred == "within":
                    ok = parts_intersect(a, b) and polygon_area(
                        difference(a, [b])
                    ) <= 1e-6
                elif max_d2 > 0:
                    ok = parts_distance2(a, b) <= max_d2
                else:
                    ok = parts_intersect(a, b)
                if ok:
                    keep.append(i)
            o = pdf.iloc[keep][[left_id, right_id + "__r"]].copy()
            o.columns = [left_id, rid]
            yield o

    return pairs.mapInPandas(refine, schema=schema)
