"""buffer → dissolve → explode family.

Reference: ``sgis/geopandas_tools/buffer_dissolve_explode.py`` —
``buff`` (:303-335, buffer resolution=50 + make_valid), ``buffdiss``
(:82-162), ``dissexp`` (:165-206), ``buffdissexp`` (:38-79), and the
scalable ``dissexp_by_cluster`` (:209-266, "many times faster if many
non-overlapping geometries").

Spark mapping (SURVEY §2.6):
* buff      = Arrow-batched buffer kernel in ``mapInPandas``
* dissolve  = ``groupBy(by).applyInPandas(arrangement union)``
* explode   = ``make_all_singlepart``
* by_cluster = connected components over the candidate-pair edge list
  (:mod:`.clusters`), then ``groupBy(cluster ∪ by)`` — THE distributed
  dissolve: a global unary_union never materializes, each union task sees
  only one overlapping cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import wkb
from ..kernels.boolean import union_all
from ..kernels.buffer import DEFAULT_QUAD_SEGS, buffer_parts
from .geomtable import make_all_singlepart, map_geoms


def buff(
    df: DataFrame,
    distance: float,
    quad_segs: int = DEFAULT_QUAD_SEGS,
    geometry_col: str = "geometry",
) -> DataFrame:
    """Buffer every geometry (reference ``buff``, resolution=50 parity)."""
    return map_geoms(
        df,
        lambda parts, t: buffer_parts(parts, t, distance, quad_segs),
        geometry_col,
        out_type=wkb.T_POLYGON,
    )


def dissolve(
    df: DataFrame,
    by: list[str] | str | None = None,
    geometry_col: str = "geometry",
    salt: int | None = None,
) -> DataFrame:
    """Group-wise unary union (reference dissolve,
    ``buffer_dissolve_explode.py:158``); non-`by` columns are dropped
    except the geometry (reference keeps aggfunc="first" of others —
    callers needing that select it into `by`).

    ``salt``: explicit two-stage skew-salted shuffle (the north rule's
    hot-cell policy).  Geometry union has no map-side partial aggregation
    (it runs in applyInPandas), so a hot group (an Oslo-dense cell with
    10^6 members) lands on ONE task.  With salt=N: stage 1 unions each
    ``(by, hash(geometry) % N)`` sub-group in parallel, stage 2 unions the
    ≤N partials per group.  Union is associative/commutative, so the
    result is identical (tested)."""
    if by is None:
        bycols: list[str] = []
    elif isinstance(by, str):
        bycols = [by]
    else:
        bycols = list(by)

    if salt is not None and salt > 1:
        salted = df.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(geometry_col)), F.lit(salt))
        )
        stage1 = dissolve(salted, bycols + ["_salt"], geometry_col, salt=None)
        return dissolve(stage1, bycols, geometry_col, salt=None)

    fields = [df.schema[c] for c in bycols] + [T.StructField("geometry", T.BinaryType())]
    schema = T.StructType(fields)

    def kernel(key, pdf):
        ga = wkb.decode(pdf[geometry_col].tolist())
        polys = [ga.geom_parts(g) for g in range(len(ga)) if ga.types[g] == wkb.T_POLYGON]
        out = union_all(polys)
        row = pdf.iloc[:1][bycols].copy()
        row["geometry"] = [wkb.encode_geom(out, wkb.T_POLYGON)] if out else [None]
        return row

    grouped = df.groupBy(*bycols) if bycols else df.groupBy(F.lit(1).alias("_g"))
    return grouped.applyInPandas(kernel, schema=schema)


def dissexp(
    df: DataFrame,
    by: list[str] | str | None = None,
    geometry_col: str = "geometry",
) -> DataFrame:
    """dissolve → explode to singlepart (reference ``dissexp``,
    ``buffer_dissolve_explode.py:165-206``)."""
    return make_all_singlepart(dissolve(df, by, geometry_col))


def buffdiss(df: DataFrame, distance: float, by=None, quad_segs=DEFAULT_QUAD_SEGS, geometry_col="geometry") -> DataFrame:
    """buffer → dissolve (``buffer_dissolve_explode.py:82-162``)."""
    return dissolve(buff(df, distance, quad_segs, geometry_col), by, geometry_col)


def buffdissexp(df: DataFrame, distance: float, by=None, quad_segs=DEFAULT_QUAD_SEGS, geometry_col="geometry") -> DataFrame:
    """buffer → dissolve → explode (``buffer_dissolve_explode.py:38-79``)."""
    return make_all_singlepart(buffdiss(df, distance, by, quad_segs, geometry_col))


def dissexp_by_cluster(
    df: DataFrame,
    by: list[str] | str | None = None,
    geometry_col: str = "geometry",
    cluster_col: str = "_cluster",
) -> DataFrame:
    """Cluster overlapping geometries first, then dissolve per cluster —
    the scalable dissolve (reference ``buffer_dissolve_explode.py:209-266``).
    Invariant (tested): result ≡ plain dissexp, but no union task ever sees
    more than one overlap cluster."""
    from .clusters import get_polygon_clusters

    bycols = [by] if isinstance(by, str) else list(by or [])
    clustered = get_polygon_clusters(df, cluster_col=cluster_col, geometry_col=geometry_col)
    out = dissexp(clustered, by=bycols + [cluster_col], geometry_col=geometry_col)
    return out.drop(cluster_col)


def buffdissexp_by_cluster(df: DataFrame, distance: float, by=None, quad_segs=DEFAULT_QUAD_SEGS, geometry_col="geometry") -> DataFrame:
    """buffer + cluster dissolve (``buffer_dissolve_explode.py:269-300``)."""
    return dissexp_by_cluster(buff(df, distance, quad_segs, geometry_col), by, geometry_col)
