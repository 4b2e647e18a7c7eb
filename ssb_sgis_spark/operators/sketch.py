"""Sketch operators: HyperLogLog-style distinct counting.

"How many distinct URLs / normalized texts / n-grams are in this 10^12-row
table?" is the canonical constant-memory question.  ``approx_count_distinct``
is built in, but its HLL++ registers are implementation-private — useless
when the sketch itself must be STORED (per-partition sketches merged across
snapshots) or CHECKED against another engine.  This operator builds the
registers from md5, with every expression generated ONCE as SQL text and
evaluated identically by Spark and DuckDB (the quality_filter shared-
generator pattern), so the register table is bit-exact cross-engine:

* bucket    = first ``b`` hex chars of md5(value)   (m = 16^b registers)
* rank      = 1 + leading zero BITS of the next 24 hex chars (pure string
              arithmetic: hex-zeros*4 + a CASE on the first nonzero digit)
* register  = max(rank) per bucket — ONE groupBy with map-side combine;
              the shuffle carries at most m short rows per map task.

Sketches merge by ``max`` (union semantics), which is exactly this
operator applied to the concatenation — or a ``groupBy(bucket).max`` over
stored register tables.  The float harmonic-mean ESTIMATE is driver-side
(:func:`hll_estimate`) and pytest-verified against true cardinalities;
the oracle-checked artifact is the integer register table.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BUCKET_HEX = 3  # m = 4096 registers, sigma ~= 1.04/sqrt(m) ~= 1.6%
_RANK_HEX = 24  # 96 bits of rank material -> max rank 97


def hll_register_exprs(value_sql: str, bucket_hex: int = DEFAULT_BUCKET_HEX):
    """(bucket_sql, rank_sql) — ANSI SQL text both engines evaluate
    identically (md5, substr, trim, CASE only)."""
    b = int(bucket_hex)
    h = f"substr(md5({value_sql}), {b + 1}, {_RANK_HEX})"
    stripped = f"trim(LEADING '0' FROM {h})"
    zhex = f"(length({h}) - length({stripped}))"
    first = f"substr({stripped}, 1, 1)"
    extra = (
        f"(CASE WHEN {first} = '1' THEN 3 "
        f"WHEN {first} IN ('2','3') THEN 2 "
        f"WHEN {first} IN ('4','5','6','7') THEN 1 "
        f"ELSE 0 END)"
    )
    rank = (
        f"(CASE WHEN {stripped} = '' THEN {4 * _RANK_HEX + 1} "
        f"ELSE {zhex} * 4 + {extra} + 1 END)"
    )
    bucket = f"substr(md5({value_sql}), 1, {b})"
    return bucket, rank


def hll_sketch(
    df: DataFrame,
    value_col: str,
    bucket_hex: int = DEFAULT_BUCKET_HEX,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group_cols..., bucket, max_rank) register rows for distinct-
    ``value_col`` counting — non-empty registers only, all from the
    shared SQL expressions, one map-side-combined groupBy.

    ``group_cols`` makes this the GROUPED sketch (the DAU/distinct-
    per-key rollup): one independent register set per group, still one
    combinable shuffle of at most ``groups × 16^bucket_hex`` register
    rows; sketches for the same group from different partitions /
    snapshots merge by ``groupBy(group, bucket).max`` exactly like the
    global sketch, which is the whole point — distinct counts roll up
    WITHOUT re-reading raw data."""
    bucket, rank = hll_register_exprs(value_col, bucket_hex)
    gcols = [F.col(g) for g in (group_cols or [])]
    return (
        df.select(
            *gcols, F.expr(bucket).alias("bucket"), F.expr(rank).alias("rank")
        )
        .groupBy(*(group_cols or []), "bucket")
        .agg(F.max("rank").cast("long").alias("max_rank"))
    )


def hll_estimate(
    registers: dict[str, int] | list[tuple[str, int]],
    bucket_hex: int = DEFAULT_BUCKET_HEX,
) -> float:
    """Flajolet HLL estimate from the register table (missing buckets are
    zero).  Standard alpha_m bias constant + linear-counting correction
    for the small range; driver-side numpy over at most m registers."""
    m = 16 ** int(bucket_hex)
    if isinstance(registers, dict):
        vals = list(registers.values())
    else:
        vals = [v for _, v in registers]
    regs = np.zeros(m, dtype=np.float64)
    regs[: len(vals)] = vals  # positions don't matter for the harmonic sum
    alpha = 0.7213 / (1 + 1.079 / m)
    est = alpha * m * m / np.sum(np.exp2(-regs))
    zeros = m - len(vals)
    if est <= 2.5 * m and zeros > 0:
        est = m * np.log(m / zeros)  # linear counting
    return float(est)


# ------------------------------------------------------------- count-min
CMS_DEPTH = 4
CMS_WIDTH_HEX = 3  # 4096 columns per row -> eps ~= e/4096 of the L1 mass


def cms_register_exprs(
    value_sql: str, depth: int = CMS_DEPTH, width_hex: int = CMS_WIDTH_HEX
):
    """Per-seed column expressions: col_i = first ``width_hex`` hex chars
    of md5(seed || value) — one shared SQL text per seed, identical in
    both engines."""
    return [
        f"substr(md5(concat('{i}#', {value_sql})), 1, {int(width_hex)})"
        for i in range(int(depth))
    ]


def cms_sketch(
    df: DataFrame,
    value_col: str,
    weight_col: str | None = None,
    depth: int = CMS_DEPTH,
    width_hex: int = CMS_WIDTH_HEX,
) -> DataFrame:
    """Count-min sketch rows ``(seed, col, cnt)`` over ``value_col``
    (optionally weighted): d seeded hash rows, one map-side-combined
    groupBy — the mergeable constant-memory frequency table.  Point
    estimate = min over seeds of the (seed, col(v)) cell (an upper
    bound; see :func:`cms_estimate`); sketches merge by groupBy.sum."""
    cols = cms_register_exprs(value_col, depth, width_hex)
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    long_rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("seed"),
                        F.expr(c).alias("col"),
                    )
                    for i, c in enumerate(cols)
                ]
            )
        ).alias("_s"),
        w.alias("_w"),
    )
    return (
        long_rows.select("_s.seed", "_s.col", "_w")
        .groupBy("seed", "col")
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_estimate(
    sketch_rows,
    value: str,
    depth: int = CMS_DEPTH,
    width_hex: int = CMS_WIDTH_HEX,
) -> int:
    """Point frequency estimate (min over seeds) from collected sketch
    rows — never under the true count, over by at most ~e/width of the
    total mass with prob 1-(1/2)^depth."""
    import hashlib

    cells = {(int(s), c): int(n) for s, c, n in sketch_rows}
    est = None
    for i in range(int(depth)):
        col = hashlib.md5(f"{i}#{value}".encode()).hexdigest()[: int(width_hex)]
        v = cells.get((i, col), 0)
        est = v if est is None else min(est, v)
    return int(est or 0)
