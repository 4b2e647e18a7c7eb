"""gridloop — run any batch function cellwise over a grid, with halo.

Reference: ``sgis/geopandas_tools/bounds.py:16-173`` — ``gridloop`` makes
a grid over a mask, clips every input to each (optionally buffered) cell,
runs the function, clips results back.  Its test asserts cellwise
execution concat-equals the global run, including with the ``gridbuffer``
halo (``tests/test_bounds.py:33-89``) — the foundational invariant of any
tiled spatial engine, and this module's pytest contract.

Spark mapping: the grid IS the shuffle.  ``gridloop`` =
``groupBy(cell).applyInPandas(func)``; the halo (``gridbuffer``) =
duplicating each row into every neighbor cell whose buffered extent
contains it, and clip-back = keeping only rows whose own position lies in
the task's home cell.  Halo rows are flagged so the user function can use
them as context without emitting them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gridloop(
    df: DataFrame,
    func,
    out_schema,
    gridsize: float,
    halo: float = 0.0,
    x_col: str = "x",
    y_col: str = "y",
):
    """Apply ``func(pdf) -> pdf`` per grid cell.

    ``func`` receives the cell's rows plus (if ``halo > 0``) all rows
    within ``halo`` of the cell boundary with ``_is_halo = True``, and
    must return rows only for non-halo input (the clip-back contract,
    ``bounds.py:141-168``).
    """
    if halo > 0 and halo > gridsize:
        raise ValueError("halo must be <= gridsize (one-ring neighbor duplication)")

    ix = F.floor(F.col(x_col) / F.lit(float(gridsize))).cast("long")
    iy = F.floor(F.col(y_col) / F.lit(float(gridsize))).cast("long")
    if halo <= 0:
        cells = df.withColumn("_cell", ix * F.lit(1 << 21) + iy).withColumn(
            "_is_halo", F.lit(False)
        )
    else:
        # emit the home cell + every neighbor cell whose halo band the row
        # falls in — pure column arithmetic, rows fan out at most 4x
        fx = F.col(x_col) / F.lit(float(gridsize)) - ix
        fy = F.col(y_col) / F.lit(float(gridsize)) - iy
        h = F.lit(float(halo) / float(gridsize))
        entries = []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                cond = F.lit(True)
                if dx == -1:
                    cond = cond & (fx < h)
                if dx == 1:
                    cond = cond & (fx > 1 - h)
                if dy == -1:
                    cond = cond & (fy < h)
                if dy == 1:
                    cond = cond & (fy > 1 - h)
                cell = (ix + dx) * F.lit(1 << 21) + (iy + dy)
                entries.append(
                    F.when(
                        cond,
                        F.struct(
                            cell.alias("c"), F.lit(dx != 0 or dy != 0).alias("h")
                        ),
                    ).otherwise(F.lit(None))
                )
        arr = F.filter(F.array(*entries), lambda e: e.isNotNull())
        cells = (
            df.withColumn("_e", F.explode(arr))
            .withColumn("_cell", F.col("_e.c"))
            .withColumn("_is_halo", F.col("_e.h"))
            .drop("_e")
        )

    def kernel(key, pdf):
        return func(pdf.drop(columns=["_cell"]))

    return cells.groupBy("_cell").applyInPandas(kernel, schema=out_schema)
