"""gridloop tiled≡global invariant, salted dissolve equivalence, and
checkpoint-resume of tile batches committed as snapshots."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ssb_sgis_spark.kernels import wkb
from ssb_sgis_spark.kernels.boolean import polygon_area
from ssb_sgis_spark.operators.dissolve import dissexp, dissolve
from ssb_sgis_spark.operators.gridloop import gridloop
from ssb_sgis_spark.plans.manifest import TiledRun, partition_metrics
from ssb_sgis_spark.sources.snapshots import (
    expire_snapshots,
    read_snapshot_table,
    snapshots,
)


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.RandomState(9)
    n = 400
    xs = 250000.0 + rng.rand(n) * 30000
    ys = 6600000.0 + rng.rand(n) * 30000
    df = spark.createDataFrame(
        [(int(i), float(xs[i]), float(ys[i])) for i in range(n)],
        "uid long, x double, y double",
    )
    return xs, ys, df


def test_gridloop_with_halo_equals_global(spark, points):
    """Per-point neighbor count within r: cellwise with halo == global —
    the reference's gridloop invariant (tests/test_bounds.py:33-89)."""
    xs, ys, df = points
    r = 900.0

    out_schema = T.StructType(
        [T.StructField("uid", T.LongType()), T.StructField("n_nbr", T.LongType())]
    )

    def func(pdf):
        own = pdf[~pdf["_is_halo"]]
        allp = pdf
        counts = []
        for _, row in own.iterrows():
            d2 = (allp["x"] - row["x"]) ** 2 + (allp["y"] - row["y"]) ** 2
            counts.append(int((d2 < r * r).sum() - 1))
        import pandas as pd

        return pd.DataFrame({"uid": own["uid"].values, "n_nbr": counts})

    got = {
        r_["uid"]: r_["n_nbr"]
        for r_ in gridloop(df, func, out_schema, gridsize=5000.0, halo=r).collect()
    }
    # global oracle
    d2 = (xs[:, None] - xs[None, :]) ** 2 + (ys[:, None] - ys[None, :]) ** 2
    exp = ((d2 < r * r).sum(axis=1) - 1).astype(int)
    assert got == {i: int(exp[i]) for i in range(len(xs))}


def test_salted_dissolve_equals_plain(spark):
    """Two-stage salted union ≡ one-stage union (hot-cell skew policy)."""
    rng = np.random.RandomState(4)
    rows = []
    for i in range(60):
        x0 = 250000.0 + rng.rand() * 8000
        y0 = 6600000.0 + rng.rand() * 8000
        ring = np.array(
            [
                (x0, y0),
                (x0 + 500 + rng.rand() * 1500, y0),
                (x0 + 500 + rng.rand() * 1500, y0 + 500 + rng.rand() * 1500),
                (x0, y0 + 500 + rng.rand() * 1500),
                (x0, y0),
            ]
        )
        rows.append((i % 3, bytearray(wkb.encode_polygon([ring]))))
    df = spark.createDataFrame(rows, "grp int, geometry binary")
    plain = {
        r["grp"]: polygon_area(wkb.decode([r["geometry"]]).geom_parts(0))
        for r in dissolve(df, "grp").collect()
    }
    salted = {
        r["grp"]: polygon_area(wkb.decode([r["geometry"]]).geom_parts(0))
        for r in dissolve(df, "grp", salt=4).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert salted[k] == pytest.approx(plain[k], rel=1e-9)


def test_tiled_run_resume(spark, points, tmp_path):
    """Half the batches 'crash'; resume completes only the missing ones and
    the final output equals the one-shot run."""
    _, _, df = points
    df = df.withColumn("tile", (F.col("uid") % 10).cast("long"))
    out1 = str(tmp_path / "run1")

    def job(tiles):
        return (
            df.filter(F.col("tile").isin(tiles))
            .groupBy("tile")
            .agg(F.count("*").alias("n"), F.sum("uid").alias("uid_sum"))
        )

    tiles = list(range(10))
    run = TiledRun(spark, out1)
    # first attempt: process only 2 of 4 batches, then "crash"
    processed = 0
    for b, batch_tiles, done in run.batches(tiles, n_batches=4):
        if processed == 2:
            break
        with run.record(b) as rec:
            rec.write(job(batch_tiles))
        processed += 1
    assert len(run.done_batches()) == 2

    # resume: a fresh TiledRun over the same dir completes the rest
    run2 = TiledRun(spark, out1)
    skipped = 0
    for b, batch_tiles, done in run2.batches(tiles, n_batches=4):
        if done:
            skipped += 1
            continue
        with run2.record(b) as rec:
            rec.write(job(batch_tiles))
    assert skipped == 2

    got = {
        r["tile"]: (r["n"], r["uid_sum"])
        for r in run2.result().select("tile", "n", "uid_sum").collect()
    }
    exp = {
        r["tile"]: (r["n"], r["uid_sum"])
        for r in df.groupBy("tile")
        .agg(F.count("*").alias("n"), F.sum("uid").alias("uid_sum"))
        .collect()
    }
    assert got == exp
    # each batch's snapshot carries its lineage
    man = [m for m in snapshots(out1) if "tiled_batch" in m]
    assert sum(m["n_rows"] for m in man) == 10  # one agg row per tile
    assert sorted(m["tiled_batch"] for m in man) == [0, 1, 2, 3]


def _tile_job(df):
    df = df.withColumn("tile", (F.col("uid") % 10).cast("long"))

    def job(tiles):
        return df.filter(F.col("tile").isin(tiles)).select("uid", "tile")

    return job


def test_tiled_run_two_writes_in_one_batch(spark, tmp_path):
    """Every write of a batch is committed, and the batch's row count is
    what reads back."""
    run = TiledRun(spark, str(tmp_path / "run"))
    with run.record(0) as rec:
        rec.write(spark.range(0, 5))
        rec.write(spark.range(5, 12))
    got = run.result()
    assert sorted(r["id"] for r in got.collect()) == list(range(12))
    assert rec.n_rows == got.count() == 12
    assert got.columns == ["id", "_batch"]
    assert dict(got.dtypes)["_batch"] == "int"


def test_tiled_run_crash_before_commit(spark, points, tmp_path):
    """A batch that raises after writing leaves no visible rows and is
    not done; a resume redoes only it, and the result equals one shot."""
    _, _, df = points
    job = _tile_job(df)
    tiles = list(range(10))
    out = str(tmp_path / "run")
    run = TiledRun(spark, out)
    with run.record(0) as rec:
        rec.write(job([0, 2, 4, 6, 8]))
    with pytest.raises(RuntimeError, match="crash"):
        with run.record(1) as rec:
            rec.write(job([1, 3, 5, 7, 9]))
            raise RuntimeError("crash before commit")
    assert run.result().count() == job([0, 2, 4, 6, 8]).count()
    assert run.done_batches() == {0}

    redone = []
    run2 = TiledRun(spark, out)
    for b, batch_tiles, done in run2.batches(tiles, n_batches=2):
        if done:
            continue
        redone.append(b)
        with run2.record(b) as rec:
            rec.write(job(batch_tiles))
    assert redone == [1]
    got = sorted((r["uid"], r["tile"]) for r in run2.result().collect())
    assert got == sorted((r["uid"], r["tile"]) for r in job(tiles).collect())


def test_tiled_run_resume_runs_no_jobs_and_is_a_snapshot_table(spark, points, tmp_path, jobs_during):
    """A resume pass over a finished run reads JSON only, and the output
    is an ordinary snapshot table: one snapshot per batch, expirable."""
    _, _, df = points
    job = _tile_job(df)
    tiles = list(range(10))
    out = str(tmp_path / "run")
    run = TiledRun(spark, out)
    for b, batch_tiles, _ in run.batches(tiles, n_batches=2):
        with run.record(b) as rec:
            rec.write(job(batch_tiles))

    pending, jobs = jobs_during(
        lambda: [b for b, _, done in TiledRun(spark, out).batches(tiles, 2) if not done],
    )
    assert pending == [] and jobs == []

    first = read_snapshot_table(spark, out, snapshot_id=1)
    assert {r["tile"] % 2 for r in first.collect()} == {0}
    assert first.count() == job([0, 2, 4, 6, 8]).count()
    expire_snapshots(out, keep_last=1)
    assert [m["snapshot_id"] for m in snapshots(out)] == [2]
    assert read_snapshot_table(spark, out).count() == df.count()


def test_partition_metrics(spark, points):
    _, _, df = points
    m = partition_metrics(df.repartition(6), key_col="uid").collect()
    assert sum(r["n_rows"] for r in m) == 400
    assert len(m) <= 6


def test_write_geoparquet_metadata_and_roundtrip(spark, tmp_path):
    """write_geoparquet: every file carries GeoParquet 1.0 'geo' footer
    metadata with a correct bbox; rows round-trip through spark.read."""
    import json

    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ssb_sgis_spark.kernels import wkb
    from ssb_sgis_spark.sources.io import write_geoparquet

    def box(x0, y0, x1, y1):
        return wkb.encode_polygon(
            [np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)], float)]
        )

    rows = [(i, bytearray(box(i * 10.0, 0.0, i * 10.0 + 5, 5.0))) for i in range(20)]
    df = spark.createDataFrame(rows, "gid long, geometry binary").repartition(3)
    out = str(tmp_path / "gpq")
    manifest = write_geoparquet(df, out, crs="EPSG:25833").collect()
    assert sum(r["n_rows"] for r in manifest) == 20
    assert 1 <= len(manifest) <= 3
    for r in manifest:
        md = pq.read_table(r["file"]).schema.metadata
        geo = json.loads(md[b"geo"])
        assert geo["version"] == "1.0.0"
        assert geo["primary_column"] == "geometry"
        col = geo["columns"]["geometry"]
        assert col["encoding"] == "WKB" and col["crs"] == "EPSG:25833"
        assert col["bbox"] == [r["minx"], r["miny"], r["maxx"], r["maxy"]]
    back = spark.read.parquet(out)
    assert back.count() == 20
    assert {row["gid"] for row in back.collect()} == set(range(20))


def test_lake_table_parquet_fallback_roundtrip(spark, tmp_path):
    """read_lake_table/write_lake_table: without the Iceberg runtime the
    same call sites write/read partitioned parquet; partition column
    filters prune at the scan (PartitionFilters, no full read)."""
    from ssb_sgis_spark.sources.io import (
        _iceberg_available,
        read_lake_table,
        write_lake_table,
    )

    assert not _iceberg_available(spark)  # sandbox has no iceberg jars

    df = spark.range(100).selectExpr(
        "id AS uid", "CAST(id % 4 AS INT) AS cell", "CAST(id AS DOUBLE) AS x"
    )
    out = str(tmp_path / "lake")
    write_lake_table(df, out, mode="overwrite", partition_by=["cell"])

    back = read_lake_table(spark, out)
    assert back.count() == 100

    pruned = back.filter("cell = 2")
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert pruned.count() == 25


def test_lake_table_time_travel_requires_iceberg(spark, tmp_path):
    """Time-travel on the parquet fallback must raise, not silently read
    HEAD — snapshot semantics only exist with the Iceberg runtime."""
    import pytest as _pytest

    from ssb_sgis_spark.sources.io import read_lake_table, write_lake_table

    out = str(tmp_path / "lake2")
    write_lake_table(spark.range(5).toDF("uid"), out, mode="overwrite")
    with _pytest.raises(ValueError, match="time travel"):
        read_lake_table(spark, out, snapshot_id=123)
