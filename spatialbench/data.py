"""Seeded inputs, the Spark session and the parquet lake of the benchmark.

Everything a run reads is generated here from the workload seed and
written under the run's work directory: a lineitem-shaped source table
(the input of ``sources.pages.pages_df``), a customer-shaped table (the
input of ``sources.points.points_df``), and the materialized lake that
every timed operator scans.
"""

from __future__ import annotations

import os
import subprocess
import zipfile
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ssb_sgis_spark"


@dataclass(frozen=True)
class Scale:
    """Input sizes. ``lines`` plays the role of TPC-H lineitem rows
    (6M per scale factor); the lake replicates every page ``replicas``
    times with a seeded coordinate jitter."""

    lines: int
    customers: int
    replicas: int
    lake_files: int


# pip_lake scans the whole lake in every operation.  At local[2] on a
# 4-vCPU host an operation on a one-row lake still takes about 0.45 s
# (planning, job scheduling, the cover broadcast); at 3.9M rows the
# full-lake operation takes about 1.0 s, so the scan and the PIP predicate
# are over half of it.  At 32 replicas the fixed part was about 60%, at 8
# replicas (0.48M rows, local[4]) about 70% (METRICS.md has the
# measurements).
PIP = Scale(lines=60_000, customers=6_000, replicas=64, lake_files=8)
# polygon_ops reads seeded subsamples of the lake (``uid % m``), whose
# sizes follow the lake's; its operations are sized for 8 replicas
FULL = Scale(lines=60_000, customers=6_000, replicas=8, lake_files=8)
SMOKE = Scale(lines=6_000, customers=1_500, replicas=1, lake_files=2)


def write_sources(src_dir: str, seed: int, scale: Scale) -> None:
    """lineitem.parquet (l_orderkey, l_linenumber) and customer.parquet
    (c_custkey) for ``pages_df`` / ``points_df``.  Order keys are a
    seeded sparse subset like TPC-H's; about 1% of the line rows are
    duplicated, so the page derivation's ``distinct`` has work to do."""
    os.makedirs(src_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = scale.lines // 4
    orderkey = np.sort(rng.choice(4 * n_orders, n_orders, replace=False) + 1)
    nlines = rng.integers(1, 8, n_orders)
    ok = np.repeat(orderkey, nlines).astype(np.int64)
    ln = np.arange(len(ok)) - np.repeat(np.cumsum(nlines) - nlines, nlines) + 1
    dup = rng.choice(len(ok), len(ok) // 100, replace=False)
    ok = np.concatenate([ok, ok[dup]])
    ln = np.concatenate([ln, ln[dup]]).astype(np.int32)
    pq.write_table(
        pa.table({"l_orderkey": ok, "l_linenumber": ln}),
        os.path.join(src_dir, "lineitem.parquet"),
    )
    custkey = np.sort(rng.choice(10 * scale.customers, scale.customers, replace=False) + 1)
    pq.write_table(
        pa.table({"c_custkey": custkey.astype(np.int64)}),
        os.path.join(src_dir, "customer.parquet"),
    )


def zip_package(work_dir: str) -> str:
    """Zip the package source so it can be shipped to the Python workers
    with ``addPyFile``: workers then import it whatever the working
    directory of the run."""
    path = os.path.join(work_dir, PACKAGE + ".zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for base, dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(base, f)
                    zf.write(full, os.path.relpath(full, ROOT))
    return path


def start_session(work_dir: str, cores: int, pkg_zip: str):
    """A local[cores] session whose scratch space (shuffle, spill,
    broadcast files, warehouse) stays inside the work directory, with
    the console progress bar off so stdout carries only the result."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    local = os.path.join(work_dir, "spark-local")
    # every JVM the launch starts (the launcher too): no hsperfdata files
    # under the system /tmp; and an inherited SPARK_LOCAL_DIRS would
    # override spark.local.dir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = local
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("spatialbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", f"-Xms1g -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        # plan node descriptions keep whole file locations, so the traced
        # run can tell lake scans from other parquet reads
        .config("spark.sql.maxMetadataStringLength", "4096")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(pkg_zip)
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    (and with it the Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jitter_col(uid, k, seed: int, salt: int):
    """Seeded +-10 m jitter of replica ``k`` of page ``uid`` (exact
    decimal steps of 1 cm, so the lake holds plain doubles)."""
    from pyspark.sql import functions as F

    h = (uid * 7919 + k * 104729 + F.lit(seed * 31 + salt)) % 2001
    return (h - 1000).cast("double") * 0.01


def materialize_lake(spark, pages, lake_dir: str, seed: int, scale: Scale) -> int:
    """Write the page lake: every page of the ``pages`` DataFrame
    replicated ``scale.replicas`` times with seeded jitter, as parquet
    files.  Returns the lake row count."""
    from pyspark.sql import functions as F

    # spread the pages over the lake files before replicating them, so
    # only the pages (not the replicas) are shuffled
    src = pages.select("uid", "x", "y").repartition(scale.lake_files)
    k = F.explode(F.sequence(F.lit(0), F.lit(scale.replicas - 1))).alias("_k")
    rep = src.select("uid", "x", "y", k)
    lake = rep.select(
        (F.col("uid") * scale.replicas + F.col("_k")).alias("uid"),
        (F.col("x") + jitter_col(F.col("uid"), F.col("_k"), seed, 1)).alias("x"),
        (F.col("y") + jitter_col(F.col("uid"), F.col("_k"), seed, 2)).alias("y"),
    )
    lake.write.mode("overwrite").parquet(lake_dir)
    return spark.read.parquet(lake_dir).count()


def write_cloud(spark, src_dir: str, cloud_dir: str) -> int:
    """Materialize the kNN neighbour cloud (``points_df``) as parquet."""
    from ssb_sgis_spark.sources import points

    points.points_df(spark, src_dir).coalesce(1).write.mode("overwrite").parquet(cloud_dir)
    return spark.read.parquet(cloud_dir).count()
