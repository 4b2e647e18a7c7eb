"""Emulates the driver's correctness gate: runs every queries() entry on
Spark and its oracle_sql() on DuckDB at the given sf, compares row count,
schema width, and order-insensitive values.  Usage:
    python tests/driver_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns, key=str.lower)].copy()
    df.columns = [c.lower() for c in df.columns]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}")
        return 2

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("driver-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )

    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"{name}: rows={len(sdf)} (no oracle, rows-only) [{t_spark:.1f}s]")
            continue
        t0 = time.time()
        odf = con.execute(oracles[name]).df()
        t_duck = time.time() - t0
        a, b = normalize(sdf), normalize(odf)
        ok_rows = len(a) == len(b)
        ok_cols = list(a.columns) == list(b.columns)
        ok_vals = False
        if ok_rows and ok_cols:
            try:
                bb = b.astype(a.dtypes.to_dict())
                ok_vals = a.equals(bb)
            except Exception as e:  # dtype cast mismatch
                print(f"  cast error: {e}")
        status = "OK" if (ok_rows and ok_cols and ok_vals) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name}: {status} spark_rows={len(sdf)} oracle_rows={len(odf)} "
            f"cols={'ok' if ok_cols else (list(a.columns), list(b.columns))} "
            f"vals={'ok' if ok_vals else 'MISMATCH'} [{t_spark:.1f}s / {t_duck:.1f}s]"
        )
        if status == "FAIL" and ok_rows and ok_cols:
            merged = a.merge(b, how="outer", indicator=True)
            print(merged[merged._merge != "both"].head(6))
    spark.stop()
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
