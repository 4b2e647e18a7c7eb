"""Checkpoint-resumable tiled execution with lineage + metrics.

North-rule obligations the reference lacks (its only telemetry is the
NetworkAnalysis run log, ``networkanalysis.py:1259-1330`` — method name,
elapsed minutes, percent_missing, cost stats; our metric schema is
modeled on it):

* **tile batches committed as snapshots** — the output directory of a
  :class:`TiledRun` is a snapshot table (``sources/snapshots.py``).  A
  job processes tile *batches*; each ``rec.write`` stages an invisible
  data directory, and a batch that exits cleanly commits ONE append
  snapshot listing them, stamped ``{"tiled_batch", "n_rows",
  "checksum", "elapsed_s"}``.  On restart, :class:`TiledRun` skips
  every batch a snapshot names — a JSON listing, no Spark job.  A batch
  that crashed before its commit left only orphan directories no
  reader sees, so a resume simply runs it again.
* **per-partition lineage rows** — :func:`partition_metrics` aggregates
  any DataFrame by ``spark_partition_id()`` into
  ``(partition_id, n_rows, key_min, key_max, value_checksum)`` so every
  shuffle boundary of a 100 TB run leaves an auditable trail.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.snapshots import (
    commit_snapshot,
    read_snapshot_table,
    snapshots,
    stage_snapshot_dir,
)


def partition_metrics(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Lineage row per physical partition of ``df``."""
    base = df.withColumn("_pid", F.spark_partition_id())
    g = base.groupBy("_pid").agg(
        F.count("*").alias("n_rows"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("value_checksum"),
        *(
            [F.min(key_col).alias("key_min"), F.max(key_col).alias("key_max")]
            if key_col
            else []
        ),
    )
    return g.withColumnRenamed("_pid", "partition_id")


class TiledRun:
    """Resumable batched execution over a partition-key column.

    >>> run = TiledRun(spark, out_dir, batch_col="tile")
    >>> for batch, tiles, done in run.batches(all_tile_ids, n_batches=8):
    ...     if done: continue            # resume skips committed batches
    ...     with run.record(batch) as rec:
    ...         out = job(tiles)                   # any DataFrame
    ...         rec.write(out)                     # staged, committed on exit

    ``out_dir`` is a snapshot table owned by this one writer; snapshot
    ``k`` holds the first ``k`` committed batches.  A batch that wrote
    nothing commits nothing, so a resume runs it again.
    """

    def __init__(self, spark: SparkSession, out_dir: str, batch_col: str = "_batch"):
        self.spark = spark
        self.out_dir = out_dir
        self.batch_col = batch_col

    def done_batches(self) -> set[int]:
        return {m["tiled_batch"] for m in snapshots(self.out_dir) if "tiled_batch" in m}

    # -------------------------------------------------------------- batches
    @staticmethod
    def assign_batches(tile_ids: list, n_batches: int) -> dict:
        """Deterministic tile -> batch assignment (sorted round-robin)."""
        return {t: i % n_batches for i, t in enumerate(sorted(tile_ids))}

    def batches(self, tile_ids: list, n_batches: int):
        done = self.done_batches()
        assign = self.assign_batches(tile_ids, n_batches)
        by_batch: dict[int, list] = {}
        for t, b in assign.items():
            by_batch.setdefault(b, []).append(t)
        for b in sorted(by_batch):
            yield b, by_batch[b], b in done

    # --------------------------------------------------------------- record
    class _Recorder:
        def __init__(self, run: "TiledRun", batch_id: int):
            self.run = run
            self.batch_id = batch_id
            self.n_rows = 0
            self.checksum = 0
            self.t0 = time.time()
            self.dirs: list[str] = []
            self.schema = None

        def write(self, df: DataFrame) -> None:
            cols = df.columns
            out = df.withColumn(self.run.batch_col, F.lit(self.batch_id))
            data_dir = stage_snapshot_dir(out, self.run.out_dir)
            self.dirs.append(data_dir)
            self.schema = out.schema
            # lineage metrics audit the files that LANDED, not the plan:
            # accumulator-style metrics riding the write (Observation)
            # double-count under stage retry/speculation, and a separate
            # agg over `df` would re-execute the whole job AND could
            # diverge from what actually landed on disk.
            stats = (
                self.run.spark.read.schema(out.schema)
                .parquet(data_dir)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(
                        F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])), F.lit(0)
                    ).alias("h"),
                )
                .collect()[0]
            )
            self.n_rows += stats["n"]
            self.checksum ^= int(stats["h"]) & ((1 << 63) - 1)

        def __enter__(self):
            return self

        def __exit__(self, exc_type, exc, tb):
            if exc_type is None and self.dirs:
                commit_snapshot(
                    self.run.out_dir,
                    self.dirs,
                    self.schema,
                    extra_manifest={
                        "tiled_batch": self.batch_id,
                        "n_rows": self.n_rows,
                        "checksum": self.checksum,
                        "elapsed_s": time.time() - self.t0,
                    },
                )
            return False

    def record(self, batch_id: int) -> "_Recorder":
        return TiledRun._Recorder(self, batch_id)

    # ---------------------------------------------------------------- reads
    def result(self) -> DataFrame:
        return read_snapshot_table(self.spark, self.out_dir)
