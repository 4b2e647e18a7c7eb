"""Snapshot lake tables (sources/snapshots.py): time travel on plain
parquet — append/overwrite lineage, atomic commit, expiry."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ssb_sgis_spark.sources.snapshots import (
    expire_snapshots,
    read_snapshot_table,
    snapshots,
    stage_snapshot_dir,
    write_snapshot_table,
)


def _mk(spark, lo, hi):
    return spark.range(lo, hi).withColumn("v", F.col("id") * 10)


def test_append_lineage_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = write_snapshot_table(_mk(spark, 0, 100), t)
    s2 = write_snapshot_table(_mk(spark, 100, 150), t)
    assert (s1, s2) == (1, 2)
    assert read_snapshot_table(spark, t).count() == 150          # HEAD
    assert read_snapshot_table(spark, t, snapshot_id=1).count() == 100
    # a later OVERWRITE must not disturb either historical snapshot
    s3 = write_snapshot_table(_mk(spark, 500, 510), t, mode="overwrite")
    assert read_snapshot_table(spark, t).count() == 10
    assert read_snapshot_table(spark, t, snapshot_id=2).count() == 150
    assert read_snapshot_table(spark, t, snapshot_id=1).count() == 100
    metas = snapshots(t)
    assert [m["snapshot_id"] for m in metas] == [1, 2, 3]
    assert metas[2]["operation"] == "overwrite" and metas[2]["parent_id"] == 2
    assert s3 == 3


def test_as_of_timestamp_resolution(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 10), t)
    ts1 = snapshots(t)[-1]["timestamp_ms"]
    write_snapshot_table(_mk(spark, 10, 30), t)
    assert read_snapshot_table(spark, t, as_of_timestamp_ms=ts1).count() == 10
    with pytest.raises(ValueError, match="no snapshot at or before"):
        read_snapshot_table(spark, t, as_of_timestamp_ms=ts1 - 10_000_000)


def test_atomic_commit_orphan_invisible(spark, tmp_path):
    """A data directory without a committed manifest (crashed writer)
    must be invisible to every read."""
    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 20), t)
    orphan = os.path.join(t, "data", "s99-deadbeef")
    _mk(spark, 900, 950).write.parquet(orphan)
    assert read_snapshot_table(spark, t).count() == 20
    assert [m["snapshot_id"] for m in snapshots(t)] == [1]


def test_append_schema_mismatch_refused(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 5), t)
    bad = spark.range(5).withColumn("other", F.lit("x"))
    with pytest.raises(ValueError, match="schema mismatch"):
        write_snapshot_table(bad, t)
    # overwrite MAY change schema (a new table generation)
    write_snapshot_table(bad, t, mode="overwrite")
    assert "other" in read_snapshot_table(spark, t).columns


def test_expire_snapshots_keeps_live_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 10), t)
    write_snapshot_table(_mk(spark, 10, 20), t)
    write_snapshot_table(_mk(spark, 20, 30), t)
    expired = expire_snapshots(t, keep_last=1)
    assert expired == [1, 2]
    # HEAD unaffected: its data dirs (incl. ones first written by s1/s2,
    # still referenced through the append lineage) must survive
    assert read_snapshot_table(spark, t).count() == 30
    with pytest.raises(ValueError, match="no snapshot"):
        read_snapshot_table(spark, t, snapshot_id=1)


def test_expire_snapshots_sweeps_orphaned_stages(spark, tmp_path):
    """A stage no manifest ever listed (a writer that crashed before its
    commit) is reclaimed by the next expiry; the in-flight id is not."""
    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 5), t)
    stage_snapshot_dir(_mk(spark, 100, 105), t)  # s2-…, never committed
    write_snapshot_table(_mk(spark, 5, 10), t)
    write_snapshot_table(_mk(spark, 10, 15), t)
    in_flight = stage_snapshot_dir(_mk(spark, 200, 205), t)  # s4-…
    assert expire_snapshots(t, keep_last=1) == [1, 2]
    data = os.path.join(t, "data")
    kept = {os.path.basename(d) for d in snapshots(t)[-1]["data_dirs"]}
    assert set(os.listdir(data)) == kept | {os.path.basename(in_flight)}
    assert read_snapshot_table(spark, t).count() == 15


def test_unreadable_paths_raise(spark, tmp_path):
    with pytest.raises(ValueError, match="not a snapshot table"):
        read_snapshot_table(spark, str(tmp_path / "nope"))
    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 5), t)
    with pytest.raises(ValueError, match="no snapshot 7"):
        read_snapshot_table(spark, t, snapshot_id=7)
    with pytest.raises(ValueError, match="append|overwrite"):
        write_snapshot_table(_mk(spark, 0, 5), t, mode="merge")


def test_read_lake_table_routes_time_travel_to_snapshot_tables(spark, tmp_path):
    from ssb_sgis_spark.sources.io import read_lake_table

    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 10), t)
    write_snapshot_table(_mk(spark, 10, 40), t)
    assert read_lake_table(spark, t).count() == 40
    assert read_lake_table(spark, t, snapshot_id=1).count() == 10
    # a plain parquet dir (no manifests) still refuses cleanly
    p = str(tmp_path / "plain")
    _mk(spark, 0, 5).write.parquet(p)
    with pytest.raises(ValueError, match="snapshot"):
        read_lake_table(spark, p, snapshot_id=1)


# --------------------------------------------------- OPTIMIZE (rewrite)

def _scattered(spark, n=2000, files=16):
    """A table whose key is uncorrelated with file layout — every file
    spans nearly the whole key range (the worst pruning layout)."""
    df = spark.range(n).withColumn(
        "key", (F.col("id") * 2654435761) % 100000
    ).withColumn("v", F.col("id") * 3)
    return df.repartition(files)


def test_optimize_compacts_and_preserves_content(spark, tmp_path):
    from ssb_sgis_spark.sources.snapshots import (
        file_column_ranges,
        optimize_snapshot_table,
    )

    t = str(tmp_path / "tbl")
    write_snapshot_table(_scattered(spark, 1000, 8), t)
    write_snapshot_table(_scattered(spark, 1000, 8).withColumn(
        "v", F.col("v") + 1_000_000), t)
    before = sorted(
        (r["id"], r["key"], r["v"])
        for r in read_snapshot_table(spark, t).collect()
    )
    n_before = len(file_column_ranges(t, "key"))
    sid = optimize_snapshot_table(spark, t, target_files=4)
    after = sorted(
        (r["id"], r["key"], r["v"])
        for r in read_snapshot_table(spark, t, snapshot_id=sid).collect()
    )
    assert after == before                      # row-for-row lossless
    n_after = len(file_column_ranges(t, "key"))
    assert n_after <= 4 < n_before              # compaction happened
    assert snapshots(t)[-1]["operation"] == "replace"
    # earlier snapshots stay readable after the rewrite
    assert read_snapshot_table(spark, t, snapshot_id=1).count() == 1000


def test_optimize_clustering_gives_disjoint_file_ranges(spark, tmp_path):
    from ssb_sgis_spark.sources.snapshots import (
        file_column_ranges,
        optimize_snapshot_table,
    )

    t = str(tmp_path / "tbl")
    write_snapshot_table(_scattered(spark, 4000, 8), t)

    def overlap_pairs(ranges):
        return sum(
            1
            for i in range(len(ranges))
            for j in range(i + 1, len(ranges))
            if ranges[i]["min"] <= ranges[j]["max"]
            and ranges[j]["min"] <= ranges[i]["max"]
        )

    before = file_column_ranges(t, "key")
    assert overlap_pairs(before) > 0            # scattered layout overlaps

    optimize_snapshot_table(spark, t, cluster_by=["key"], target_files=4)
    after = file_column_ranges(t, "key")
    assert 1 < len(after) <= 4
    assert overlap_pairs(after) == 0            # range-disjoint files
    # pruning evidence: a narrow key-range scan can skip most files
    lo, hi = 0, 10000
    touched = [r for r in after if r["min"] <= hi and lo <= r["max"]]
    assert len(touched) < len(after)
    # and the data is still all there
    assert read_snapshot_table(spark, t).count() == 4000


def test_optimize_then_expire_reclaims_old_layout(spark, tmp_path):
    from ssb_sgis_spark.sources.snapshots import optimize_snapshot_table

    t = str(tmp_path / "tbl")
    write_snapshot_table(_scattered(spark, 500, 8), t)
    sid = optimize_snapshot_table(spark, t, cluster_by=["key"], target_files=2)
    expired = expire_snapshots(t, keep_last=1)
    assert expired == [1]
    assert read_snapshot_table(spark, t, snapshot_id=sid).count() == 500
    with pytest.raises(ValueError, match="no snapshot 1"):
        read_snapshot_table(spark, t, snapshot_id=1)


def test_zorder_prunes_both_columns(spark, tmp_path):
    """Z-order clustering: BOTH columns' per-file footer ranges shrink,
    where lexicographic clustering leaves the second column spanning the
    whole range in every file."""
    from ssb_sgis_spark.sources.snapshots import (
        file_column_ranges,
        optimize_snapshot_table,
    )

    def span_frac(t, col, full):
        rngs = file_column_ranges(t, col)
        return sum((r["max"] - r["min"]) / full for r in rngs) / len(rngs)

    df = (
        spark.range(0, 40_000)
        .withColumn("xa", F.col("id") % 200)
        .withColumn("yb", (F.col("id") * 48271) % 200)  # independent of xa
    )
    tz, tl = str(tmp_path / "z"), str(tmp_path / "l")
    for t in (tz, tl):
        write_snapshot_table(df, t)
    sz = optimize_snapshot_table(
        spark, tz, cluster_by=["xa", "yb"], target_files=16, zorder=True
    )
    optimize_snapshot_table(spark, tl, cluster_by=["xa", "yb"], target_files=16)
    # lossless rewrite
    assert read_snapshot_table(spark, tz, snapshot_id=sz).count() == 40_000
    got = {
        r.id: (r.xa, r.yb)
        for r in read_snapshot_table(spark, tz).sample(0.01, seed=7).collect()
    }
    for i, (xa, yb) in got.items():
        assert xa == i % 200 and yb == (i * 48271) % 200
    # pruning evidence: z-order bounds BOTH columns to a fraction of the
    # range per file; lexicographic leaves yb near-full-range everywhere
    assert span_frac(tz, "xa", 199) < 0.5
    assert span_frac(tz, "yb", 199) < 0.5
    assert span_frac(tl, "yb", 199) > 0.9


def test_zorder_requires_two_columns(spark, tmp_path):
    from ssb_sgis_spark.sources.snapshots import optimize_snapshot_table

    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 10), t)
    with pytest.raises(ValueError, match="exactly two"):
        optimize_snapshot_table(spark, t, cluster_by=["id"], zorder=True)


def test_schema_evolution_additive(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 20), t)
    evolved = _mk(spark, 20, 30).withColumn("lang", F.lit("no"))
    # refused without the flag, with an actionable hint
    with pytest.raises(ValueError, match="allow_evolution"):
        write_snapshot_table(evolved, t)
    write_snapshot_table(evolved, t, allow_evolution=True)
    head = read_snapshot_table(spark, t)
    assert set(head.columns) == {"id", "v", "lang"}
    rows = {r.id: r.lang for r in head.collect()}
    assert len(rows) == 30
    assert rows[5] is None and rows[25] == "no"  # old files null-filled
    # the pre-evolution snapshot still reads with its OWN schema
    old = read_snapshot_table(spark, t, snapshot_id=1)
    assert set(old.columns) == {"id", "v"}
    # dropping a column stays refused
    with pytest.raises(ValueError, match="schema mismatch"):
        write_snapshot_table(
            spark.range(30, 35).withColumn("lang", F.lit("x")),
            t,
            allow_evolution=True,
        )


def test_partitioned_snapshot_roundtrip_with_explicit_schema(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = _mk(spark, 0, 40).withColumn("p", F.col("id") % 4)
    write_snapshot_table(df, t, partition_by=["p"])
    got = read_snapshot_table(spark, t)
    assert got.count() == 40
    assert {r.p for r in got.select("p").distinct().collect()} == {0, 1, 2, 3}
    assert got.filter(F.col("p") == 2).count() == 10


def test_key_range_read_prunes_files(spark, tmp_path):
    """Manifest pruning made explicit: after key clustering a range read
    scans only the files whose footer range matches, and the result is
    exactly the predicate's rows."""
    from ssb_sgis_spark.sources.snapshots import optimize_snapshot_table

    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 1000), t)
    optimize_snapshot_table(spark, t, cluster_by=["id"], target_files=8)
    narrow = read_snapshot_table(spark, t, key_range=("id", 100, 140))
    assert sorted(r.id for r in narrow.collect()) == list(range(100, 141))
    scanned = {f for f in narrow.inputFiles()}
    full = {f for f in read_snapshot_table(spark, t).inputFiles()}
    assert len(scanned) <= 2 and len(full) == 8
    # empty range -> zero files, empty frame, schema intact
    empty = read_snapshot_table(spark, t, key_range=("id", 5000, 6000))
    assert empty.count() == 0 and set(empty.columns) == {"id", "v"}


def test_tags_pin_snapshots_and_survive_expiry(spark, tmp_path):
    from ssb_sgis_spark.sources.snapshots import (
        drop_tag,
        snapshot_tags,
        tag_snapshot,
    )

    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 10), t)
    tag_snapshot(t, "v1")  # head = snapshot 1
    write_snapshot_table(_mk(spark, 10, 30), t, mode="overwrite")
    write_snapshot_table(_mk(spark, 30, 40), t)
    assert snapshot_tags(t) == {"v1": 1}
    assert read_snapshot_table(spark, t, tag="v1").count() == 10
    # expiry keeps the tagged snapshot AND its files readable
    expired = expire_snapshots(t, keep_last=1)
    assert 1 not in expired and 2 in expired
    assert read_snapshot_table(spark, t, tag="v1").count() == 10
    with pytest.raises(ValueError, match="no tag"):
        read_snapshot_table(spark, t, tag="nope")
    # dropping the tag releases it for the next expiry
    drop_tag(t, "v1")
    assert 1 in expire_snapshots(t, keep_last=1)
