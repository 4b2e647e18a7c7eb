"""Copy-on-write MERGE INTO (sources/snapshots.merge_snapshot_table)."""

import os

import pytest
from pyspark.sql import functions as F

from ssb_sgis_spark.sources import snapshots as snap
from ssb_sgis_spark.sources.snapshots import (
    merge_snapshot_table,
    read_snapshot_table,
    snapshots,
    write_snapshot_table,
)


def _mk(spark, lo, hi, mult=10):
    return spark.range(lo, hi).withColumn("v", F.col("id") * mult)


def _head_map(spark, t):
    return {r.id: r.v for r in read_snapshot_table(spark, t).collect()}


def test_upsert_semantics_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 100), t)
    updates = _mk(spark, 90, 110, mult=1000)  # 10 updates + 10 inserts
    sid = merge_snapshot_table(spark, t, updates, "id")
    assert sid == 2
    got = _head_map(spark, t)
    assert len(got) == 110
    assert got[5] == 50  # untouched
    assert got[95] == 95_000  # updated
    assert got[105] == 105_000  # inserted
    # pre-merge snapshot unchanged (copy-on-write, nothing mutated)
    old = {r.id: r.v for r in read_snapshot_table(spark, t, snapshot_id=1).collect()}
    assert len(old) == 100 and old[95] == 950
    assert snapshots(t)[-1]["operation"] == "merge"


def test_point_merge_rewrites_one_file_after_clustering(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = _mk(spark, 0, 1000).repartitionByRange(4, "id").sortWithinPartitions("id")
    write_snapshot_table(df, t)
    before = set(snap._snapshot_files(snapshots(t)[-1]))
    assert len(before) == 4
    one = _mk(spark, 7, 8, mult=999)
    merge_snapshot_table(spark, t, one, "id")
    m = snapshots(t)[-1]
    assert m["rewritten_files"] == 1 and m["carried_files"] == 3
    # the three carried files are the SAME physical paths (zero-IO reuse)
    after = set(snap._snapshot_files(m))
    assert len(before & after) == 3
    got = _head_map(spark, t)
    assert len(got) == 1000 and got[7] == 7 * 999 and got[8] == 80


def test_insert_only_touches_nothing(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = _mk(spark, 0, 100).repartitionByRange(2, "id").sortWithinPartitions("id")
    write_snapshot_table(df, t)
    merge_snapshot_table(spark, t, _mk(spark, 5000, 5020), "id")
    m = snapshots(t)[-1]
    assert m["rewritten_files"] == 0 and m["carried_files"] == 2
    assert len(_head_map(spark, t)) == 120


def test_cardinality_and_schema_guards(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 10), t)
    dup = _mk(spark, 0, 2).unionByName(_mk(spark, 0, 1))
    with pytest.raises(ValueError, match="not unique"):
        merge_snapshot_table(spark, t, dup, "id")
    bad = spark.range(0, 2).withColumn("other", F.lit(1))
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_snapshot_table(spark, t, bad, "id")


def test_probe_never_collects_keys_to_driver(spark, tmp_path, monkeypatch):
    """The touched-file probe is distributed: however many distinct
    update keys there are, the only rows that ever reach the driver
    during MERGE are hit file ids (≤ file count) and scalar checks —
    driver memory stays flat (the old 8M-key cap is gone)."""
    # patch the CONCRETE class — pyspark.sql.DataFrame is the ABC and
    # the classic subclass defines its own collect
    from pyspark.sql.classic.dataframe import DataFrame

    t = str(tmp_path / "tbl")
    base = (
        _mk(spark, 0, 200_000).repartitionByRange(8, "id").sortWithinPartitions("id")
    )
    write_snapshot_table(base, t)
    sizes = []
    orig = DataFrame.collect

    def spy(self):
        out = orig(self)
        sizes.append(len(out))
        return out

    monkeypatch.setattr(DataFrame, "collect", spy)
    upd = _mk(spark, 100_000, 250_000, mult=7)  # 150k distinct keys
    merge_snapshot_table(spark, t, upd, "id")
    monkeypatch.setattr(DataFrame, "collect", orig)
    assert sizes and max(sizes) <= 8, f"driver collected {max(sizes)} rows"
    got = _head_map(spark, t)
    assert len(got) == 250_000 and got[5] == 50 and got[150_000] == 1_050_000
    # pruning still exact: files fully below the update range carry over
    assert snapshots(t)[-1]["carried_files"] >= 3


def test_delete_keys_cdc(spark, tmp_path):
    t = str(tmp_path / "tbl")
    base = _mk(spark, 0, 100).repartitionByRange(4, "id").sortWithinPartitions("id")
    write_snapshot_table(base, t)
    dels = spark.range(10, 20).select(F.col("id"))
    merge_snapshot_table(spark, t, None, "id", delete_keys=dels)
    got = _head_map(spark, t)
    assert len(got) == 90 and 15 not in got and got[5] == 50
    # point delete after clustering rewrites exactly one file
    m = snapshots(t)[-1]
    assert m["rewritten_files"] == 1 and m["carried_files"] == 3


def test_update_and_delete_in_one_commit(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 50), t)
    upd = _mk(spark, 0, 5, mult=777)
    dels = spark.range(40, 50).select(F.col("id"))
    merge_snapshot_table(spark, t, upd, "id", delete_keys=dels)
    got = _head_map(spark, t)
    assert len(got) == 40 and got[0] == 0 and got[3] == 3 * 777 and 45 not in got


def test_conflicting_update_delete_raises(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 10), t)
    with pytest.raises(ValueError, match="BOTH updates and delete_keys"):
        merge_snapshot_table(
            spark, t, _mk(spark, 0, 3), "id",
            delete_keys=spark.range(2, 4).select(F.col("id")),
        )
    with pytest.raises(ValueError, match="updates and/or delete_keys"):
        merge_snapshot_table(spark, t, None, "id")


def test_merge_then_expire_keeps_carried_files(spark, tmp_path):
    """Regression (ADVICE r4, high): a merge snapshot carries untouched
    files by individual path; expire_snapshots must not rmtree the
    parent directory of a carried file."""
    from ssb_sgis_spark.sources.snapshots import expire_snapshots

    t = str(tmp_path / "tbl")
    base = _mk(spark, 0, 1000).repartitionByRange(4, "id").sortWithinPartitions("id")
    write_snapshot_table(base, t)
    merge_snapshot_table(spark, t, _mk(spark, 7, 8, mult=999), "id")
    expired = expire_snapshots(t, keep_last=1)
    assert expired == [1]
    got = _head_map(spark, t)  # HEAD must remain fully readable
    assert len(got) == 1000 and got[7] == 7 * 999 and got[500] == 5000


def test_merge_partitioned_table(spark, tmp_path):
    """Regression (ADVICE r4, medium): merging a hive-partitioned table
    must re-read touched files with the manifest schema + basePath so
    the partition column resolves from the path."""
    t = str(tmp_path / "tbl")
    base = _mk(spark, 0, 100).withColumn("p", F.col("id") % 4)
    write_snapshot_table(base, t, partition_by=["p"])
    upd = _mk(spark, 90, 110, mult=1000).withColumn("p", F.col("id") % 4)
    merge_snapshot_table(spark, t, upd, "id")
    df = read_snapshot_table(spark, t)
    got = {r.id: (r.v, r.p) for r in df.collect()}
    assert len(got) == 110
    assert got[5] == (50, 1) and got[95] == (95_000, 3) and got[105] == (105_000, 1)
    assert snapshots(t)[-1]["partition_by"] == ["p"]


def test_merge_keyed_on_partition_column_prunes(spark, tmp_path):
    """A MERGE keyed on the partition column reads the key interval from
    the hive path (footers lack the column) — only the matching
    partitions' files are rewritten."""
    t = str(tmp_path / "tbl")
    base = _mk(spark, 0, 100).withColumn("p", F.col("id") % 4)
    write_snapshot_table(base, t, partition_by=["p"])
    dels = spark.createDataFrame([(3,)], "p long")
    merge_snapshot_table(spark, t, None, "p", delete_keys=dels)
    m = snapshots(t)[-1]
    assert m["carried_files"] >= 3 and m["rewritten_files"] >= 1
    got = _head_map(spark, t)
    assert len(got) == 75 and all(k % 4 != 3 for k in got)


def test_merge_after_schema_evolution(spark, tmp_path):
    """After an additive-evolution append, MERGE re-reads pre-evolution
    files with the manifest schema (new column null-filled) instead of
    failing on inference."""
    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 10), t)
    evolved = _mk(spark, 10, 20).withColumn("w", F.lit(5))
    write_snapshot_table(evolved, t, allow_evolution=True)
    upd = _mk(spark, 0, 2, mult=111).withColumn("w", F.lit(9))
    merge_snapshot_table(spark, t, upd, "id")
    rows = {r.id: (r.v, r.w) for r in read_snapshot_table(spark, t).collect()}
    assert len(rows) == 20
    assert rows[0] == (0, 9) and rows[5] == (50, None) and rows[15] == (150, 5)


def test_file_column_ranges_lists_carried_files(spark, tmp_path):
    """After a merge, the footer ranges cover the files the head carries
    by path as well as the rewritten directory."""
    t = str(tmp_path / "tbl")
    write_snapshot_table(_mk(spark, 0, 1000).repartitionByRange(4, "id"), t)
    merge_snapshot_table(spark, t, _mk(spark, 7, 8, mult=999), "id")
    files = {r["file"] for r in snap.file_column_ranges(t, "id")}
    assert files == set(snap._snapshot_files(snapshots(t)[-1]))
    assert sum(r["rows"] for r in snap.file_column_ranges(t, "id")) == 1000
