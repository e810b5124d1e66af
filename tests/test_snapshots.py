"""Snapshot-versioned tables (sources/snapshots.py): a version is
visible iff its manifest exists — as-of reads, crash invisibility,
retention, and orphan handling."""

from __future__ import annotations

import os

import pytest

from airline_data_warehouse_spark.sources import snapshots as sn


def _df(spark, n):
    return spark.range(n).selectExpr("id", "id * 10 AS value")


def test_commit_read_asof_and_history(spark, tmp_path):
    root = str(tmp_path / "tbl")
    assert sn.snapshot_commit(spark, _df(spark, 3), root) == 1
    assert sn.snapshot_commit(spark, _df(spark, 5), root) == 2
    assert sn.snapshot_commit(spark, _df(spark, 7), root) == 3
    assert sn.latest_version(spark, root) == 3
    assert sn.snapshot_read(spark, root).count() == 7
    assert sn.snapshot_read(spark, root, version=1).count() == 3
    hist = sn.snapshot_history(spark, root)
    assert [(h["version"], h["rows"]) for h in hist] == [(1, 3), (2, 5), (3, 7)]
    assert hist[0]["columns"] == ["id", "value"]


def test_version_100000_stays_visible_and_allocates_past(spark, tmp_path):
    """%05d pads but does not truncate, so version 100000 writes a
    6-digit commit=100000 dir and v100000 manifest — a 5-digit-only
    matcher made it invisible, the allocator re-picked 100000, and
    every later commit failed on mode('error'): the table wedged
    permanently (ADVICE r07). The matcher accepts 5+ digits and sorts
    numerically."""
    import json

    root = str(tmp_path / "tbl")
    sn.snapshot_commit(spark, _df(spark, 3), root)
    # fabricate a committed 6-digit version (data + manifest)
    df = _df(spark, 9)
    df.write.parquet(f"{root}/commit=100000")
    with open(os.path.join(root, "_manifests", "v100000"), "w") as f:
        json.dump({"version": 100000, "rows": 9,
                   "columns": ["id", "value"], "units": ["commit=100000"],
                   "schema": json.loads(df.schema.json())}, f)
    assert sn.latest_version(spark, root) == 100000
    assert sn.snapshot_read(spark, root).count() == 9
    # the allocator sees it and moves past — no re-pick, no wedge
    assert sn.snapshot_commit(spark, _df(spark, 4), root) == 100001
    assert sn.latest_version(spark, root) == 100001
    assert sn.snapshot_read(spark, root).count() == 4
    hist = [(h["version"], h["rows"]) for h in sn.snapshot_history(spark, root)]
    assert hist == [(1, 3), (100000, 9), (100001, 4)]


def test_crashed_commit_is_invisible_and_number_not_reused(spark, tmp_path):
    root = str(tmp_path / "tbl")
    sn.snapshot_commit(spark, _df(spark, 3), root)
    # simulate a crash mid-commit: v2's data lands, its manifest never
    # does
    _df(spark, 99).write.parquet(f"{root}/commit=00002")
    assert sn.latest_version(spark, root) == 1
    assert sn.snapshot_read(spark, root).count() == 3
    with pytest.raises(ValueError, match="not committed"):
        sn.snapshot_read(spark, root, version=2)
    # a retry must not write into the half-written directory
    assert sn.snapshot_commit(spark, _df(spark, 4), root) == 3
    assert sn.snapshot_read(spark, root).count() == 4


def test_expire_keeps_newest_and_sweeps_orphans(spark, tmp_path):
    root = str(tmp_path / "tbl")
    for n in (3, 5, 7, 9):
        sn.snapshot_commit(spark, _df(spark, n), root)
    _df(spark, 1).write.parquet(f"{root}/commit=00001b")  # not a version dir: ignored
    assert sn.expire_snapshots(spark, root, keep=2) == [1, 2]
    assert sn.snapshot_read(spark, root, version=3).count() == 7
    assert sn.snapshot_read(spark, root).count() == 9
    with pytest.raises(ValueError, match="expired or never landed"):
        sn.snapshot_read(spark, root, version=1)
    assert not os.path.isdir(f"{root}/commit=00001")
    # immutability of survivors: the files of kept versions are untouched
    assert os.path.isdir(f"{root}/commit=00004")
    assert os.path.isdir(f"{root}/commit=00001b")


def test_snapshot_diff_change_feed(spark, tmp_path):
    root = str(tmp_path / "tbl")
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None)],
        "id long, name string, score int")
    v2 = spark.createDataFrame(
        [(2, "b", 25), (3, "c", None), (4, "d", 40)],
        "id long, name string, score int")
    sn.snapshot_commit(spark, v1, root)
    sn.snapshot_commit(spark, v2, root)
    got = {r["id"]: r for r in sn.snapshot_diff(spark, root, "id").collect()}
    assert {i: r["change_type"] for i, r in got.items()} == \
        {1: "removed", 2: "changed", 4: "added"}  # 3 unchanged (null-safe)
    assert got[2]["old_image"]["score"] == 20
    assert got[2]["new_image"]["score"] == 25
    assert got[4]["old_image"] is None
