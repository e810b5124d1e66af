"""Streaming data-quality monitor: per-batch metrics, idempotent under
epoch replay."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from airline_data_warehouse_spark.streaming.monitor import (
    batch_quality_counts,
    start_quality_monitor,
)
from tests.conftest import drop_file


def test_batch_quality_counts_flags_each_class(spark):
    rows = [(1, "view", 7, 1.0), (2, "bogus", 8, 2.0),
            (3, "click", None, 3.0), (4, "purchase", 9, -1.0),
            (5, "signup", 10, None)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, "
                                     "user_id long, value double")
    got = {r["check_name"]: (r["n_rows"], r["n_violations"]) for r in
           batch_quality_counts(df).collect()}
    assert got == {"accepted_event_types": (5, 1),
                   "non_null_user": (5, 1),
                   "nonneg_value": (5, 2)}


def test_quality_monitor_appends_per_batch_and_replays_idempotently(
        spark, tmp_path):
    """Two micro-batches produce one metrics partition each; a replayed
    epoch (same batch_id) overwrites its own partition instead of
    double-counting."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    dest = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")
    src = (spark.readStream
           .schema("event_id long, event_type string, user_id long, "
                   "value double")
           .option("maxFilesPerTrigger", 1)
           .json(str(in_dir)))
    q = start_quality_monitor(src, dest, ckpt)
    try:
        batches = [
            [{"event_id": 1, "event_type": "view", "user_id": 1,
              "value": 1.0},
             {"event_id": 2, "event_type": "bogus", "user_id": 2,
              "value": 1.0}],
            [{"event_id": 3, "event_type": "click", "user_id": None,
              "value": -5.0}],
        ]
        for i, b in enumerate(batches):
            drop_file(in_dir, f"b{i}.json", "".join(
                json.dumps(e) + "\n"
                for e in b))
            q.processAllAvailable()
    finally:
        q.stop()

    m = spark.read.parquet(dest)
    got = {(r["batch_id"], r["check_name"]): r["n_violations"]
           for r in m.collect()}
    assert got[(0, "accepted_event_types")] == 1
    assert got[(1, "non_null_user")] == 1
    assert got[(1, "nonneg_value")] == 1
    assert len(got) == 6  # 2 batches x 3 checks, no duplicates

    # replay epoch 1 by hand (simulating a retried batch write)
    from airline_data_warehouse_spark.streaming.monitor import (
        batch_quality_counts as bqc)
    replay = spark.createDataFrame(
        [(3, "click", None, -5.0)],
        "event_id long, event_type string, user_id long, value double")
    counts = bqc(replay).withColumn("batch_id", F.lit(1).cast("long"))
    (counts.coalesce(1).write.mode("overwrite")
           .option("partitionOverwriteMode", "dynamic")
           .partitionBy("batch_id").parquet(dest))
    m2 = spark.read.parquet(dest)
    assert m2.count() == 6  # still one row set per (batch, check)
