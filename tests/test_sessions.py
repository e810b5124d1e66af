"""Sessionization tests: batch/stream semantic agreement on crafted
timelines, and the applyInPandasWithState path across micro-batches."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from airline_data_warehouse_spark.streaming.sessions import (
    sessionize_batch,
    sessionize_stream,
)
from tests.conftest import drop_file

EVENTS = [
    # user 1: two sessions separated by a 2-hour gap
    (0, "2023-06-01 10:00:00", 1, 10.0),
    (1, "2023-06-01 10:10:00", 1, 20.0),
    (2, "2023-06-01 12:30:00", 1, 5.0),
    (3, "2023-06-01 12:40:00", 1, 5.0),
    # user 2: one session, events arriving out of order
    (4, "2023-06-01 11:05:00", 2, 1.0),
    (5, "2023-06-01 11:00:00", 2, 2.0),
]


def _events_df(spark):
    df = spark.createDataFrame(EVENTS, "event_id long, ts string, user_id long, value double")
    return df.withColumn("ts", F.to_timestamp("ts"))


def test_batch_sessionization(spark):
    out = sessionize_batch(_events_df(spark))
    rows = sorted([(r["user_id"], str(r["session_start"]), r["n_events"], r["total_value"])
                   for r in out.collect()])
    assert rows == [
        (1, "2023-06-01 10:00:00", 2, 30.0),
        (1, "2023-06-01 12:30:00", 2, 10.0),
        (2, "2023-06-01 11:00:00", 2, 3.0),
    ]


def test_stream_sessionization(spark, tmp_path):
    # batch 1: user 1's first session + user 2; batch 2: user 1's second
    # session (the gap closes session 1 INSIDE the stateful fold)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    b1 = [e for e in EVENTS if e[0] in (0, 1, 4, 5)]
    b2 = [e for e in EVENTS if e[0] in (2, 3)]
    with open(in_dir / "b1.json", "w") as f:
        for e in b1:
            f.write(json.dumps({"event_id": e[0], "ts": e[1], "user_id": e[2],
                                "value": e[3]}) + "\n")

    src = (spark.readStream
           .schema("event_id long, ts timestamp, user_id long, value double")
           .option("maxFilesPerTrigger", 1)
           .json(str(in_dir)))
    sessions = sessionize_stream(src)
    q = (sessions.writeStream.outputMode("append")
         .format("memory").queryName("sessions_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
        # nothing closed yet: both users have open sessions in state
        assert spark.sql("SELECT * FROM sessions_out").count() == 0

        drop_file(in_dir, "b2.json", "".join(
            json.dumps({"event_id": e[0], "ts": e[1], "user_id": e[2],
                        "value": e[3]}) + "\n"
            for e in b2))
        q.processAllAvailable()
        rows = {(r["user_id"], str(r["session_start"])): r
                for r in spark.sql("SELECT * FROM sessions_out").collect()}
        # the 2h gap closed user 1's first session; totals are exact
        assert (1, "2023-06-01 10:00:00") in rows
        closed = rows[(1, "2023-06-01 10:00:00")]
        assert closed["n_events"] == 2 and closed["total_value"] == 30.0
        assert str(closed["session_end"]) == "2023-06-01 10:10:00"
    finally:
        q.stop()


def _stream_replay(spark, tmp_path, chunks, tag):
    """Feed pre-cut event chunks through sessionize_stream one
    micro-batch per file, then two far-future sentinel batches (user -1):
    the first advances the watermark past every open session's
    last_event+gap, the second gives the event-time timeouts a batch to
    fire in. Returns the closed sessions excluding the sentinel user."""
    in_dir = tmp_path / f"in_{tag}"
    in_dir.mkdir()
    src = (spark.readStream
           .schema("event_id long, ts timestamp, user_id long, value double")
           .option("maxFilesPerTrigger", 1)
           .json(str(in_dir)))
    q = (sessionize_stream(src).writeStream.outputMode("append")
         .format("memory").queryName(f"sessions_eq_{tag}")
         .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
         .start())
    try:
        max_ts = max(e["ts"] for c in chunks for e in c)
        sentinels = [[{"event_id": -1, "ts": max_ts + 10 * 86_400_000_000,
                       "user_id": -1, "value": 0.0}],
                     [{"event_id": -2, "ts": max_ts + 11 * 86_400_000_000,
                       "user_id": -1, "value": 0.0}]]
        for i, chunk in enumerate(list(chunks) + sentinels):
            drop_file(in_dir, f"b{i:03d}.json", "".join(
                json.dumps({
                    "event_id": e["event_id"],
                    "ts": str(__import__("pandas").Timestamp(e["ts"], unit="us")),
                    "user_id": e["user_id"], "value": e["value"]}) + "\n"
                for e in chunk))
            q.processAllAvailable()
        return [r for r in spark.sql(f"SELECT * FROM sessions_eq_{tag}").collect()
                if r["user_id"] != -1]
    finally:
        q.stop()


def test_stream_batch_equivalence_random_microbatches(spark, tmp_path):
    """Property-style replay (VERDICT r05 item 6): the sf0.01 events
    table cut at random points into time-ordered micro-batches (shuffled
    WITHIN each batch — the watermark only advances between batches) must
    produce the exact session table `sessionize_batch` computes — same
    keys, bounds, counts, and cent-exact totals."""
    import random

    from pyspark.sql import functions as F

    from airline_data_warehouse_spark.plans.registry import load

    events = (load(spark, "/root/testdata/sf0.01", "events")
              .select("event_id", F.unix_micros("ts").alias("ts"),
                      "user_id", "value"))
    rows = [r.asDict() for r in events.collect()]
    rows.sort(key=lambda e: (e["ts"], e["event_id"]))

    rng = random.Random(42)
    cuts = sorted(rng.sample(range(1, len(rows)), 6))
    chunks = [rows[a:b] for a, b in zip([0] + cuts, cuts + [len(rows)])]
    for c in chunks:
        rng.shuffle(c)  # intra-batch disorder: the fold must re-sort

    got = _stream_replay(spark, tmp_path, chunks, "rand42")

    expect = sessionize_batch(
        events.withColumn("ts", F.timestamp_micros("ts"))).collect()

    def canon(rs):
        return sorted((r["user_id"], str(r["session_start"]),
                       str(r["session_end"]), r["n_events"],
                       r["total_value"]) for r in rs)

    assert len(got) == len(expect)
    assert canon(got) == canon(expect)
