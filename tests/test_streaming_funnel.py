"""Stream/batch equivalence for the continuous funnel tracker."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from airline_data_warehouse_spark.streaming.funnel import funnel_stream
from tests.conftest import drop_file


def _replay(spark, tmp_path, chunks, tag):
    in_dir = tmp_path / f"in_{tag}"
    in_dir.mkdir()
    src = (spark.readStream
           .schema("event_id long, ts timestamp, user_id long, event_type string")
           .option("maxFilesPerTrigger", 1)
           .json(str(in_dir)))
    q = (funnel_stream(src).writeStream.outputMode("append")
         .format("memory").queryName(f"funnel_{tag}")
         .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
         .start())
    try:
        import pandas as pd
        for i, chunk in enumerate(chunks):
            drop_file(in_dir, f"b{i:03d}.json", "".join(
                json.dumps({
                    "event_id": e["event_id"],
                    "ts": str(pd.Timestamp(e["ts"], unit="us")),
                    "user_id": e["user_id"],
                    "event_type": e["event_type"]}) + "\n"
                for e in chunk))
            q.processAllAvailable()
        return spark.sql(f"SELECT * FROM funnel_{tag}").collect()
    finally:
        q.stop()


def test_funnel_stream_matches_batch(spark, tmp_path):
    """The sf0.001 events table cut into time-ordered micro-batches
    (shuffled WITHIN each batch — the fold re-sorts) emits, per user,
    a maximal stage equal to the batch funnel_conversion stage_reached,
    with the stage-3 timestamp equal to the batch first_purchase."""
    import random

    from airline_data_warehouse_spark.plans.registry import all_queries, load

    sf = "/root/testdata/sf0.001"
    events = (load(spark, sf, "events")
              .select("event_id", F.unix_micros("ts").alias("ts"),
                      "user_id", "event_type"))
    rows = [r.asDict() for r in events.collect()]
    rows.sort(key=lambda e: (e["ts"], e["event_id"]))
    rng = random.Random(7)
    cuts = sorted(rng.sample(range(1, len(rows)), 5))
    chunks = [rows[a:b] for a, b in zip([0] + cuts, cuts + [len(rows)])]
    for c in chunks:
        rng.shuffle(c)

    got = _replay(spark, tmp_path, chunks, "eq")
    by_user: dict[int, dict] = {}
    for r in got:
        cur = by_user.setdefault(r["user_id"], {})
        # a stage is emitted at most once per user
        assert r["stage_reached"] not in cur
        cur[r["stage_reached"]] = r["reached_ts"]

    expect = {r["user_id"]: r for r in
              all_queries()["funnel_conversion"].builder(spark, sf).collect()}

    # every funnel entrant matches stage-for-stage; non-entrants absent
    assert set(by_user) == set(expect)
    for uid, stages in by_user.items():
        e = expect[uid]
        assert max(stages) == e["stage_reached"], uid
        assert stages[1] == e["first_view"]
        if 2 in stages:
            assert stages[2] == e["first_click"]
        if 3 in stages:
            assert stages[3] == e["first_purchase"]


def test_funnel_stream_ignores_out_of_order_regression(spark, tmp_path):
    """A click whose ts precedes the user's first view never advances
    the funnel, and duplicate advancing events emit nothing new."""
    base = 1_700_000_000_000_000
    b1 = [{"event_id": 1, "ts": base + 2_000_000, "user_id": 5,
           "event_type": "click"},
          {"event_id": 2, "ts": base + 3_000_000, "user_id": 5,
           "event_type": "view"}]
    b2 = [{"event_id": 3, "ts": base + 4_000_000, "user_id": 5,
           "event_type": "view"},      # duplicate view: no emit
          {"event_id": 4, "ts": base + 5_000_000, "user_id": 5,
           "event_type": "click"},     # click after view: stage 2
          {"event_id": 5, "ts": base + 5_000_000, "user_id": 5,
           "event_type": "purchase"}]  # ts == click ts: NOT strictly after
    got = _replay(spark, tmp_path, [b1, b2], "ooo")
    stages = sorted(r["stage_reached"] for r in got)
    assert stages == [1, 2]
