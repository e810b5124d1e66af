"""Stream/batch equivalence for the continuous rolling features."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from airline_data_warehouse_spark.streaming.rolling import rolling_stream
from tests.conftest import drop_file


def _replay(spark, tmp_path, chunks, tag):
    in_dir = tmp_path / f"in_{tag}"
    in_dir.mkdir()
    src = (spark.readStream
           .schema("event_id long, ts timestamp, user_id long, value double")
           .option("maxFilesPerTrigger", 1)
           .json(str(in_dir)))
    q = (rolling_stream(src).writeStream.outputMode("append")
         .format("memory").queryName(f"rolling_{tag}")
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
                    "value": e["value"]}) + "\n"
                for e in chunk))
            q.processAllAvailable()
        return spark.sql(f"SELECT * FROM rolling_{tag}").collect()
    finally:
        q.stop()


def test_rolling_stream_matches_batch(spark, tmp_path):
    """The sf0.001 events replayed as time-ordered micro-batches
    (shuffled within each batch) emit, per event, EXACTLY the batch
    rolling_event_features row: same trailing-24h count, same exact
    2-dp sum, same inter-arrival gap."""
    import random

    from airline_data_warehouse_spark.plans.registry import all_queries, load

    sf = "/root/testdata/sf0.001"
    events = (load(spark, sf, "events")
              .select("event_id", F.unix_micros("ts").alias("ts"),
                      "user_id", "value"))
    rows = [r.asDict() for r in events.collect()]
    rows.sort(key=lambda e: (e["ts"], e["event_id"]))
    rng = random.Random(11)
    cuts = sorted(rng.sample(range(1, len(rows)), 4))
    chunks = [rows[a:b] for a, b in zip([0] + cuts, cuts + [len(rows)])]
    for c in chunks:
        rng.shuffle(c)

    got = {r["event_id"]: r for r in _replay(spark, tmp_path, chunks, "eq")}
    expect = {r["event_id"]: r for r in
              all_queries()["rolling_event_features"]
              .builder(spark, sf).collect()}
    assert set(got) == set(expect)
    for eid, e in expect.items():
        g = got[eid]
        assert g["roll_cnt_24h"] == e["roll_cnt_24h"], eid
        assert abs(g["roll_sum_24h"] - e["roll_sum_24h"]) < 1e-9, eid
        assert g["micros_since_prev"] == e["micros_since_prev"], eid
