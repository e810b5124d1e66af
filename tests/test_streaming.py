"""Streaming tests: file-source stand-in for Kafka (no broker in the
harness), deterministic availableNow micro-batches (SURVEY §5 strategy)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from airline_data_warehouse_spark.sources import atomic as at
from airline_data_warehouse_spark.sources.atomic import read_table
from airline_data_warehouse_spark.streaming import status as st
from airline_data_warehouse_spark.warehouse import read_fact
from tests.conftest import drop_file

MESSAGES = [
    {"flight_key": "AA100", "status": "delayed", "delay_minutes": 300,
     "update_timestamp": "2023-06-01T10:00:00Z"},
    {"flight_key": "AA100", "status": "delayed", "delay_minutes": 120,
     "update_timestamp": "2023-06-01T08:00:00Z"},
    {"flight_key": "AF023", "status": "on-time", "delay_minutes": 0,
     "update_timestamp": "2023-06-01T09:00:00Z"},
    # at-least-once replay duplicate:
    {"flight_key": "AA100", "status": "delayed", "delay_minutes": 300,
     "update_timestamp": "2023-06-01T10:00:00Z"},
]


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream")
    (d / "in").mkdir()
    with open(d / "in" / "batch1.json", "w") as f:
        for m in MESSAGES:
            f.write(json.dumps({"key": m["flight_key"], "value": json.dumps(m)}) + "\n")
    return d


def test_kafka_wire_roundtrip(spark):
    """Producer wire shape (S9) parses back through the consumer path (T2)."""
    upd = spark.createDataFrame(
        [("AA100", "delayed", 300, "2023-06-01 10:00:00")],
        "flight_key string, status string, delay_minutes int, update_timestamp string") \
        .withColumn("update_timestamp", F.to_timestamp("update_timestamp"))
    wire = st.to_kafka_wire(upd)
    assert wire.columns == ["key", "value"]
    row = wire.collect()[0]
    assert row["key"] == "AA100" and '"delay_minutes":300' in row["value"]
    back = st.parse_status_stream(wire).collect()[0]
    assert back["flight_key"] == "AA100" and back["delay_minutes"] == 300
    assert str(back["update_timestamp"]) == "2023-06-01 10:00:00"


def test_stream_ingest_append(spark, stream_dir):
    parsed = st.parse_status_stream(st.file_status_source(spark, str(stream_dir / "in")))
    q = st.append_status_sink(parsed, str(stream_dir / "status_table"),
                              str(stream_dir / "ckpt_append"))
    assert q.awaitTermination(600)
    table = spark.read.parquet(str(stream_dir / "status_table"))
    assert table.count() == 4
    assert set(table.columns) == {"flight_key", "status", "delay_minutes", "update_timestamp"}
    assert dict(table.dtypes)["update_timestamp"] == "timestamp"


def test_latest_and_insurance_verdict(spark, stream_dir):
    table = spark.read.parquet(str(stream_dir / "status_table"))
    latest = {r["flight_key"]: r for r in st.latest_status_per_flight(table).collect()}
    assert len(latest) == 2
    assert latest["AA100"]["delay_minutes"] == 300  # newest wins over older 120
    verdict = st.check_insurance(table, "AA100").collect()[0]
    assert verdict["is_eligible"] is True
    assert verdict["delay_hours"] == 5 and verdict["delay_rem_minutes"] == 0
    assert st.check_insurance(table, "AF023").collect()[0]["is_eligible"] is False


def test_insurance_lookup_and_latest_view_agree_on_timestamp_ties(spark):
    """Two updates of one flight at one timestamp: the lookup and the
    latest-status view pick the same row (the larger delay) whichever
    arrives first — they share one "latest" order."""
    from datetime import datetime

    ts = datetime(2023, 6, 1, 10)
    rows = [("AA1", "delayed", 100, ts), ("AA1", "delayed", 300, ts)]
    for ordered in (rows, rows[::-1]):
        table = spark.createDataFrame(
            ordered, "flight_key string, status string, delay_minutes int, "
                     "update_timestamp timestamp").coalesce(1)
        verdict = st.check_insurance(table, "AA1").collect()[0]
        latest = st.latest_status_per_flight(table).collect()[0]
        assert (verdict["delay_minutes"], verdict["is_eligible"]) == (300, True), ordered
        assert latest["delay_minutes"] == 300, ordered


def test_eligibility_merge_partition_scoped(spark, stream_dir, tmp_path):
    """T5 merge: the eligible flights' rows read flipped through the
    fact's reader, the others read as loaded — and the merge rewrites
    no fact unit: the untouched month's files keep their mtimes
    (VERDICT r01: no full-fact rewrite per micro-batch) and the fact's
    manifest names the same units."""
    import os
    fact = spark.createDataFrame(
        [("T1", "AA100", "scheduled", 0, False, 202306),
         ("T2", "AA100", "scheduled", 0, False, 202306),
         ("T3", "AF023", "scheduled", 0, False, 202306),
         ("T9", "ZZ999", "scheduled", 0, False, 202401)],  # untouched month
        "transaction_id string, flight_key string, flight_status string, "
        "delay_minutes int, is_eligible_insurance boolean, sale_year_month int")
    fact_path = str(tmp_path / "fact")
    at.upsert_parquet(spark, fact, fact_path, key="transaction_id",
                      partition_col="sale_year_month")
    units = at.manifest(spark, fact_path)["units"]
    untouched = _unit(spark, fact_path, "sale_year_month=202401")
    before = {f: os.path.getmtime(os.path.join(untouched, f))
              for f in os.listdir(untouched)}

    parsed = st.parse_status_stream(st.file_status_source(spark, str(stream_dir / "in")))
    q = st.start_eligibility_merge(parsed, fact_path, str(tmp_path / "ckpt_merge"))
    assert q.awaitTermination(600)

    out = {r["transaction_id"]: r for r in read_fact(spark, fact_path).collect()}
    assert len(out) == 4
    assert out["T1"]["is_eligible_insurance"] and out["T2"]["is_eligible_insurance"]
    assert out["T1"]["delay_minutes"] == 300 and out["T1"]["flight_status"] == "delayed"
    assert not out["T3"]["is_eligible_insurance"]
    assert out["T3"]["flight_status"] == "scheduled"
    assert _unit(spark, fact_path, "sale_year_month=202401") == untouched
    after = {f: os.path.getmtime(os.path.join(untouched, f))
             for f in os.listdir(untouched)}
    assert after == before  # 202401 directory never rewritten
    assert at.manifest(spark, fact_path)["units"] == units  # no unit changed


def _unit(spark, root, part):
    """The live unit (directory) holding partition ``part`` of the
    managed table at ``root``."""
    import os
    units = [u for u in at.manifest(spark, root)["units"]
             if u.rsplit("/", 1)[-1] == part]
    assert len(units) == 1, units
    return os.path.join(root, units[0])


def test_eligibility_merge_recovers_crashed_swap(spark, stream_dir, tmp_path):
    """A merge that crashed after writing its eligibility table but
    before its manifest leaves an orphan commit directory. The fact
    still reads the table's previous version, the checkpointed retry
    merges the batch into it, and the retry's expire deletes the
    orphan."""
    import os
    fact = spark.createDataFrame(
        [("T1", "AA100", "scheduled", 0, False, 202306),
         ("T9", "ZZ999", "scheduled", 0, False, 202401)],
        "transaction_id string, flight_key string, flight_status string, "
        "delay_minutes int, is_eligible_insurance boolean, sale_year_month int")
    fact_path = str(tmp_path / "fact_crash")
    at.upsert_parquet(spark, fact, fact_path, key="transaction_id",
                      partition_col="sale_year_month")
    elig = st.eligibility_path(fact_path)
    cols = "flight_key string, delay_minutes int"
    at._commit(spark, elig, spark.createDataFrame([("ZZ999", 500)], cols))
    # the crashed attempt: its table landed, no manifest did
    orphan = os.path.join(elig, "commit=00002")
    spark.createDataFrame([("AA100", -1)], cols).write.parquet(orphan)

    def rows():
        return {r["transaction_id"]: (r["is_eligible_insurance"],
                                      r["delay_minutes"])
                for r in read_fact(spark, fact_path).collect()}

    assert rows() == {"T1": (False, 0), "T9": (True, 500)}

    parsed = st.parse_status_stream(st.file_status_source(spark, str(stream_dir / "in")))
    q = st.start_eligibility_merge(parsed, fact_path, str(tmp_path / "ckpt_crash"))
    assert q.awaitTermination(600)

    assert rows() == {"T1": (True, 300), "T9": (True, 500)}
    assert not os.path.exists(orphan)


def test_held_fact_reads_its_snapshot_across_upsert_and_merge(
        spark, stream_dir, tmp_path):
    """Snapshot reads: a fact DataFrame and a temp view opened before an
    incremental upsert and an eligibility-merge batch keep counting the
    version they opened (the upsert and the merge commit new files and
    delete none), while a fresh open sees the new rows."""
    from airline_data_warehouse_spark.warehouse import Warehouse

    wh = Warehouse(str(tmp_path / "wh"))
    cols = ("transaction_id string, date_key int, flight_key string, "
            "flight_status string, delay_minutes int, "
            "is_eligible_insurance boolean")
    wh.write_fact_sales(spark.createDataFrame(
        [("T1", 20230601, "AA100", "scheduled", 0, False),
         ("T2", 20230715, "AF023", "scheduled", 0, False)], cols))
    held = wh.table(spark, "fact_sales")
    held.createOrReplaceTempView("held_fact")

    def held_counts():
        return (held.count(),
                spark.sql("SELECT count(*) FROM held_fact").first()[0])

    wh.upsert_fact_incremental(spark, spark.createDataFrame(
        [("T3", 20230602, "AA100", "scheduled", 0, False)], cols))
    assert held_counts() == (2, 2)
    parsed = st.parse_status_stream(
        st.file_status_source(spark, str(stream_dir / "in")))
    q = st.start_eligibility_merge(parsed, wh.path("fact_sales"),
                                   str(tmp_path / "ckpt_held"))
    assert q.awaitTermination(600)
    assert held_counts() == (2, 2)

    fresh = {r["transaction_id"]: r["is_eligible_insurance"]
             for r in wh.table(spark, "fact_sales").collect()}
    assert fresh == {"T1": True, "T2": False, "T3": True}
    spark.catalog.dropTempView("held_fact")


# -- the eligibility rules, read through Warehouse.table -------------------

_FACT_COLS = ("transaction_id string, date_key int, flight_key string, "
              "flight_status string, delay_minutes int, "
              "is_eligible_insurance boolean")


def _rules_warehouse(spark, tmp_path):
    """A warehouse whose fact holds AA100 in two months and AF023 in one,
    and a ``merge(*updates)`` that lands ``(flight_key, delay)`` updates
    as one status file and runs one eligibility-merge micro-batch."""
    from airline_data_warehouse_spark.warehouse import Warehouse

    wh = Warehouse(str(tmp_path / "wh"))
    wh.write_fact_sales(spark.createDataFrame(
        [("T1", 20230601, "AA100", "scheduled", 0, False),
         ("T2", 20230715, "AA100", "scheduled", 0, False),
         ("T3", 20230601, "AF023", "scheduled", 0, False)], _FACT_COLS))
    landing = tmp_path / "landing"
    landing.mkdir()
    batches = []

    def merge(*updates):
        batches.append(updates)
        lines = []
        for i, (fk, delay) in enumerate(updates):
            msg = {"flight_key": fk, "status": "delayed",
                   "delay_minutes": delay,
                   "update_timestamp": f"2023-06-0{len(batches)}T1{i}:00:00Z"}
            lines.append(json.dumps({"key": fk, "value": json.dumps(msg)}))
        drop_file(landing, f"b{len(batches)}.json", "\n".join(lines) + "\n")
        q = st.start_eligibility_merge(
            st.parse_status_stream(st.file_status_source(spark, str(landing))),
            wh.path("fact_sales"), str(tmp_path / "ckpt"))
        assert q.awaitTermination(600)
        return q

    return wh, merge


def _fact_rows(spark, wh) -> dict:
    return {r["transaction_id"]: (r["is_eligible_insurance"],
                                  r["delay_minutes"], r["flight_status"])
            for r in wh.table(spark, "fact_sales").collect()}


def test_eligibility_rules_batch_max_sticky_and_latest_eligible(
        spark, tmp_path):
    """Within one batch the max eligible delay wins; a later batch with
    delay <= 240 leaves the flag and the delay; a later eligible batch
    replaces the delay with its own value (not the running max)."""
    wh, merge = _rules_warehouse(spark, tmp_path)
    merge(("AA100", 250), ("AA100", 400), ("AA100", 300), ("AF023", 240))
    want_af = (False, 0, "scheduled")
    assert _fact_rows(spark, wh) == {
        "T1": (True, 400, "delayed"), "T2": (True, 400, "delayed"),
        "T3": want_af}
    merge(("AA100", 100), ("AF023", 30))
    assert _fact_rows(spark, wh) == {
        "T1": (True, 400, "delayed"), "T2": (True, 400, "delayed"),
        "T3": want_af}
    merge(("AA100", 260))
    assert _fact_rows(spark, wh) == {
        "T1": (True, 260, "delayed"), "T2": (True, 260, "delayed"),
        "T3": want_af}


def test_eligibility_then_upsert_and_reload(spark, tmp_path):
    """A row upserted after a merge for an eligible flight reads as the
    upsert wrote it (not eligible) while the older rows stay eligible;
    a reload after a merge reads no eligibility."""
    wh, merge = _rules_warehouse(spark, tmp_path)
    merge(("AA100", 300))
    wh.upsert_fact_incremental(spark, spark.createDataFrame(
        [("T4", 20230801, "AA100", "scheduled", 0, False)], _FACT_COLS))
    assert _fact_rows(spark, wh) == {
        "T1": (True, 300, "delayed"), "T2": (True, 300, "delayed"),
        "T3": (False, 0, "scheduled"), "T4": (False, 0, "scheduled")}
    wh.write_fact_sales(spark.createDataFrame(
        [("T1", 20230601, "AA100", "scheduled", 0, False),
         ("T5", 20230901, "AA100", "scheduled", 0, False)], _FACT_COLS))
    assert _fact_rows(spark, wh) == {
        "T1": (False, 0, "scheduled"), "T5": (False, 0, "scheduled")}


# Spark jobs one eligibility-merge micro-batch may launch (measured at 6;
# rewriting the fact's months instead took 11)
MERGE_JOBS = 6


def test_eligibility_merge_job_budget(spark, tmp_path):
    """One status micro-batch with eligible flights, merged into a live
    eligibility table, launches at most MERGE_JOBS Spark jobs (counted
    under the query's run id): the eligible-row probe, the batch
    maximum and the table's one-file commit — no fact scan, no fact
    write."""
    from tests.conftest import group_jobs

    wh, merge = _rules_warehouse(spark, tmp_path)
    merge(("AA100", 300))
    q = merge(("AA100", 400), ("AF023", 500), ("AF023", 100))
    n = group_jobs(spark, str(q.runId))
    assert n <= MERGE_JOBS, n
    assert _fact_rows(spark, wh) == {
        "T1": (True, 400, "delayed"), "T2": (True, 400, "delayed"),
        "T3": (True, 500, "delayed")}


def test_eligibility_fold_crash_before_clear(spark, tmp_path):
    """An incremental upsert that crashed after folding the eligibility
    table into the base but before clearing it: the fact reads the same
    rows (re-applying the table to a folded row changes nothing), and
    the retried upsert folds again, clears the table and lands its row
    as written."""
    from airline_data_warehouse_spark import warehouse as W

    wh, merge = _rules_warehouse(spark, tmp_path)
    merge(("AA100", 300))
    merged = _fact_rows(spark, wh)
    fact_path = wh.path("fact_sales")
    W._fold_eligibility(spark, fact_path)        # the crashed attempt
    assert st.eligibility_table(spark, fact_path) is not None
    assert _fact_rows(spark, wh) == merged
    base = {r["transaction_id"]: r["is_eligible_insurance"]
            for r in read_table(spark, fact_path).collect()}
    assert base == {"T1": True, "T2": True, "T3": False}

    wh.upsert_fact_incremental(spark, spark.createDataFrame(
        [("T4", 20230801, "AA100", "scheduled", 0, False)], _FACT_COLS))
    assert st.eligibility_table(spark, fact_path) is None
    assert _fact_rows(spark, wh) == {
        **merged, "T4": (False, 0, "scheduled")}


def test_stream_static_enrichment(spark, stream_dir, tmp_path):
    dim_flight = spark.createDataFrame(
        [("AA100", "JFK", "LHR", "B777"), ("AF023", "CDG", "JFK", "A320")],
        "flight_key string, origin_airport_key string, destination_airport_key string, aircraft_type string")
    dim_airport = spark.createDataFrame(
        [("JFK", "John F. Kennedy", "New York", "United States"),
         ("CDG", "Charles de Gaulle", "Paris", "France")],
        "airport_key string, airport_name string, city string, country string")
    parsed = st.parse_status_stream(st.file_status_source(spark, str(stream_dir / "in")))
    enriched = st.enrich_stream_with_dims(parsed, dim_flight, dim_airport)
    q = (enriched.writeStream.outputMode("append")
         .format("memory").queryName("enriched_out")
         .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(600)
    rows = spark.sql("SELECT * FROM enriched_out").collect()
    assert len(rows) == 4
    by_flight = {r["flight_key"]: r for r in rows}
    assert by_flight["AA100"]["aircraft_type"] == "B777"
    assert by_flight["AA100"]["origin_city"] == "New York"
    assert by_flight["AF023"]["origin_country"] == "France"


def test_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Restarting an append sink from its checkpoint must not re-emit
    already-committed batches (offset tracking = exactly-once sink)."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    m1 = {"flight_key": "AA100", "status": "delayed", "delay_minutes": 100,
          "update_timestamp": "2023-06-01T10:00:00Z"}
    with open(in_dir / "b1.json", "w") as f:
        f.write(json.dumps({"key": "AA100", "value": json.dumps(m1)}) + "\n")

    def run_once():
        parsed = st.parse_status_stream(st.file_status_source(spark, str(in_dir)))
        q = st.append_status_sink(parsed, str(tmp_path / "table"),
                                  str(tmp_path / "ckpt"))
        assert q.awaitTermination(600)

    run_once()
    assert spark.read.parquet(str(tmp_path / "table")).count() == 1
    m2 = dict(m1, delay_minutes=200, update_timestamp="2023-06-01T11:00:00Z")
    with open(in_dir / "b2.json", "w") as f:
        f.write(json.dumps({"key": "AA100", "value": json.dumps(m2)}) + "\n")
    run_once()  # restart from the same checkpoint
    table = spark.read.parquet(str(tmp_path / "table"))
    assert table.count() == 2  # b1 NOT re-ingested
    assert {r["delay_minutes"] for r in table.collect()} == {100, 200}


def test_windowed_delay_stats_and_dedup(spark, stream_dir, tmp_path):
    parsed = st.parse_status_stream(st.file_status_source(spark, str(stream_dir / "in")))
    deduped = st.dedup_replayed_updates(parsed)
    stats = st.windowed_delay_stats(deduped, watermark=None)
    q = (stats.writeStream.outputMode("append")
         .format("memory").queryName("delay_stats")
         .option("checkpointLocation", str(tmp_path / "ckpt_stats"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(600)
    rows = spark.sql("SELECT * FROM delay_stats").collect()
    # watermark closes nothing in a single availableNow batch unless a later
    # event advances it — with max ts 10:00 and 10m watermark, the 08:00 and
    # 09:00 windows emit; assert the replay duplicate did not double-count.
    by_key = {(r["flight_key"], str(r["window_start"])): r for r in rows}
    for r in rows:
        assert r["n_updates"] == 1  # dedup removed the replayed AA100 event
    assert len(by_key) >= 1


def test_kafka_contract_options_and_schema(spark):
    """Contract test against kafkaConfig.js fixtures (no broker in the
    harness): exact consumer/producer option sets and the kafkajs message
    shape parsing through our consumer path."""
    src = st.kafka_source_options("broker1:9092")
    assert src == {
        "kafka.bootstrap.servers": "broker1:9092",
        "subscribe": "flight-status-updates",     # kafkaConfig.js:31,45
        "kafka.group.id": "flight-status-group",  # kafkaConfig.js:16
        "startingOffsets": "earliest",            # fromBeginning: true, :46
    }
    assert st.kafka_sink_options("broker1:9092") == {
        "kafka.bootstrap.servers": "broker1:9092",
        "topic": "flight-status-updates",
    }
    sasl = st.kafka_sasl_options("user", "pw")
    assert sasl["kafka.security.protocol"] == "SASL_SSL"  # ssl: true, :7
    assert sasl["kafka.sasl.mechanism"] == "PLAIN"        # :9
    assert 'username="user"' in sasl["kafka.sasl.jaas.config"]

    # kafkajs producer message: key = flight_key, value = JSON.stringify
    # (kafkaConfig.js:31-36) — must parse through our T2 path unchanged
    msg = ('{"flight_key":"AA100","status":"delayed",'
           '"delay_minutes":300,"update_timestamp":"2023-06-01T10:00:00Z"}')
    wire = spark.createDataFrame([("AA100", msg)], "key string, value string")
    parsed = st.parse_status_stream(wire).collect()[0]
    assert parsed["flight_key"] == "AA100" and parsed["delay_minutes"] == 300
    assert parsed["status"] == "delayed"

    # our producer wire emits exactly the fields kafkajs sends
    import json
    upd = spark.createDataFrame(
        [("AA100", "delayed", 300, "2023-06-01 10:00:00")],
        "flight_key string, status string, delay_minutes int, update_timestamp string") \
        .withColumn("update_timestamp", F.to_timestamp("update_timestamp"))
    value = json.loads(st.to_kafka_wire(upd).collect()[0]["value"])
    assert set(value) == {"flight_key", "status", "delay_minutes", "update_timestamp"}


def test_streaming_curation_pipeline(spark, tmp_path):
    """The curation operators are stream-compatible: a document stream is
    exact-deduped (stateful dropDuplicates on the content hash) and
    model-quality-filtered in ONE Structured Streaming job, and the
    surviving set matches the batch operators run on the same data —
    the pure-Column design is what makes the same code work in both
    engines' modes. (Unbounded dedup state is fine for availableNow
    replays; a production stream would bound it with a watermark, as
    dedup_replayed_updates does.)"""
    import json as _json

    from pyspark.sql import functions as F

    from airline_data_warehouse_spark.operators import text as tx

    good = ("the history of the region and the growth of a city to the "
            "north of the river and the role of the port in trade routes")
    rows = [(1, good), (2, good),                      # exact dup pair
            (3, "buy cheap deals discount sale now"),  # low quality -> filtered
            (4, "the story of the harbour and the people of the coast and "
                "the long years of the fishing trade in the cold north sea")]
    in_dir = tmp_path / "docs_in"
    in_dir.mkdir()
    with open(in_dir / "batch0.json", "w") as f:
        for i, t in rows:
            f.write(_json.dumps({"doc_id": i, "text": t}) + "\n")

    def curate(df):
        deduped = (df.withColumn("text_hash", F.md5("text"))
                     .dropDuplicates(["text_hash"]))
        return (tx.model_quality_score(deduped)
                .filter(F.col("verdict") == "keep"))

    stream = spark.readStream.schema("doc_id long, text string").json(str(in_dir))
    out = str(tmp_path / "curated")
    q = (curate(stream).writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt_curate"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(600)

    streamed = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    batch = {r["doc_id"] for r in
             curate(spark.read.schema("doc_id long, text string")
                    .json(str(in_dir))).collect()}
    assert streamed == batch
    assert 3 not in streamed                    # quality-filtered
    assert len(streamed & {1, 2}) == 1          # dup collapsed to one
    assert 4 in streamed


def test_stream_exact_dedup_across_microbatches(spark, tmp_path):
    """Streaming ingest dedup: duplicate payloads arriving in LATER
    micro-batches (within the watermark) are dropped; the kept set
    equals the batch keep-first replay on the same input."""
    import json as jsonlib

    from airline_data_warehouse_spark.streaming.dedup import (
        dedup_batch_exact,
        dedup_stream_exact,
    )

    rows = [  # (doc_id, ts, text) — 1/2 dup within batch, 4 dups 1 across
        (1, "2024-01-01 10:00:00", "alpha payload"),
        (2, "2024-01-01 10:00:30", "alpha payload"),
        (3, "2024-01-01 10:01:00", "beta payload"),
        (4, "2024-01-01 10:02:00", "alpha payload"),
        (5, "2024-01-01 10:03:00", "gamma payload"),
    ]
    in_dir = tmp_path / "dedup_in"
    in_dir.mkdir()
    batches = [rows[:3], rows[3:]]
    src = (spark.readStream
           .schema("doc_id long, ts timestamp, text string")
           .option("maxFilesPerTrigger", 1)
           .json(str(in_dir)))
    q = (dedup_stream_exact(src, watermark="10 minutes")
         .writeStream.outputMode("append").format("memory")
         .queryName("dedup_out")
         .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
         .start())
    try:
        for i, batch in enumerate(batches):
            drop_file(in_dir, f"b{i}.json", "".join(
                jsonlib.dumps(
                    {"doc_id": d, "ts": ts, "text": tx_}) + "\n"
                for d, ts, tx_ in batch))
            q.processAllAvailable()
        got = {r["doc_id"] for r in spark.sql("SELECT * FROM dedup_out").collect()}
    finally:
        q.stop()
    assert got == {1, 3, 5}  # 2 dropped in-batch, 4 dropped across batches

    batch_df = spark.createDataFrame(rows, "doc_id long, ts string, text string") \
        .withColumn("ts", F.to_timestamp("ts"))
    replay = {r["doc_id"] for r in dedup_batch_exact(batch_df).collect()}
    assert replay == got


def test_stream_neardup_ingest_matches_batch_incremental(spark, tmp_path):
    """Continuous near-dup ingest: docs arriving in later micro-batches
    that near-duplicate earlier corpus docs are flagged with the same
    (pair, jaccard) results the batch incremental operator produces for
    the same corpus/increment split; increment-internal dups are not
    reported (contract parity)."""
    import json as jsonlib

    from airline_data_warehouse_spark.operators.dedup import (
        incremental_minhash_pairs,
    )
    from airline_data_warehouse_spark.streaming.dedup import (
        start_neardup_ingest,
    )

    base = ("the quick brown fox jumps over the lazy dog while the market "
            "data pipeline keeps shuffling partitions across cluster nodes")
    other = ("completely different content about airline insurance claims "
             "and kafka streaming updates for delayed flights at airports")
    b1 = [(1, base), (2, other)]
    b2 = [(3, base + " tail"), (4, "unrelated short doc text here padded")]
    b3 = [(5, base.replace("quick", "rapid")), (6, base + " tail")]

    in_dir = tmp_path / "nd_in"
    in_dir.mkdir()
    store = str(tmp_path / "nd_store")
    src = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    q = start_neardup_ingest(src, store,
                             checkpoint_dir=str(tmp_path / "nd_ckpt"))
    try:
        for i, batch in enumerate([b1, b2, b3]):
            drop_file(in_dir, f"b{i}.json", "".join(
                jsonlib.dumps({"doc_id": d, "text": tx_}) + "\n"
                for d, tx_ in batch))
            q.processAllAvailable()
    finally:
        q.stop()

    got = {(r["inc_id"], r["corpus_id"]): r["jaccard"]
           for r in spark.read.parquet(f"{store}/pairs").collect()}
    # doc 3 (batch 2) near-dups doc 1 (batch 1); docs 5 and 6 (batch 3)
    # near-dup docs 1 and 3; 6 is an exact dup of 3
    assert (3, 1) in got and (5, 1) in got and (6, 3) in got
    assert got[(6, 3)] == 1.0
    assert not any(i == 4 or c == 4 for i, c in got)
    # batch-operator parity on the final increment: batch 3 vs corpus 1+2
    corpus = spark.createDataFrame(b1 + b2, "doc_id long, text string")
    inc = spark.createDataFrame(b3, "doc_id long, text string")
    expect = {(r["inc_id"], r["corpus_id"]): r["jaccard"]
              for r in incremental_minhash_pairs(corpus, inc).collect()}
    got_b3 = {k: v for k, v in got.items() if k[0] in (5, 6)}
    assert got_b3 == expect


def test_stream_neardup_retention_and_compaction(spark, tmp_path):
    """The r07 bounded-state knobs: with retention_batches=2, a doc from
    batch 0 is no longer matched by batch 3 (outside the horizon), and
    compaction physically drops its bands/shingles from the store while
    coalescing the per-batch append files. A store dir stranded mid-
    compaction-swap (only copy in the hidden backup) is healed before
    the next batch reads it."""
    import json as jsonlib
    import os

    from airline_data_warehouse_spark.streaming.dedup import (
        start_neardup_ingest,
    )

    base = ("the quick brown fox jumps over the lazy dog while the market "
            "data pipeline keeps shuffling partitions across cluster nodes")
    filler = [
        "totally unrelated filler text about warehouse inventory counts",
        "another unrelated filler document mentioning quarterly reports",
    ]
    batches = [[(1, base)], [(2, filler[0])], [(3, filler[1])],
               [(4, base + " tail")]]  # near-dups doc 1, but 3 batches later

    in_dir = tmp_path / "ret_in"
    in_dir.mkdir()
    store = str(tmp_path / "ret_store")
    src = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    q = start_neardup_ingest(src, store,
                             checkpoint_dir=str(tmp_path / "ret_ckpt"),
                             retention_batches=2, compact_every=2)
    try:
        for i, batch in enumerate(batches):
            if i == 3:
                # crash the tier protocol mid-compaction: a stranded
                # dot-hidden staging dir must stay invisible to the
                # next batch's reads and be swept at the next
                # compaction (the tiered crash story, r15)
                (spark.createDataFrame([(0, 0, "x", 0)],
                                       "doc_id long, band int, "
                                       "band_key string, batch_id long")
                 .write.mode("overwrite")
                 .parquet(os.path.join(store, "bands", ".c9_9.staging")))
            drop_file(in_dir, f"b{i}.json", "".join(
                jsonlib.dumps({"doc_id": d, "text": tx_}) + "\n"
                for d, tx_ in batch))
            q.processAllAvailable()
    finally:
        q.stop()

    pairs = {(r["inc_id"], r["corpus_id"])
             for r in spark.read.parquet(f"{store}/pairs").collect()}
    assert pairs == set()  # doc 1 fell outside the 2-batch horizon

    def bands():
        return (spark.read.option("recursiveFileLookup", "true")
                .parquet(f"{store}/bands"))

    # compaction at batch 2 keeps batch 0: a retry of batch 2 still
    # matches it, so it folds into tier c0_2
    assert bands().filter("doc_id = 1").count() > 0
    # the stranded staging's planted row never reached any read (doc 0
    # appears nowhere in the recursive read)
    assert bands().filter("doc_id = 0").count() == 0
    # ... and the next compaction sweeps the crashed staging dir
    from airline_data_warehouse_spark.streaming.dedup import (
        _tier_compact,
    )

    _tier_compact(spark, f"{store}/bands", 3, retention_batches=2)
    assert not os.path.exists(
        os.path.join(store, "bands", ".c9_9.staging"))
    # batch-0 state goes once the horizon passes the whole c0_2 tier
    # (a tier straddling it stays); batch 3's doc 4 stays
    assert bands().filter("doc_id = 1").count() > 0
    _tier_compact(spark, f"{store}/bands", 5, retention_batches=2)
    assert bands().filter("doc_id = 1").count() == 0
    assert bands().filter("doc_id = 4").count() > 0


def test_read_store_retention_keeps_last_n_batches(spark, tmp_path):
    """``retention_batches=N`` matches batch b against exactly the N
    batches before it: on a store holding batches 0-2, a read at batch
    3 with retention 1 returns batch 2, with retention 2 batches 1-2."""
    from airline_data_warehouse_spark.streaming.dedup import _read_store

    store = str(tmp_path / "store")
    (spark.createDataFrame([(b * 10, b) for b in range(3)],
                           "doc_id long, batch_id int")
     .write.parquet(store))
    like = spark.createDataFrame([], "doc_id long")

    def batches(n):
        return sorted(r["batch_id"] for r in
                      _read_store(spark, store, like, 3, n).collect())

    assert batches(1) == [2]
    assert batches(2) == [1, 2]
    assert batches(None) == [0, 1, 2]


def test_stream_neardup_full_corpus_state_by_default(spark, tmp_path):
    """Default knobs keep full-corpus matching: the same 3-batches-later
    near-dup IS flagged when retention is unbounded, and compaction
    leaves matching behavior unchanged (it only rewrites files)."""
    import json as jsonlib

    from airline_data_warehouse_spark.streaming.dedup import (
        start_neardup_ingest,
    )

    base = ("the quick brown fox jumps over the lazy dog while the market "
            "data pipeline keeps shuffling partitions across cluster nodes")
    batches = [[(1, base)],
               [(2, "totally unrelated filler text about inventory counts")],
               [(3, "another unrelated filler mentioning quarterly reports")],
               [(4, base + " tail")]]
    in_dir = tmp_path / "full_in"
    in_dir.mkdir()
    store = str(tmp_path / "full_store")
    src = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    q = start_neardup_ingest(src, store,
                             checkpoint_dir=str(tmp_path / "full_ckpt"),
                             compact_every=2)
    try:
        for i, batch in enumerate(batches):
            drop_file(in_dir, f"b{i}.json", "".join(
                jsonlib.dumps({"doc_id": d, "text": tx_}) + "\n"
                for d, tx_ in batch))
            q.processAllAvailable()
    finally:
        q.stop()

    pairs = {(r["inc_id"], r["corpus_id"])
             for r in spark.read.parquet(f"{store}/pairs").collect()}
    assert (4, 1) in pairs


def test_stream_neardup_corrupt_store_fails_batch(spark, tmp_path):
    """A corrupt band-store READ must FAIL the micro-batch (so structured
    streaming retries it), never be treated as 'first batch': the old
    read-and-swallow probe would silently skip that batch's pairs against
    the whole accumulated corpus while still appending its bands — losing
    the pairs permanently (ADVICE r06/r07). Only path-not-found means
    first batch; that is probed via the FileSystem API, not by catching
    read errors."""
    import glob
    import json as jsonlib

    import pytest
    from pyspark.errors import StreamingQueryException

    from airline_data_warehouse_spark.streaming.dedup import (
        start_neardup_ingest,
    )

    base = ("the quick brown fox jumps over the lazy dog while the market "
            "data pipeline keeps shuffling partitions across cluster nodes")
    in_dir = tmp_path / "cr_in"
    in_dir.mkdir()
    store = str(tmp_path / "cr_store")
    src = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    q = start_neardup_ingest(src, store,
                             checkpoint_dir=str(tmp_path / "cr_ckpt"))
    try:
        drop_file(in_dir, "b0.json",
                  jsonlib.dumps({"doc_id": 1, "text": base}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    # corrupt every bands parquet footer in place (path still EXISTS,
    # so this is a read failure, not the legitimate first-batch case)
    band_files = glob.glob(f"{store}/bands/**/*.parquet",
                           recursive=True)
    assert band_files
    for p in band_files:
        with open(p, "wb") as f:
            f.write(b"not a parquet file")

    src2 = (spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    q2 = start_neardup_ingest(src2, store,
                              checkpoint_dir=str(tmp_path / "cr_ckpt2"))
    try:
        drop_file(in_dir, "b1.json", jsonlib.dumps(
            {"doc_id": 2, "text": base + " tail"}) + "\n")
        with pytest.raises(StreamingQueryException):
            q2.processAllAvailable()
    finally:
        q2.stop()

    # the failed batch appended NOTHING: doc 2's shingles are absent
    # (a silent skip would have appended them while dropping its pairs)
    shingles = (spark.read.option("recursiveFileLookup", "true")
                .parquet(f"{store}/shingles"))
    assert shingles.filter("doc_id = 2").count() == 0


def test_stream_semantic_ingest_flags_embedding_neardups(spark, tmp_path):
    """The embedding twin of the near-dup ingest: a vector arriving in a
    later micro-batch that cosine-matches an earlier corpus vector is
    flagged against the ACCUMULATED band+vector store; negated and
    NaN-poisoned vectors are not (the NaN row is excluded at entry and
    never stored). Within-batch pairs are not reported (text-twin
    contract parity). Axis-aligned vectors exercise the r08 Gaussian
    planes — under the old ±1 planes this fixture's band keys were
    degenerate."""
    import json as jsonlib
    import math

    from airline_data_warehouse_spark.streaming.dedup import (
        start_semantic_ingest,
    )

    def vec(*pairs):
        v = [0.0] * 64
        for i, x in pairs:
            v[i] = x
        return v

    b1 = [(1, vec((0, 1.0))), (2, vec((1, 1.0)))]
    b2 = [(3, vec((0, 1.0), (2, 0.02))),          # cos(3,1) ~ 0.9998
          (4, vec((0, -1.0))),                     # cos(4,1) = -1
          (9, [float("nan")] * 64)]                # poisoned: excluded
    b3 = [(5, vec((0, 1.0), (3, 0.01)))]           # matches 1 AND 3

    in_dir = tmp_path / "sem_in"
    in_dir.mkdir()
    store = str(tmp_path / "sem_store")
    src = (spark.readStream.schema("vec_id long, embedding array<double>")
           .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    q = start_semantic_ingest(src, store,
                              checkpoint_dir=str(tmp_path / "sem_ckpt"))
    try:
        for i, batch in enumerate([b1, b2, b3]):
            drop_file(in_dir, f"b{i}.json", "".join(
                jsonlib.dumps({"vec_id": vid, "embedding": v}) + "\n"
                for vid, v in batch))
            q.processAllAvailable()
    finally:
        q.stop()

    got = {(r["inc_id"], r["corpus_id"]): r["score"] for r in
           spark.read.parquet(f"{store}/pairs").collect()}
    assert set(got) == {(3, 1), (5, 1), (5, 3)}
    assert got[(3, 1)] == round(1 / math.sqrt(1 + 0.02 ** 2), 6)
    assert got[(5, 1)] == round(1 / math.sqrt(1 + 0.01 ** 2), 6)
    # the poisoned vector was excluded at entry, never stored
    stored = {r["vec_id"] for r in
              spark.read.option("recursiveFileLookup", "true")
              .parquet(f"{store}/vectors").collect()}
    assert stored == {1, 2, 3, 4, 5}


def test_stream_cascade_ingest_three_tiers_accumulate(spark, tmp_path):
    """The continuous three-tier cascade: batch-2 docs classify against
    batch-1 state (exact copy -> exact, truncation -> near_dup,
    reversed text + nudged embedding -> semantic, fresh doc -> kept),
    and batch-3 classifies against the ACCUMULATED state (an exact copy
    of batch-2's fresh doc is caught with that doc as partner). The
    classify core is the same cascade_classify the certified batch key
    runs, so this pins the streaming plumbing: store appends,
    first-batch kept semantics, per-batch verdict parquet."""
    import json as jsonlib
    import random

    from airline_data_warehouse_spark.streaming.dedup import (
        start_cascade_ingest,
    )

    rng = random.Random(13)
    words = ["apple", "borough", "crystal", "dynamo", "ember", "falcon",
             "granite", "harbor", "indigo", "jasmine", "kestrel", "lantern"]

    def doc(i):
        toks = rng.sample(words, 10) + [f"u{i}x{j}" for j in range(12)]
        rng.shuffle(toks)
        return " ".join(toks)

    def emb():
        return [rng.uniform(-1, 1) for _ in range(64)]

    texts = {i: doc(i) for i in range(3)}
    vecs = {i: emb() for i in range(3)}
    pert0 = [vecs[0][0] + 0.05] + vecs[0][1:]
    neg = lambda v: [-x for x in v]

    b1 = [(i, texts[i], vecs[i]) for i in range(3)]
    b2 = [(10, texts[0], neg(vecs[0])),                       # exact of 0
          (11, texts[1][:int(len(texts[1]) * 0.9)], neg(vecs[1])),  # near 1
          (12, " ".join(reversed(texts[0].split(" "))), pert0),     # sem 0
          (13, doc(99), neg(emb()))]                          # fresh: kept
    b3 = [(20, doc(99 + 0), neg(emb())),  # fresh again (new rng draw)
          (21, b2[3][1], neg(emb()))]     # exact copy of batch-2 doc 13

    in_dir = tmp_path / "casc_in"
    in_dir.mkdir()
    store = str(tmp_path / "casc_store")
    src = (spark.readStream
           .schema("doc_id long, text string, embedding array<double>")
           .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    q = start_cascade_ingest(src, store,
                             checkpoint_dir=str(tmp_path / "casc_ckpt"))
    try:
        for i, batch in enumerate([b1, b2, b3]):
            drop_file(in_dir, f"b{i}.json", "".join(
                jsonlib.dumps(
                    {"doc_id": d, "text": tx_, "embedding": v}) + "\n"
                for d, tx_, v in batch))
            q.processAllAvailable()
    finally:
        q.stop()

    out = {r["doc_id"]: (r["verdict"], r["partner_id"], r["batch_id"])
           for r in spark.read.parquet(f"{store}/verdicts").collect()}
    for i in range(3):                       # first batch: empty corpus
        assert out[i] == ("kept", None, 0)
    assert out[10] == ("exact", 0, 1)
    assert out[11] == ("near_dup", 1, 1)
    assert out[12] == ("semantic", 0, 1)
    assert out[13] == ("kept", None, 1)
    assert out[21] == ("exact", 13, 2)       # batch-2 state accumulated
    assert out[20][0] == "kept"
    assert len(out) == 9


def test_stream_cascade_ingest_continues_batch_built_store(spark, tmp_path):
    """A nightly batch build and a live stream hand state to each other
    through one store: a stream started on a `cascade_store_build`
    store classifies against it. The build writes no ``batch_id``; the
    stream reads such rows as batch -1, before its own batch 0 (read as
    null they failed the ``batch_id < current`` filter and the whole
    built corpus was ignored — every doc came out ``kept``). Doc 1
    re-sent under id 1001 is ``exact`` with keeper 1, the verdict the
    batch `incremental_cascade` gives on the same store."""
    import json as jsonlib
    import random

    from airline_data_warehouse_spark.operators.dedup import (
        cascade_store_build,
        incremental_cascade,
    )
    from airline_data_warehouse_spark.streaming.dedup import (
        start_cascade_ingest,
    )

    rng = random.Random(40)
    words = [f"tok{i}" for i in range(200)]
    corpus = [(i, " ".join(rng.choice(words) for _ in range(30)),
               [rng.uniform(-1, 1) for _ in range(64)])
              for i in range(1, 21)]
    store = str(tmp_path / "built_store")
    cascade_store_build(
        spark.createDataFrame([(i, t) for i, t, _ in corpus],
                              "doc_id long, text string"),
        spark.createDataFrame([(i, v) for i, _, v in corpus],
                              "vec_id long, embedding array<double>"),
        store)
    _, text1, vec1 = corpus[0]
    batch = incremental_cascade(
        spark, store,
        spark.createDataFrame([(1001, text1)], "doc_id long, text string"),
        spark.createDataFrame([(1001, vec1)],
                              "vec_id long, embedding array<double>"))
    assert [tuple(r) for r in batch.collect()] == [(1001, "exact", 1)]

    in_dir = tmp_path / "handoff_in"
    in_dir.mkdir()
    src = (spark.readStream
           .schema("doc_id long, text string, embedding array<double>")
           .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    q = start_cascade_ingest(src, store,
                             checkpoint_dir=str(tmp_path / "handoff_ckpt"))
    try:
        drop_file(in_dir, "b0.json", jsonlib.dumps(
            {"doc_id": 1001, "text": text1, "embedding": vec1}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    out = [(r["doc_id"], r["verdict"], r["partner_id"], r["batch_id"])
           for r in spark.read.parquet(f"{store}/verdicts").collect()]
    assert out == [(1001, "exact", 1, 0)]


def test_stream_retention_collects_batch_built_store_files(
        spark, tmp_path, monkeypatch):
    """A stream continuing a `cascade_store_build` store reads the
    build's rows as batch -1, so once the retention horizon reaches -1
    the tiered compaction deletes the build's root-level part files, as
    it deletes a tier wholly below the horizon. Before, they stayed
    forever. With ``retention_batches=2`` batches 0 and 1 still see the
    build (doc 1 re-sent as 1001 is ``exact``/1) and the compaction at
    batch 2 collects it; the verdicts equal a run whose compaction never lists
    the root files (the old behaviour), which keeps them."""
    import glob
    import json as jsonlib
    import random

    from airline_data_warehouse_spark.operators.dedup import (
        _CASCADE_STORES,
        cascade_store_build,
    )
    from airline_data_warehouse_spark.streaming import dedup as sd

    rng = random.Random(41)
    words = [f"tok{i}" for i in range(200)]
    corpus = [(i, " ".join(rng.choice(words) for _ in range(30)),
               [rng.uniform(-1, 1) for _ in range(64)])
              for i in range(1, 11)]
    sends = [(1001, corpus[0]), (1002, corpus[0]), (1003, corpus[1])]

    def run(name: str) -> tuple[list, dict]:
        store = str(tmp_path / name)
        cascade_store_build(
            spark.createDataFrame([(i, t) for i, t, _ in corpus],
                                  "doc_id long, text string"),
            spark.createDataFrame([(i, v) for i, _, v in corpus],
                                  "vec_id long, embedding array<double>"),
            store)
        in_dir = tmp_path / f"{name}_in"
        in_dir.mkdir()
        src = (spark.readStream
               .schema("doc_id long, text string, embedding array<double>")
               .option("maxFilesPerTrigger", 1).json(str(in_dir)))
        q = sd.start_cascade_ingest(src, store,
                                    checkpoint_dir=str(tmp_path / f"{name}_ck"),
                                    retention_batches=2, compact_every=1)
        try:
            for i, (doc_id, (_, text, vec)) in enumerate(sends):
                drop_file(in_dir, f"b{i}.json", jsonlib.dumps(
                    {"doc_id": doc_id, "text": text, "embedding": vec}) + "\n")
                q.processAllAvailable()
        finally:
            q.stop()
        verdicts = sorted(
            (r["doc_id"], r["verdict"], r["partner_id"], r["batch_id"])
            for r in spark.read.parquet(f"{store}/verdicts").collect())
        return verdicts, {d: glob.glob(f"{store}/{d}/*.parquet")
                          for d in _CASCADE_STORES}

    fixed, fixed_files = run("fixed")
    assert fixed[0] == (1001, "exact", 1, 0)
    assert fixed_files == {d: [] for d in _CASCADE_STORES}

    real = sd._tier_list
    monkeypatch.setattr(sd, "_tier_list",
                        lambda spark_, path: (*real(spark_, path)[:5], []))
    unfixed, unfixed_files = run("unfixed")
    assert fixed == unfixed
    assert all(unfixed_files[d] for d in _CASCADE_STORES)


def _run_ingests(spark, root, ingests: dict, batches: list) -> None:
    """Run every ``name -> (start, schema, rows_of)`` ingest at once on
    this session, one input file per batch; ``rows_of(batch)`` gives a
    batch's JSON rows. Each ingest's store lands in ``root/name``."""
    import json as jsonlib

    queries = {}
    try:
        for name, (start, schema, _) in ingests.items():
            (root / f"{name}_in").mkdir(parents=True)
            src = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", 1)
                   .json(str(root / f"{name}_in")))
            queries[name] = start(src, str(root / name),
                                  checkpoint_dir=str(root / f"{name}_ck"),
                                  compact_every=1)
        for i, batch in enumerate(batches):
            for name, (_, _, rows_of) in ingests.items():
                drop_file(root / f"{name}_in", f"b{i}.json", "".join(
                    jsonlib.dumps(r) + "\n" for r in rows_of(batch)))
            for q in queries.values():
                q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()


def _store_rows(spark, store_dir) -> dict:
    """Distinct rows of every dir of a store (tiered or flat)."""
    import os

    return {name: sorted(map(str, spark.read
                             .option("recursiveFileLookup", "true")
                             .parquet(os.path.join(store_dir, name))
                             .distinct().collect()))
            for name in sorted(os.listdir(store_dir))}


def test_two_concurrent_dedup_ingests_match_solo_runs(spark, tmp_path):
    """Two dedup ingests running at once on one session (each micro-
    batch runs a thread pool of appends inside its own cache_scope)
    leave every store dir exactly as a solo run does: neither stream's
    scope releases the other's caches, and neither's appends or
    compactions land in the other's store."""
    import random

    from airline_data_warehouse_spark.streaming.dedup import (
        start_exact_substring_ingest,
        start_neardup_ingest,
    )

    rng = random.Random(6)
    words = [f"w{i}" for i in range(40)]
    first = [" ".join(rng.choice(words) for _ in range(30))
             for _ in range(4)]
    batches = [list(enumerate(first, 1)),
               [(5, first[0]), (6, first[1][:int(len(first[1]) * 0.9)]),
                (7, " ".join(rng.choice(words) for _ in range(30)))]]

    def text_rows(batch):
        return [{"doc_id": d, "text": t} for d, t in batch]

    def es_start(src, store, **kw):
        return start_exact_substring_ingest(src, store, k=4, min_tokens=8,
                                            **kw)

    schema = "doc_id long, text string"
    ingests = {"neardup": (start_neardup_ingest, schema, text_rows),
               "es": (es_start, schema, text_rows)}
    for name, ingest in ingests.items():
        _run_ingests(spark, tmp_path / "solo", {name: ingest}, batches)
    _run_ingests(spark, tmp_path / "both", ingests, batches)
    for name in ingests:
        solo = _store_rows(spark, tmp_path / "solo" / name)
        assert solo == _store_rows(spark, tmp_path / "both" / name), name
    solo_pairs = _store_rows(spark, tmp_path / "solo" / "neardup")["pairs"]
    assert any("inc_id=5, corpus_id=1" in r for r in solo_pairs)
    assert _store_rows(spark, tmp_path / "solo" / "es")["spans"]


def test_stream_cascade_batch0_crash_between_appends_recovers(spark, tmp_path):
    """ADVICE r08 (medium): any subset of batch 0's five store appends
    may land before a crash, so a crash after the `hashes` append
    strands the siblings missing
    while the old single-dir probe reported the store present — every
    retry then died on the missing-path parquet read, permanently
    wedging the stream. Pin the fix: replay batch 0 against a store
    holding ONLY its own crashed-attempt `hashes` rows and assert
    (a) the retry runs instead of wedging, (b) no doc is classified as
    a duplicate of its own partial appends (batch_id >= current is
    excluded by _read_store), and (c) the accumulated state still
    catches a batch-1 exact dup."""
    import json as jsonlib
    import shutil

    from airline_data_warehouse_spark.streaming.dedup import (
        start_cascade_ingest,
    )

    in_dir = tmp_path / "crash_in"
    in_dir.mkdir()
    store = tmp_path / "crash_store"
    docs = [(1, "alpha beta gamma delta epsilon zeta eta theta", 0.3),
            (2, "iota kappa lambda mu nu xi omicron pi rho", -0.7)]

    def write_batch(name, rows):
        drop_file(in_dir, name, "".join(
            jsonlib.dumps({"doc_id": d, "text": tx,
                           "embedding": [seed + 0.01 * k for k in range(16)]})
            + "\n" for d, tx, seed in rows))

    write_batch("b0.json", docs)
    src = (spark.readStream
           .schema("doc_id long, text string, embedding array<double>")
           .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    # attempt 1: full batch 0, then simulate the crash having happened
    # right after the hashes append — siblings vanish, checkpoint is
    # lost, so the SAME rows replay as batch 0 against their own hashes
    q = start_cascade_ingest(src, str(store),
                             checkpoint_dir=str(tmp_path / "ckpt1"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    for sibling in ("bands", "shingles", "emb_bands", "vectors",
                    "verdicts"):
        shutil.rmtree(store / sibling)

    q = start_cascade_ingest(src, str(store),
                             checkpoint_dir=str(tmp_path / "ckpt2"))
    try:
        q.processAllAvailable()          # the retry — wedged pre-fix
        write_batch("b1.json", [(10, docs[0][1], 0.9)])   # exact of doc 1
        q.processAllAvailable()
    finally:
        q.stop()

    out = {r["doc_id"]: (r["verdict"], r["partner_id"])
           for r in spark.read.parquet(f"{store}/verdicts").collect()}
    assert out[1] == ("kept", None)      # NOT an exact-dup of itself
    assert out[2] == ("kept", None)
    assert out[10] == ("exact", 1)       # post-recovery state accumulates


def test_stream_semantic_batch0_crash_between_appends_recovers(spark, tmp_path):
    """Same ADVICE r08 scenario for the semantic twin: emb_bands lands
    before vectors, so a crash between them plus a lost checkpoint made
    every batch-0 retry fail reading the missing vectors dir. The retry
    must classify with the stranded sibling as empty, flag nothing
    against its own crashed-attempt bands, and still catch a batch-1
    near-dup."""
    import json as jsonlib
    import shutil

    from airline_data_warehouse_spark.streaming.dedup import (
        start_semantic_ingest,
    )

    in_dir = tmp_path / "sem_crash_in"
    in_dir.mkdir()
    store = tmp_path / "sem_crash_store"
    base = [0.9, -0.4, 0.2, 0.8, -0.6, 0.1, 0.5, -0.3]

    def write_batch(name, rows):
        drop_file(in_dir, name, "".join(
            jsonlib.dumps(
                {"vec_id": vid, "embedding": vec}) + "\n"
            for vid, vec in rows))

    write_batch("b0.json", [(1, base), (2, [-x for x in base])])
    src = (spark.readStream.schema("vec_id long, embedding array<double>")
           .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    q = start_semantic_ingest(src, str(store),
                              checkpoint_dir=str(tmp_path / "ckpt1"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    shutil.rmtree(store / "vectors")     # crash after emb_bands append

    q = start_semantic_ingest(src, str(store),
                              checkpoint_dir=str(tmp_path / "ckpt2"))
    try:
        q.processAllAvailable()          # the retry — wedged pre-fix
        write_batch("b1.json", [(10, [x * 1.001 for x in base])])
        q.processAllAvailable()
    finally:
        q.stop()

    pairs = {(r["inc_id"], r["corpus_id"])
             for r in spark.read.parquet(f"{store}/pairs").collect()}
    assert (1, 1) not in pairs and (2, 2) not in pairs
    assert (10, 1) in pairs              # state survived the recovery


def test_stream_index_ingest_appends_and_logs_drift(spark, tmp_path):
    """Continuous embedding-index maintenance (streaming/index.py):
    micro-batches of new vectors are frozen-quantizer appended into a
    persisted IVFADC index — codes AND raw vectors land in their list
    partitions, a drift row per batch lands in append_log, an appended
    exact duplicate is queryable through the re-rank path, and an
    out-of-distribution batch flips retrain_recommended in the log
    (the offline-rebuild signal). A stream aimed at a MISSING index
    fails its batch loudly instead of inventing quantizers."""
    import json as jsonlib
    import random

    from pyspark.sql import functions as F

    from airline_data_warehouse_spark.operators import similarity as sim
    from airline_data_warehouse_spark.streaming.index import (
        append_log,
        start_index_ingest,
    )

    def n_rdds() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    rng = random.Random(31)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    corpus = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivfpq")
    base = n_rdds()
    sim.ivfpq_index_build(corpus, idx, n_lists=4, m=2, codes_k=4,
                          iters=2, dims=8)
    assert n_rdds() <= base          # the build releases what it cached

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_batch(name, batch_rows):
        drop_file(in_dir, name, "".join(
            jsonlib.dumps({"vec_id": vid,
                           "embedding": vec}) + "\n"
            for vid, vec in batch_rows))

    write_batch("b0.json", [(100, list(rows[5][1]))])      # exact dup
    write_batch("b1.json", [(101 + i,
                             [v * 0.9 for v in rows[i][1]])
                            for i in range(3)])            # in-dist
    write_batch("b2.json", [(300 + i,
                             [rng.uniform(-1, 1) * 40 for _ in range(8)])
                            for i in range(2)])            # drifted

    src = (spark.readStream.schema("vec_id long, embedding array<double>")
           .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    q = start_index_ingest(src, idx, checkpoint_dir=str(tmp_path / "ckpt"),
                           m=2, dims=8)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert n_rdds() <= base          # each micro-batch released its caches

    codes = read_table(spark, f"{idx}/codes.parquet")
    assert codes.select("vec_id").distinct().count() == 30 + 6
    log = sorted(((r["appended"], r["retrain_recommended"]) for r in
                  append_log(spark, idx).collect()))
    # file-to-batch ORDER is the source's choice — assert the multiset:
    # the 1-doc dup batch and 3-doc in-dist batch don't flag, the 2-doc
    # out-of-distribution batch does
    assert log == [(1, False), (2, True), (3, False)]

    # the duplicate appended by the STREAM answers through the re-rank
    top = sim.ivfpq_index_topk_rerank(
        spark, idx, corpus.filter(F.col("vec_id") == 5), k=3,
        shortlist=40, n_probe=4, m=2, dims=8).collect()
    best = min(top, key=lambda r: r["rank"])
    assert best["neighbor_id"] == 100 and best["d2"] == 0.0

    # missing index → the first batch raises (no silent quantizer
    # invention); the stream surfaces it as a query failure
    import pyspark.errors
    src2 = (spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    q2 = start_index_ingest(src2, str(tmp_path / "missing_idx"),
                            checkpoint_dir=str(tmp_path / "ckpt2"),
                            m=2, dims=8)
    try:
        import pytest as _pytest
        with _pytest.raises(Exception):
            q2.processAllAvailable()
    finally:
        q2.stop()


def test_stream_countmin_ingest_exact_merge_and_fold(spark, tmp_path):
    """Continuous Count-Min maintenance (streaming/sketch.py): the
    store's merged sketch after N micro-batches equals countmin_build
    over the union of all batch tokens EXACTLY (linear-sketch merge);
    folding collapses batch partitions into the watermarked base with
    estimates unchanged; a replayed (re-created) batch partition AT or
    BELOW the watermark is ignored by the read path — the
    double-counting retry hazard the watermark rule exists for."""
    import json as jsonlib
    import os

    from pyspark.sql import functions as F

    from airline_data_warehouse_spark.operators import sketches as sk
    from airline_data_warehouse_spark.streaming.sketch import (
        fold_countmin_store,
        read_countmin_store,
        start_countmin_ingest,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    store = str(tmp_path / "cms_store")
    batches = [["alpha", "beta", "alpha"],
               ["beta", "gamma"],
               ["alpha", "delta", "delta", "beta"]]
    for i, toks in enumerate(batches):
        drop_file(in_dir, f"b{i}.json", "".join(
            jsonlib.dumps({"token": t}) + "\n"
            for t in toks))

    src = (spark.readStream.schema("token string")
           .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    q = start_countmin_ingest(src, store,
                              checkpoint_dir=str(tmp_path / "ckpt"),
                              fold_every=None)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    all_tokens = spark.createDataFrame(
        [(t,) for b in batches for t in b], "token string")
    want = {(r["row"], r["bucket"]): r["counter"]
            for r in sk.countmin_build(all_tokens).collect()}
    got = {(r["row"], r["bucket"]): r["counter"]
           for r in read_countmin_store(spark, store).collect()}
    assert got == want

    # fold: base absorbs every batch partition, estimates unchanged
    mark = fold_countmin_store(spark, store)
    assert mark == 2
    assert os.path.exists(f"{store}/base")
    assert not any(d.startswith("batch_id=")
                   for d in os.listdir(f"{store}/batches"))
    got2 = {(r["row"], r["bucket"]): r["counter"]
            for r in read_countmin_store(spark, store).collect()}
    assert got2 == want

    # a retry re-creating an already-folded batch partition must be
    # IGNORED (watermark rule): re-write batch 1's sketch verbatim
    b1 = spark.createDataFrame([(t,) for t in batches[1]], "token string")
    (sk.countmin_build(b1).coalesce(1).write.mode("overwrite")
     .parquet(f"{store}/batches/batch_id=1"))
    got3 = {(r["row"], r["bucket"]): r["counter"]
            for r in read_countmin_store(spark, store).collect()}
    assert got3 == want
    # and the next fold sweeps the garbage without re-counting it
    assert fold_countmin_store(spark, store) == 2
    got4 = {(r["row"], r["bucket"]): r["counter"]
            for r in read_countmin_store(spark, store).collect()}
    assert got4 == want

    probes = spark.createDataFrame(
        [("alpha",), ("delta",), ("nope",)], "token string")
    est = {r["token"]: r["est_count"] for r in
           sk.countmin_estimate(read_countmin_store(spark, store),
                                probes).collect()}
    assert est["alpha"] >= 3 and est["delta"] >= 2 and est["nope"] == 0


def test_stream_qdigest_store_equals_batch_build(spark, tmp_path):
    """Streaming q-digest leaf store (streaming/sketch.py): the store
    keeps the LINEAR leaf-count state, so after any batch split the
    accumulated leaves equal the batch leaf counts of all streamed
    rows EXACTLY, the read-time compression is bit-identical to
    qdigest_build over the same rows, folding changes nothing, and a
    replayed at/below-watermark partition is ignored (the CMS
    watermark rule, transferred)."""
    import json as jsonlib
    import os
    import random

    from pyspark.sql import functions as F

    from airline_data_warehouse_spark.operators import sketches as sk
    from airline_data_warehouse_spark.streaming.sketch import (
        fold_qdigest_store,
        qdigest_store_quantiles,
        read_qdigest_leaves,
        start_qdigest_ingest,
    )

    rng = random.Random(61)
    batches = [[rng.randrange(0, 100_000) for _ in range(400)]
               for _ in range(3)]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, vs in enumerate(batches):
        drop_file(in_dir, f"b{i}.json", "".join(
            jsonlib.dumps({"v": v}) + "\n"
            for v in vs))
    store = str(tmp_path / "qd_store")
    src = (spark.readStream.schema("v long")
           .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    q = start_qdigest_ingest(src, store,
                             checkpoint_dir=str(tmp_path / "ckpt"),
                             fold_every=None)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    all_vals = [v for b in batches for v in b]
    from collections import Counter
    want_leaves = dict(Counter(all_vals))
    got_leaves = {r["id"]: r["cnt"] for r in
                  read_qdigest_leaves(spark, store).collect()}
    assert got_leaves == want_leaves

    # read-time compression ≡ the batch build over the same rows
    df = spark.createDataFrame([(v,) for v in all_vals], "v long")
    want_q = {r["pct"]: (r["rnk"], r["est_value"]) for r in
              sk.qdigest_quantiles(sk.qdigest_build(df, "v"),
                                   len(all_vals)).collect()}
    got_q = {r["pct"]: (r["rnk"], r["est_value"]) for r in
             qdigest_store_quantiles(spark, store).collect()}
    assert got_q == want_q

    # fold collapses partitions, state unchanged; a replayed folded
    # partition is ignored by the watermark rule
    assert fold_qdigest_store(spark, store) == 2
    assert not any(d.startswith("batch_id=")
                   for d in os.listdir(f"{store}/batches"))
    assert {r["id"]: r["cnt"] for r in
            read_qdigest_leaves(spark, store).collect()} == want_leaves
    b1 = spark.createDataFrame([(v,) for v in batches[1]], "v long")
    (b1.groupBy(F.col("v").alias("id"))
     .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
     .coalesce(1).write.mode("overwrite")
     .parquet(f"{store}/batches/batch_id=1"))
    assert {r["id"]: r["cnt"] for r in
            read_qdigest_leaves(spark, store).collect()} == want_leaves

    # empty store: 0-row quantile frame, not a crash
    empty = qdigest_store_quantiles(spark, str(tmp_path / "nope"))
    assert empty.count() == 0


def test_append_log_deduplicates_replayed_rows(spark, tmp_path):
    """append_log: a foreachBatch replay appends a bit-identical row
    for the same batch_id (the drift stats are deterministic functions
    of the replayed batch) — the read must de-duplicate so a retrain
    scheduler summing 'appended' never double-counts."""
    from airline_data_warehouse_spark.streaming.index import append_log

    idx = str(tmp_path / "idx")
    schema = ("batch_id long, appended long, mean_d2 double, "
              "baseline_mean_d2 double, retrain_recommended boolean")
    # original + bit-identical replay + a replay whose 6-dp-rounded
    # mean_d2 flipped its last digit (different partition sum order) —
    # the key-based dedup must still collapse all three to one row
    # (ADVICE r13-low: full-row distinct() kept the jittered twin)
    rows = [(0, 5, 0.1, 0.1, False),
            (0, 5, 0.1, 0.1, False),
            (0, 5, 0.100001, 0.1, False)]
    for row in rows:
        at._commit(spark, f"{idx}/append_log",
                   spark.createDataFrame([row], schema).coalesce(1),
                   mode="append")
    got = append_log(spark, idx).collect()
    assert len(got) == 1 and got[0]["appended"] == 5
    assert got[0]["mean_d2"] == 0.100001   # deterministic max, not any()


def test_stream_qdigest_universe_guards(spark, tmp_path):
    """The streaming path enforces qdigest_build's universe guard at
    BOTH seams: an out-of-domain value fails the streaming query
    (never poisons the store), and a store written outside the guard
    raises at read time instead of compressing out-of-domain ids into
    silently wrong quantiles."""
    import json as jsonlib

    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql import utils as sparkutils  # noqa: F401

    from airline_data_warehouse_spark.streaming.sketch import (
        qdigest_store_quantiles,
        start_qdigest_ingest,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    with open(in_dir / "b0.json", "w") as f:
        f.write(jsonlib.dumps({"v": 5}) + "\n")
        f.write(jsonlib.dumps({"v": 1 << 20}) + "\n")   # out of domain
    store = str(tmp_path / "qd_bad")
    src = spark.readStream.schema("v long").json(str(in_dir))
    q = start_qdigest_ingest(src, store,
                             checkpoint_dir=str(tmp_path / "ck"))
    with pytest.raises(Exception, match="outside the universe"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    # ... and the store was never written
    import os
    assert not os.path.exists(f"{store}/batches") or not any(
        d.startswith("batch_id=") for d in os.listdir(f"{store}/batches"))

    # a store poisoned OUT-OF-BAND (older code / manual write) raises
    # at read time
    poisoned = str(tmp_path / "qd_poisoned")
    (spark.createDataFrame([(-3, 1), (5, 2)], "id long, cnt long")
     .withColumn("batch_id", F.lit(0).cast("long"))
     .write.partitionBy("batch_id").parquet(f"{poisoned}/batches"))
    with pytest.raises(ValueError, match="outside the universe"):
        qdigest_store_quantiles(spark, poisoned)


def test_stream_index_ingest_with_tombstones(spark, tmp_path):
    """CDC/takedown stream into the persisted index (delete_col):
    tombstoned ids are removed via ivfpq_index_delete, adds append as
    usual, and a batch carrying add(x) AND delete(x) nets to absent
    (delete applies after append within the batch). Final index =
    initial ∪ adds ∖ tombstones, and a deleted id never answers."""
    import json as jsonlib
    import random

    from pyspark.sql import functions as F

    from airline_data_warehouse_spark.operators import similarity as sim
    from airline_data_warehouse_spark.streaming.index import (
        start_index_ingest,
    )

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    corpus = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivfpq_cdc")
    sim.ivfpq_index_build(corpus, idx, n_lists=2, m=2, codes_k=4,
                          iters=2, dims=8)

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def write_batch(name, batch):
        drop_file(in_dir, name, "".join(
            jsonlib.dumps({"vec_id": vid, "embedding": vec,
                           "deleted": dead}) + "\n"
            for vid, vec, dead in batch))

    # batches are mutually independent (no id appears in two batches):
    # file-to-batch ORDER is the source's choice, so cross-batch
    # add-then-delete sequences would be order-dependent
    v = [rng.uniform(-1, 1) for _ in range(8)]
    write_batch("b0.json", [(100, list(rows[3][1]), False),
                            (101, v, False)])
    # mixed batch: one add, one tombstone for a BASE id
    write_batch("b1.json", [(102, list(rows[8][1]), False),
                            (5, None, True)])
    # add-then-delete of the SAME id in one batch nets to absent,
    # plus a second base-id tombstone
    write_batch("b2.json", [(200, v, False), (200, None, True),
                            (7, None, True)])

    src = (spark.readStream
           .schema("vec_id long, embedding array<double>, deleted boolean")
           .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    q = start_index_ingest(src, idx, checkpoint_dir=str(tmp_path / "ck"),
                           m=2, dims=8, delete_col="deleted")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ids = {r["vec_id"] for r in
           read_table(spark, f"{idx}/codes.parquet")
           .select("vec_id").distinct().collect()}
    want = (set(range(30)) - {5, 7, 200}) | {100, 101, 102}
    # 5 and 7 were base ids tombstoned mid-stream; 200 was
    # added+tombstoned in the SAME batch (nets to absent)
    assert ids == want
    hits = sim.ivfpq_index_topk(
        spark, idx, corpus.filter(F.col("vec_id") < 3), k=29,
        n_probe=2, m=2, dims=8)
    assert hits.filter(F.col("neighbor_id").isin([5, 7, 200])) \
               .count() == 0


def test_stream_index_ingest_ordered_cdc_last_event_wins(spark, tmp_path):
    """order_col (ADVICE r12-medium): with an event-order column, each
    micro-batch reduces to the LAST event per id before the insert /
    tombstone split — so delete(x) → re-insert(x) in ONE batch nets to
    PRESENT with the re-inserted vector (the legacy delete-after-append
    path would net it absent), add(y) → delete(y) still nets absent,
    an order_col tie resolves toward the tombstone, and order_col
    without delete_col raises."""
    import json as jsonlib
    import random

    import pytest
    from pyspark.sql import functions as F

    from airline_data_warehouse_spark.operators import similarity as sim
    from airline_data_warehouse_spark.streaming.index import (
        start_index_ingest,
    )

    rng = random.Random(17)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    corpus = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivfpq_ordered")
    sim.ivfpq_index_build(corpus, idx, n_lists=2, m=2, codes_k=4,
                          iters=2, dims=8)

    v_new = [rng.uniform(-1, 1) for _ in range(8)]
    batch = [
        # ordered CDC on base id 5: tombstone at seq 10, re-insert at
        # seq 11 — last event wins, so 5 survives with v_new
        {"vec_id": 5, "embedding": None, "deleted": True, "seq": 10},
        {"vec_id": 5, "embedding": v_new, "deleted": False, "seq": 11},
        # add then delete on a NEW id: nets to absent
        {"vec_id": 200, "embedding": v_new, "deleted": False, "seq": 12},
        {"vec_id": 200, "embedding": None, "deleted": True, "seq": 13},
        # tie on seq for base id 7: tombstone wins the dead heat
        {"vec_id": 7, "embedding": v_new, "deleted": False, "seq": 20},
        {"vec_id": 7, "embedding": None, "deleted": True, "seq": 20},
        # plain add
        {"vec_id": 300, "embedding": v_new, "deleted": False, "seq": 30},
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    with open(in_dir / "b0.json", "w") as f:
        for r in batch:
            f.write(jsonlib.dumps(r) + "\n")

    src = (spark.readStream
           .schema("vec_id long, embedding array<double>, "
                   "deleted boolean, seq long")
           .json(str(in_dir)))
    q = start_index_ingest(src, idx, checkpoint_dir=str(tmp_path / "ck"),
                           m=2, dims=8, delete_col="deleted",
                           order_col="seq")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ids = {r["vec_id"] for r in
           read_table(spark, f"{idx}/codes.parquet")
           .select("vec_id").distinct().collect()}
    assert ids == (set(range(30)) - {7}) | {300}
    # id 5 must carry the RE-INSERTED vector's code, not the original's:
    # its frozen-quantizer code must equal a fresh encode of v_new
    fresh = str(tmp_path / "fresh_probe")
    sim.ivfpq_index_build(corpus, fresh, n_lists=2, m=2, codes_k=4,
                          iters=2, dims=8)
    probe = spark.createDataFrame([(5, v_new)],
                                  "vec_id long, embedding array<double>")
    sim.ivfpq_index_delete(spark, fresh,
                           probe.select("vec_id"), id_col="vec_id")
    sim.ivfpq_index_append(spark, fresh, probe, m=2, dims=8)
    want_code = (read_table(spark, f"{fresh}/codes.parquet")
                 .filter(F.col("vec_id") == 5).collect())
    got_code = (read_table(spark, f"{idx}/codes.parquet")
                .filter(F.col("vec_id") == 5).collect())
    key = lambda r: (r["sub"], r["code"], r["list_id"])  # noqa: E731
    assert sorted(map(key, got_code)) == sorted(map(key, want_code))
    assert len(want_code) == 2  # m=2 subcodes — the probe saw data

    with pytest.raises(ValueError, match="order_col requires delete_col"):
        start_index_ingest(src, idx, m=2, dims=8, order_col="seq")


def test_replace_directory_crash_windows(spark, tmp_path):
    """sources/atomic.replace_directory crash contract: a replace that
    crashed after writing its data but before its manifest leaves an
    orphan commit directory the table never shows — it reads its
    previous version — and the next commit's expire deletes the orphan;
    a completed replace reads the new content."""
    import os

    from airline_data_warehouse_spark.sources.atomic import (
        replace_directory,
    )

    dest = str(tmp_path / "state")
    v1 = spark.createDataFrame([(1, 10)], "k long, v long")
    v2 = spark.createDataFrame([(2, 20)], "k long, v long")
    replace_directory(spark, v1, dest)
    assert [tuple(r) for r in read_table(spark, dest).collect()] \
        == [(1, 10)]

    orphan = os.path.join(dest, "commit=00002")
    spark.createDataFrame([(9, 90)], "k long, v long").write.parquet(orphan)
    assert [tuple(r) for r in read_table(spark, dest).collect()] \
        == [(1, 10)]

    replace_directory(spark, v2, dest)
    assert [tuple(r) for r in read_table(spark, dest).collect()] \
        == [(2, 20)]
    assert not os.path.exists(orphan)


def test_managed_tables_read_each_row_once(spark, tmp_path):
    """Every table sources/atomic.py manages keeps a rewritten
    version's files for the retention window; its public reader still
    returns each row exactly once, where a reader listing the
    directory counts the retained copies again."""
    import random

    from airline_data_warehouse_spark.operators import similarity as sim
    from airline_data_warehouse_spark.operators import sketches as sk
    from airline_data_warehouse_spark.streaming import sketch as sks
    from airline_data_warehouse_spark.streaming.index import append_log
    from airline_data_warehouse_spark.warehouse import Warehouse

    def once(root, public, want):
        assert public.count() == want, root
        assert spark.read.parquet(root).count() > want, root

    # the fact: an upsert rewrites its month
    wh = Warehouse(str(tmp_path / "wh"))
    cols = "transaction_id string, date_key int, flight_key string"
    wh.write_fact_sales(spark.createDataFrame(
        [("T1", 20230601, "AA1"), ("T2", 20230602, "AA1")], cols))
    wh.upsert_fact_incremental(
        spark, spark.createDataFrame([("T3", 20230603, "AA1")], cols))
    once(wh.path("fact_sales"), wh.table(spark, "fact_sales"), 3)

    # the IVF-PQ codes and vectors: an append rewrites its lists, a
    # compaction rewrites the drift log
    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)]
    schema = "vec_id long, embedding array<double>"
    idx = str(tmp_path / "idx")
    sim.ivfpq_index_build(spark.createDataFrame(rows, schema), idx,
                          n_lists=2, m=2, codes_k=4, iters=1, dims=8)
    sim.ivfpq_index_append(spark, idx, spark.createDataFrame(
        [(100, rows[3][1])], schema), m=2, dims=8)
    once(f"{idx}/codes.parquet",
         read_table(spark, f"{idx}/codes.parquet"), 21 * 2)
    once(f"{idx}/vectors.parquet",
         read_table(spark, f"{idx}/vectors.parquet"), 21)
    for b in range(3):
        at._commit(spark, f"{idx}/append_log", spark.createDataFrame(
            [(b, 1)], "batch_id long, appended long"), mode="append")
    assert at.compact_directory(spark, f"{idx}/append_log")
    once(f"{idx}/append_log", append_log(spark, idx), 3)

    # a linear sketch base: a second fold rewrites it
    store = str(tmp_path / "cms")
    for b, toks in enumerate([["a", "b"], ["b", "c"]]):
        (sk.countmin_build(spark.createDataFrame(
            [(t,) for t in toks], "token string"))
         .coalesce(1).write.mode("overwrite")
         .parquet(f"{store}/batches/batch_id={b}"))
        sks.fold_countmin_store(spark, store)
    cells = sks.read_countmin_store(spark, store).count()
    once(sks._base_dir(store), read_table(spark, sks._base_dir(store)),
         cells)

    # the Bloom bits: a compaction rewrites them
    bloom = str(tmp_path / "bloom")
    for h in (7, 8):
        at._commit(spark, f"{bloom}/bits", sk.bloom_build(
            spark.createDataFrame([(h,)], "sh long"), "sh", hashes=2,
            bits=64), mode="append")
    bits = sks.read_bloom_store(spark, bloom).count()
    at.replace_directory(spark, sks.read_bloom_store(spark, bloom),
                         f"{bloom}/bits")
    once(f"{bloom}/bits", read_table(spark, f"{bloom}/bits"), bits)


def test_stream_countmin_fold_every_triggers_in_loop(spark, tmp_path):
    """fold_every inside start_countmin_ingest: with 10 sequential
    micro-batches and fold_every=4, folds fire at batch 4 and 8 (inside
    the foreachBatch thread), so at stream end the base holds
    everything through batch 8 and at most batch 9's partition remains
    unfolded — and the merged sketch still equals the batch-built
    sketch over ALL tokens."""
    import json as jsonlib
    import os

    from airline_data_warehouse_spark.operators import sketches as sk
    from airline_data_warehouse_spark.streaming.sketch import (
        read_countmin_store,
        start_countmin_ingest,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    store = str(tmp_path / "cms_store")
    batches = [[f"tok{i}", f"tok{i % 3}"] for i in range(10)]
    for i, toks in enumerate(batches):
        drop_file(in_dir, f"b{i}.json", "".join(
            jsonlib.dumps({"token": t}) + "\n"
            for t in toks))

    src = (spark.readStream.schema("token string")
           .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    q = start_countmin_ingest(src, store,
                              checkpoint_dir=str(tmp_path / "ckpt"),
                              fold_every=4)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert os.path.exists(f"{store}/base")
    leftover = sorted(int(d.split("=")[1])
                      for d in os.listdir(f"{store}/batches")
                      if d.startswith("batch_id="))
    # folds at 4 and 8; a batch partition is deleted once the OLDEST
    # retained base version (watermark 4) has folded it
    assert [m["folded_through"] for m in
            at._history(spark, f"{store}/base")] == [4, 8]
    assert leftover == [5, 6, 7, 8, 9]
    all_tokens = spark.createDataFrame(
        [(t,) for b in batches for t in b], "token string")
    want = {(r["row"], r["bucket"]): r["counter"]
            for r in sk.countmin_build(all_tokens).collect()}
    got = {(r["row"], r["bucket"]): r["counter"]
           for r in read_countmin_store(spark, store).collect()}
    assert got == want


def test_stream_bloom_blocklist_accumulates_and_compacts(spark, tmp_path):
    """Streaming Bloom blocklist (streaming/sketch.py): members
    streamed across micro-batches all probe TRUE afterwards (set-union
    accumulation; idempotent under replay — a verbatim re-append
    changes nothing), compaction bounds the bits directory to one
    de-duplicated file with the bit set unchanged."""
    import json as jsonlib
    import os

    from airline_data_warehouse_spark.operators import sketches as sk
    from airline_data_warehouse_spark.streaming.sketch import (
        read_bloom_store,
        start_bloom_ingest,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    store = str(tmp_path / "bloom_store")
    members = list(range(1000, 1030))
    for i in range(3):
        drop_file(in_dir, f"b{i}.json", "".join(
            jsonlib.dumps({"sh": h}) + "\n"
            for h in members[i * 10:(i + 1) * 10]))

    src = (spark.readStream.schema("sh long")
           .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    q = start_bloom_ingest(src, store,
                           checkpoint_dir=str(tmp_path / "ckpt"),
                           hashes=4, bits=4096, compact_every=None)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    bloom = read_bloom_store(spark, store)
    probes = spark.createDataFrame([(h,) for h in members]
                                   + [(77,), (88,)], "sh long")
    got = {r["sh"]: r["might_contain"] for r in
           sk.bloom_probe(bloom, probes, "sh", hashes=4,
                          bits=4096).collect()}
    assert all(got[h] for h in members)       # no false negatives

    pre_bits = {r["bit"] for r in bloom.collect()}
    # simulated at-least-once replay: verbatim re-append of batch 0
    b0 = spark.createDataFrame([(h,) for h in members[:10]], "sh long")
    at._commit(spark, f"{store}/bits",
               sk.bloom_build(b0, "sh", hashes=4, bits=4096).coalesce(1),
               mode="append")
    assert {r["bit"] for r in
            read_bloom_store(spark, store).collect()} == pre_bits

    # compaction: one file, identical bit set
    from airline_data_warehouse_spark.sources.atomic import (
        replace_directory,
    )
    replace_directory(spark, read_bloom_store(spark, store),
                      f"{store}/bits")
    files = [f for u in at.manifest(spark, f"{store}/bits")["units"]
             for f in os.listdir(f"{store}/bits/{u}")
             if f.endswith(".parquet")]
    assert len(files) == 1
    assert {r["bit"] for r in
            read_bloom_store(spark, store).collect()} == pre_bits


def test_stream_qdigest_general_universe(spark, tmp_path):
    """The streaming q-digest store carries the general-universe plan
    (offset/levels fixed at stream start): date_key-magnitude values
    ingest, and the store read over the SAME plan is bit-identical to
    the batch build over the same rows — the shared-oracle property,
    now on a >2^20 domain."""
    import json as jsonlib

    import airline_data_warehouse_spark.operators.sketches as sk
    from airline_data_warehouse_spark.streaming.sketch import (
        qdigest_store_quantiles,
        start_qdigest_ingest,
    )

    vals = [19_920_101 + (i * i) % 60_000 for i in range(3000)]
    off, lv = sk.qdigest_plan(min(vals), max(vals))
    work = tmp_path / "work"
    for b in range(3):
        d = work / "in" / f"b{b}"
        d.mkdir(parents=True)
        with open(d / "data.json", "w") as fh:
            for v in vals[b::3]:
                fh.write(jsonlib.dumps({"v": v}) + "\n")
    src = (spark.readStream.schema("v long")
           .option("maxFilesPerTrigger", 1).json(f"{work}/in/*"))
    q = start_qdigest_ingest(src, f"{work}/store",
                             checkpoint_dir=f"{work}/ck",
                             fold_every=2, offset=off, levels=lv)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["pct"]: (r["rnk"], r["est_value"])
           for r in qdigest_store_quantiles(
               spark, f"{work}/store", offset=off, levels=lv).collect()}

    df = spark.createDataFrame([(v,) for v in vals], "v long")
    dig, boff, blv = sk.qdigest_build_auto(df, "v")
    assert (boff, blv) == (off, lv)
    want = {r["pct"]: (r["rnk"], r["est_value"])
            for r in sk.qdigest_quantiles(dig, len(vals),
                                          offset=off).collect()}
    assert got == want, "store read ≡ batch build on the raw domain"

    # a raw (unshifted) value outside the planned universe fails the
    # streaming query loudly instead of poisoning the store
    bad = work / "bad" / "b0"
    bad.mkdir(parents=True)
    with open(bad / "data.json", "w") as fh:
        fh.write(jsonlib.dumps({"v": 5}) + "\n")   # << offset
    src2 = (spark.readStream.schema("v long")
            .option("maxFilesPerTrigger", 1).json(f"{work}/bad/*"))
    q2 = start_qdigest_ingest(src2, f"{work}/store2",
                              checkpoint_dir=f"{work}/ck2",
                              offset=off, levels=lv)
    import pytest as _pytest
    with _pytest.raises(Exception, match="universe"):
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()


def test_stream_exact_substring_matches_batch_cross_cut(spark, tmp_path):
    """Streaming ExactSubstr: the accumulated, order-normalized span
    store equals the batch operator restricted to cross-batch pairs;
    replay-duplicate rows in the store dedup at read; orientation
    flips normalize to (lesser, greater)."""
    import json as jsonlib

    import airline_data_warehouse_spark.operators.dedup as dd
    from airline_data_warehouse_spark.streaming.dedup import (
        read_exact_substring_spans,
        start_exact_substring_ingest,
    )

    base = " ".join(chr(ord("a") + i) * 2 for i in range(26))
    docs = {1: base,
            4: base,                                   # full dup of 1
            2: "zz yy " + " ".join(base.split()[:20]) + " xx ww",
            3: " ".join(f"w{i}" for i in range(30))}
    work = tmp_path / "w"
    for b in range(3):                                 # doc -> file by id%3
        d = work / "in" / f"b{b}"
        d.mkdir(parents=True)
        with open(d / "data.json", "w") as fh:
            for i, t in docs.items():
                if i % 3 == b:
                    fh.write(jsonlib.dumps({"doc_id": i, "text": t})
                             + "\n")
    src = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", 1).json(f"{work}/in/*"))
    q = start_exact_substring_ingest(src, f"{work}/store",
                                     checkpoint_dir=f"{work}/ck",
                                     k=4, min_tokens=10, compact_every=2)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, read_exact_substring_spans(
        spark, f"{work}/store").collect()))

    df = spark.createDataFrame(list(docs.items()),
                               "doc_id long, text string")
    batch = dd.exact_substring_spans(df, k=4, min_tokens=10)
    want = sorted(tuple(r) for r in batch.collect()
                  if r["doc_a"] % 3 != r["doc_b"] % 3)
    assert got == want and got, "stream = batch cross-batch cut"

    # at-least-once replay: duplicate span rows dedup at read — the
    # dup lands as a FLAT file in the tiered dir (recursive reads see
    # flat files and b/c subdirs alike)
    spans_dir = f"{work}/store/spans"
    (spark.read.option("recursiveFileLookup", "true").parquet(spans_dir)
     .limit(1).write.mode("append").parquet(spans_dir))
    again = sorted(map(tuple, read_exact_substring_spans(
        spark, f"{work}/store").collect()))
    assert again == got


def test_stream_exact_substring_max_occ_guard(spark, tmp_path):
    """The batch tier's intra-document repetition contract, streamed: a
    doc repeating one window past max_occ fails the micro-batch loudly
    (the qdigest-ingest precedent) instead of letting the pair join go
    quadratic silently."""
    import json as jsonlib

    import pytest as _pytest

    from airline_data_warehouse_spark.streaming.dedup import (
        start_exact_substring_ingest,
    )

    d = tmp_path / "in" / "b0"
    d.mkdir(parents=True)
    with open(d / "data.json", "w") as fh:
        fh.write(jsonlib.dumps(
            {"doc_id": 1, "text": " ".join(["p q r s"] * 40)}) + "\n")
    src = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", 1).json(f"{tmp_path}/in/*"))
    q = start_exact_substring_ingest(src, f"{tmp_path}/store",
                                     checkpoint_dir=f"{tmp_path}/ck",
                                     k=4, min_tokens=10, max_occ=8)
    with _pytest.raises(Exception, match="max_occ"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_stream_exact_substring_max_df_crossing_warns(spark, tmp_path):
    """ADVICE r14: when a window hash that previously matched (prior
    df >= 2) crosses max_df mid-stream, the divergence from a
    final-corpus batch run becomes OBSERVABLE — a runtime warning names
    the batch — instead of resting silently on a fixture property."""
    import json as jsonlib
    import warnings

    from airline_data_warehouse_spark.streaming.dedup import (
        start_exact_substring_ingest,
    )

    def stage(b, rows):
        d = tmp_path / "in" / f"b{b}"
        d.mkdir(parents=True)
        with open(d / "data.json", "w") as fh:
            for i, t in rows:
                fh.write(jsonlib.dumps({"doc_id": i, "text": t}) + "\n")

    stage(0, [(1, "w1 w2 w3 w4 a b c"), (2, "w1 w2 w3 w4 d e f")])
    src = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", 1).json(f"{tmp_path}/in/*"))
    q = start_exact_substring_ingest(src, f"{tmp_path}/store",
                                     checkpoint_dir=f"{tmp_path}/ck",
                                     k=4, min_tokens=4, max_df=2)
    try:
        q.processAllAvailable()   # batch 0: df(W)=2, span emitted
        stage(1, [(3, "w1 w2 w3 w4 g h i")])   # df(W) -> 3 > max_df
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            q.processAllAvailable()
    finally:
        q.stop()
    hits = [str(w.message) for w in rec
            if "crossed max_df" in str(w.message)]
    assert len(hits) == 1 and "batch 1" in hits[0], hits


def test_stream_exact_substring_max_occ_guard_is_batch_scoped(
        spark, tmp_path):
    """ADVICE r14: the max_occ guard inspects only hashes the CURRENT
    batch touches. An accumulated high-occ hash re-entering the good
    set when retention drops its df back under max_df must not wedge
    every subsequent batch that never joins it."""
    import json as jsonlib

    from airline_data_warehouse_spark.streaming.dedup import (
        read_exact_substring_spans,
        start_exact_substring_ingest,
    )

    def stage(b, rows):
        d = tmp_path / "in" / f"b{b}"
        d.mkdir(parents=True)
        with open(d / "data.json", "w") as fh:
            for i, t in rows:
                fh.write(jsonlib.dumps({"doc_id": i, "text": t}) + "\n")

    # batch 0: W once (df=1, occ=1 — passes)
    stage(0, [(1, "w w w w x0 x1 x2")])
    src = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", 1).json(f"{tmp_path}/in/*"))
    q = start_exact_substring_ingest(src, f"{tmp_path}/store",
                                     checkpoint_dir=f"{tmp_path}/ck",
                                     k=4, min_tokens=4, max_df=1,
                                     max_occ=8, retention_batches=1)
    try:
        q.processAllAvailable()
        # batch 1: doc 2 repeats W 9 times — but accumulated df=2 >
        # max_df=1 excludes W from the good set BEFORE the occ guard,
        # so the batch passes (boilerplate exclusion, not a wedge)
        stage(1, [(2, " ".join(["w"] * 12))])
        q.processAllAvailable()
        # batch 2: retention (1) has aged batch 0 out, so W re-enters
        # the good set at df=1 with occ=9 > max_occ — but this batch
        # never touches W, and a batch-scoped guard must let it through
        # (the old accumulated-scan guard wedged here, permanently)
        stage(2, [(3, "c1 c2 c3 c4 c5")])
        q.processAllAvailable()
    finally:
        q.stop()
    assert q.exception() is None, q.exception()
    # no cross-doc spans were ever eligible (W was boilerplate or solo)
    assert read_exact_substring_spans(
        spark, f"{tmp_path}/store").count() == 0


def _tier_dir_listing(path):
    """{relpath: size} of every data file under a tier dir."""
    import os

    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def test_tier_compaction_rewrites_only_active_tier(spark, tmp_path):
    """VERDICT r14 item 2's contract: a compaction consolidates ONLY
    the b{N} appends since the last one — the files of an existing
    tier are byte-for-byte untouched (same names, sizes, mtimes), so
    cumulative write volume is linear in the stream, not
    O(N²/compact_every)."""
    import os

    from airline_data_warehouse_spark.streaming.dedup import (
        _tier_compact,
    )

    store = str(tmp_path / "tiered")

    def append(bid, vals):
        (spark.createDataFrame([(v, bid) for v in vals],
                               "wh long, batch_id long")
         .coalesce(1).write.mode("append").parquet(f"{store}/b{bid}"))

    append(1, [10, 11]); append(2, [20, 21])
    _tier_compact(spark, store, 2)
    assert sorted(os.listdir(store)) == ["c1_2"]
    first = _tier_dir_listing(f"{store}/c1_2")
    mtimes = {f: os.path.getmtime(f"{store}/c1_2/{f}") for f in first}

    append(3, [30]); append(4, [40, 41, 42])
    _tier_compact(spark, store, 4)
    assert sorted(os.listdir(store)) == ["c1_2", "c3_4"]
    assert _tier_dir_listing(f"{store}/c1_2") == first, \
        "existing tier rewritten — compaction must touch only b-dirs"
    assert all(os.path.getmtime(f"{store}/c1_2/{f}") == m
               for f, m in mtimes.items())
    got = sorted(r["wh"] for r in spark.read
                 .option("recursiveFileLookup", "true").parquet(store)
                 .collect())
    assert got == [10, 11, 20, 21, 30, 40, 41, 42]


def test_tier_compaction_crash_windows_and_retention(spark, tmp_path):
    """The tier protocol's crash story: a crashed staging write is
    dot-hidden from readers and swept on the next call; b-dirs at or
    below the watermark (a crash between the tier rename and the
    b-dir deletes, or a replayed batch) are swept WITHOUT re-merging —
    reads dedup meanwhile; with a retention horizon, tiers entirely
    below it are garbage-collected at dir granularity."""
    import os
    import shutil

    from airline_data_warehouse_spark.streaming.dedup import (
        _tier_compact,
    )

    store = str(tmp_path / "tiered")

    def append(bid, vals):
        (spark.createDataFrame([(v, bid) for v in vals],
                               "wh long, batch_id long")
         .coalesce(1).write.mode("append").parquet(f"{store}/b{bid}"))

    append(1, [10]); append(2, [20])
    _tier_compact(spark, store, 2)

    # crash window A: staging written, rename never happened — hidden
    # from readers, deleted by the next compaction
    (spark.createDataFrame([(99, 9)], "wh long, batch_id long")
     .write.mode("overwrite").parquet(f"{store}/.c3_3.staging"))
    rows = spark.read.option("recursiveFileLookup", "true") \
        .parquet(store).collect()
    assert sorted(r["wh"] for r in rows) == [10, 20], \
        "staging dir must be invisible to readers"

    # crash window B: tier renamed in, b-dirs not yet deleted (replay
    # twin: a re-created pre-watermark b-dir) — duplicate rows dedup
    # at read; the next compaction sweeps them without a new tier
    shutil.copytree(f"{store}/c1_2", f"{store}/b2")
    dup = spark.read.option("recursiveFileLookup", "true") \
        .parquet(store).dropDuplicates().collect()
    assert sorted(r["wh"] for r in dup) == [10, 20]
    _tier_compact(spark, store, 2)
    assert not os.path.exists(f"{store}/.c3_3.staging")
    assert not os.path.exists(f"{store}/b2")
    assert sorted(os.listdir(store)) == ["c1_2"]

    # retention horizon: a tier entirely below it is dropped at dir
    # granularity; the active tier keeps only in-horizon rows
    append(7, [70]); append(8, [80])
    _tier_compact(spark, store, 8, retention_batches=4)
    assert sorted(os.listdir(store)) == ["c7_8"], \
        "tier c1_2 (hi=2 <= horizon=4) must be garbage-collected"
    kept = sorted(r["wh"] for r in spark.read
                  .option("recursiveFileLookup", "true").parquet(store)
                  .collect())
    assert kept == [70, 80]


def test_verify_spans_against_silver_drops_forged_span(spark):
    """The streaming→batch verify composition (VERDICT r14 item 4):
    genuine streamed spans survive the byte-equal re-extraction
    verify; a forged span (the collision stand-in — positions whose
    texts differ) is dropped. Composing the unverified stream output
    with this job reproduces the batch tier's verified answer."""
    from airline_data_warehouse_spark.streaming.dedup import (
        verify_spans_against_silver,
    )
    import airline_data_warehouse_spark.operators.dedup as dd

    base = " ".join(chr(ord("a") + i) * 2 for i in range(26))
    docs = spark.createDataFrame(
        [(1, base), (2, "zz yy " + " ".join(base.split()[:20]) + " xx"),
         (3, " ".join(f"w{i}" for i in range(30)))],
        "doc_id long, text string")
    real = dd.exact_substring_spans(docs, k=4, min_tokens=10) \
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    assert real.count() > 0
    forged = spark.createDataFrame(
        [(1, 3, 1, 1, 10)],
        "doc_a long, doc_b long, start_a long, start_b long, "
        "span_tokens long")
    got = sorted(map(tuple, verify_spans_against_silver(
        real.unionByName(forged), docs).collect()))
    assert got == sorted(map(tuple, real.collect())), \
        "verify must keep every genuine span and drop the forged one"


def test_tier_compaction_size_tiered_fold(spark, tmp_path):
    """max_tiers bounds tier-count growth: above the bound, the
    adjacent pair with the smallest combined bytes folds into one
    (content preserved, range-union name); a fold crash that leaves
    the merged tier AND its sources (containment) is swept — never
    re-merged — on the next call."""
    import os
    import shutil

    from airline_data_warehouse_spark.streaming.dedup import (
        _tier_compact,
    )

    store = str(tmp_path / "tiered")

    def append(bid, vals):
        (spark.createDataFrame([(v, bid) for v in vals],
                               "wh long, batch_id long")
         .coalesce(1).write.mode("append").parquet(f"{store}/b{bid}"))

    # build 4 tiers of one batch each
    for bid in (1, 2, 3, 4):
        append(bid, [bid * 10, bid * 10 + 1])
        _tier_compact(spark, store, bid, max_tiers=None)
    assert sorted(os.listdir(store)) == ["c1_1", "c2_2", "c3_3", "c4_4"]

    # max_tiers=3: one fold merges one adjacent pair -> 3 tiers
    _tier_compact(spark, store, 4, max_tiers=3)
    tiers = sorted(os.listdir(store))
    assert len(tiers) == 3 and any("_" in t and t[1] != t[-1]
                                   for t in tiers), tiers
    got = sorted(r["wh"] for r in spark.read
                 .option("recursiveFileLookup", "true").parquet(store)
                 .collect())
    assert got == [10, 11, 20, 21, 30, 31, 40, 41]

    # fold-crash twin: merged tier present AND sources present
    # (containment) -> next call deletes the contained sources only
    merged = next(t for t in tiers if t[1] != t[-1])
    lo, hi = merged[1:].split("_")
    shutil.copytree(f"{store}/{merged}", f"{store}/c{lo}_{lo}")
    shutil.copytree(f"{store}/{merged}", f"{store}/c{hi}_{hi}")
    _tier_compact(spark, store, 4, max_tiers=5)
    after = sorted(os.listdir(store))
    assert merged in after
    assert f"c{lo}_{lo}" not in after and f"c{hi}_{hi}" not in after
    still = sorted(r["wh"] for r in spark.read
                   .option("recursiveFileLookup", "true").parquet(store)
                   .collect())
    assert still == got


def test_tier_protocol_randomized_crash_fuzz(spark, tmp_path):
    """Seeded randomized exercise of the tier protocol: an arbitrary
    interleaving of appends, compactions (varying max_tiers), replay
    re-appends, and injected crash artifacts (stray staging dirs,
    re-created pre-watermark b-dirs) must always read back EXACTLY
    the appended row multiset (distinct) — content is never lost and
    never invented, whatever the crash/fold history."""
    import os
    import random
    import shutil

    from airline_data_warehouse_spark.streaming.dedup import (
        _tier_compact,
    )

    for seed in (7, 23):
        rnd = random.Random(seed)
        store = str(tmp_path / f"fuzz{seed}")
        model = set()
        next_bid, last_bid = 1, 0

        def read_back():
            if not os.path.exists(store):
                return set()
            return {(r["wh"], r["batch_id"]) for r in
                    spark.read.option("recursiveFileLookup", "true")
                    .parquet(store).collect()}

        for _step in range(12):
            op = rnd.choice(["append", "append", "compact", "replay",
                             "staging_crash", "fold_crash"])
            if op == "append":
                rows = [(rnd.randrange(10_000) * 100 + next_bid,
                         next_bid) for _ in range(rnd.randint(1, 4))]
                (spark.createDataFrame(rows, "wh long, batch_id long")
                 .coalesce(1).write.mode("append")
                 .parquet(f"{store}/b{next_bid}"))
                model.update(rows)
                last_bid, next_bid = next_bid, next_bid + 1
            elif op == "compact" and model:
                _tier_compact(spark, store, last_bid,
                              max_tiers=rnd.choice([None, 1, 2, 3]))
            elif op == "replay" and model:
                # re-append a random already-appended row into its
                # original b-dir (at-least-once duplicate)
                wh, bid = rnd.choice(sorted(model))
                (spark.createDataFrame([(wh, bid)],
                                       "wh long, batch_id long")
                 .coalesce(1).write.mode("append")
                 .parquet(f"{store}/b{bid}"))
            elif op == "staging_crash" and os.path.exists(store):
                (spark.createDataFrame([(-1, -1)],
                                       "wh long, batch_id long")
                 .write.mode("overwrite")
                 .parquet(f"{store}/.c998_999.staging"))
            elif op == "fold_crash" and os.path.exists(store):
                tiers = [d for d in os.listdir(store)
                         if d.startswith("c") and "_" in d]
                if tiers:
                    # duplicate a tier under a contained range — the
                    # post-rename/pre-delete fold crash shape
                    t = rnd.choice(tiers)
                    lo = t[1:].split("_")[0]
                    dup = f"{store}/c{lo}_{lo}"
                    if not os.path.exists(dup) and f"c{lo}_{lo}" != t:
                        shutil.copytree(f"{store}/{t}", dup)
            # UNFILTERED equality: the injected staging rows carry
            # batch_id = -1 and a correct protocol NEVER surfaces
            # them — filtering them out here would mask exactly the
            # staging-visibility regression this op injects
            got = read_back()
            assert got == model, (seed, _step, op, got ^ model)
        # final full compact drains every artifact
        _tier_compact(spark, store, last_bid, max_tiers=1)
        assert read_back() == model
