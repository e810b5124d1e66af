"""Structured Streaming: the flight-status feed (SURVEY §2.9 T1-T6).

Reference topology: Kafka topic ``flight-status-updates`` (JSON value
keyed by flight_key, consumer group from earliest offset,
kafkaConfig.js:16-58) → per-message JSON parse → append to
``flight_status_updates`` (server.js:234-245); insurance eligibility is
evaluated query-time as latest-per-key + delay>240, flipping
``is_eligible_insurance`` on matching fact rows (server.js:144-184).

Spark mapping:
* T1  kafka_status_source: readStream from Kafka (earliest offsets).
* T1' file_status_source: drop-in JSON-file source with identical
  downstream schema — used by tests (no broker in the harness) and as
  the generic landing-zone pattern.
* T2  parse_status_stream: from_json → typed columns.
* T3  append_status_sink: append-mode writeStream.
* T4  latest_status_per_flight: batch window over the accumulated table.
* T5  eligibility_merge_batch: the foreachBatch MERGE body (delay>240 →
  flip the flag) — pure DataFrame function so it is unit-testable.
* T6  windowed_delay_stats: watermark + tumbling window (labeled
  extension; the reference has no late-data handling — at-least-once
  replay duplicates are tolerated exactly as the reference tolerates
  ``fromBeginning`` replays).

At scale: the stream shuffles only for the windowed aggregate (keyed by
window × flight), state is bounded by the watermark; the eligibility
merge broadcasts the per-batch eligible-key set against the fact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airline_data_warehouse_spark.functions.cleaning import INSURANCE_DELAY_MINUTES
from airline_data_warehouse_spark.schemas import STATUS_MESSAGE

# the partition commit the batch upsert_parquet uses too
from airline_data_warehouse_spark.sources.atomic import _commit, read_table

TOPIC = "flight-status-updates"
GROUP_ID = "flight-status-group"


def kafka_source_options(bootstrap_servers: str, topic: str = TOPIC,
                         group_id: str = GROUP_ID) -> dict[str, str]:
    """The exact consumer option set (kafkaConfig.js:16,44-47): topic
    subscription, consumer group, fromBeginning → startingOffsets
    earliest. Split out so the contract test can pin it without a
    broker."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "kafka.group.id": group_id,
        "startingOffsets": "earliest",
    }


def kafka_sasl_options(username: str, password: str) -> dict[str, str]:
    """SASL/SSL client security (kafkaConfig.js:7-12: ssl + sasl PLAIN)."""
    jaas = ("org.apache.kafka.common.security.plain.PlainLoginModule required "
            f'username="{username}" password="{password}";')
    return {
        "kafka.security.protocol": "SASL_SSL",
        "kafka.sasl.mechanism": "PLAIN",
        "kafka.sasl.jaas.config": jaas,
    }


def kafka_status_source(spark: SparkSession, bootstrap_servers: str,
                        topic: str = TOPIC,
                        extra_options: dict[str, str] | None = None) -> DataFrame:
    """T1 — Kafka source, earliest offsets (fromBeginning parity). Pass
    ``kafka_sasl_options(...)`` as extra_options for SASL_SSL clusters."""
    reader = spark.readStream.format("kafka")
    for k, v in {**kafka_source_options(bootstrap_servers, topic),
                 **(extra_options or {})}.items():
        reader = reader.option(k, v)
    return reader.load()


def to_kafka_wire(updates: DataFrame) -> DataFrame:
    """S9 (producer shape) — status rows → kafka wire format: key =
    flight_key, value = JSON message (kafkaConfig.js:25-40). Feed to
    ``.write.format("kafka")`` / ``.writeStream.format("kafka")`` with a
    bootstrap-servers option, or to the file landing zone for tests."""
    return updates.select(
        F.col("flight_key").alias("key"),
        F.to_json(F.struct("flight_key", "status", "delay_minutes",
                           "update_timestamp"),
                  {"ignoreNullFields": "false"}).alias("value"))


def kafka_sink_options(bootstrap_servers: str, topic: str = TOPIC) -> dict[str, str]:
    """Producer option set (kafkaConfig.js:27-37: one topic, keyed JSON
    messages — key/value come from the wire columns, not options)."""
    return {"kafka.bootstrap.servers": bootstrap_servers, "topic": topic}


def kafka_producer_sink(updates: DataFrame, bootstrap_servers: str,
                        topic: str = TOPIC,
                        extra_options: dict[str, str] | None = None) -> None:
    """S9 — publish to Kafka (batch write; requires a broker + the
    spark-sql-kafka package, neither present in the test harness — the
    wire shaping above is the tested part)."""
    writer = to_kafka_wire(updates).write.format("kafka")
    for k, v in {**kafka_sink_options(bootstrap_servers, topic),
                 **(extra_options or {})}.items():
        writer = writer.option(k, v)
    writer.save()


def file_status_source(spark: SparkSession, path: str) -> DataFrame:
    """T1' — landing-zone JSON source with the kafka wire shape
    (key/value strings), so parse_status_stream works on either."""
    return (spark.readStream.schema("key string, value string").json(path))


def parse_status_stream(raw: DataFrame) -> DataFrame:
    """T2 — JSON value → typed status rows (kafkaConfig.js:50-52)."""
    return (raw.select(F.from_json(F.col("value").cast("string"), STATUS_MESSAGE).alias("s"))
               .select("s.flight_key", "s.status", "s.delay_minutes", "s.update_timestamp"))


def append_status_sink(parsed: DataFrame, path: str, checkpoint: str,
                       trigger_once: bool = True):
    """T3 — append-only sink for the status table (server.js:238-241)."""
    writer = (parsed.writeStream.outputMode("append")
              .format("parquet").option("path", path)
              .option("checkpointLocation", checkpoint))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def enrich_stream_with_dims(parsed: DataFrame, dim_flight: DataFrame,
                            dim_airport: DataFrame) -> DataFrame:
    """Stream-static enrichment: each status update joined to the flight
    and origin-airport dimensions. Static sides broadcast per micro-batch
    — the streaming twin of the analytics view's dim joins; Spark re-reads
    the static side each batch, so dimension upserts are picked up live."""
    df_ = F.broadcast(dim_flight.alias("df"))
    ap = F.broadcast(dim_airport.alias("ap"))
    return (parsed.alias("s")
            .join(df_, F.col("s.flight_key") == F.col("df.flight_key"), "left")
            .join(ap, F.col("df.origin_airport_key") == F.col("ap.airport_key"), "left")
            .select(F.col("s.flight_key").alias("flight_key"),
                    "s.status", "s.delay_minutes", "s.update_timestamp",
                    F.col("df.aircraft_type").alias("aircraft_type"),
                    F.col("ap.city").alias("origin_city"),
                    F.col("ap.country").alias("origin_country")))


def _latest_first() -> list[Column]:
    """The one "latest update" order, shared by the view and the lookup:
    newest first; ties broken by delay then status for determinism under
    at-least-once duplicate delivery."""
    return [F.col("update_timestamp").desc(), F.col("delay_minutes").desc(),
            F.col("status")]


def latest_status_per_flight(status_table: DataFrame) -> DataFrame:
    """T4/W1 — newest update per flight_key, in `_latest_first` order."""
    w = Window.partitionBy("flight_key").orderBy(*_latest_first())
    return (status_table.withColumn("_rn", F.row_number().over(w))
                        .filter(F.col("_rn") == 1).drop("_rn"))


def check_insurance(status_table: DataFrame, flight_key: str) -> DataFrame:
    """E2 — the /check-insurance verdict for one flight (server.js:144-184):
    latest update (the row `latest_status_per_flight` keeps), delay>240 →
    eligible."""
    latest = (status_table.filter(F.col("flight_key") == flight_key)
              .orderBy(*_latest_first()).limit(1))
    return latest.select(
        "flight_key", "status", "delay_minutes", "update_timestamp",
        (F.col("delay_minutes") > INSURANCE_DELAY_MINUTES).alias("is_eligible"),
        F.floor(F.col("delay_minutes") / 60).cast("int").alias("delay_hours"),
        (F.col("delay_minutes") % 60).cast("int").alias("delay_rem_minutes"))


def eligibility_merge_batch(fact: DataFrame, status_batch: DataFrame) -> DataFrame:
    """T5 — the foreachBatch MERGE body: any flight in the batch whose
    delay exceeds the threshold flips is_eligible_insurance and records
    the delay on its fact rows (server.js:162-171). Eligible-key set is
    tiny per batch → broadcast left join, fact never shuffles."""
    eligible = (status_batch.filter(F.col("delay_minutes") > INSURANCE_DELAY_MINUTES)
                .groupBy("flight_key")
                .agg(F.max("delay_minutes").alias("_new_delay"),
                     F.lit("delayed").alias("_new_status")))
    return (fact.join(F.broadcast(eligible), "flight_key", "left")
                .withColumn("is_eligible_insurance",
                            F.when(F.col("_new_delay").isNotNull(), F.lit(True))
                             .otherwise(F.col("is_eligible_insurance")))
                .withColumn("delay_minutes",
                            F.coalesce(F.col("_new_delay"), F.col("delay_minutes")))
                .withColumn("flight_status",
                            F.coalesce(F.col("_new_status"), F.col("flight_status")))
                .drop("_new_delay", "_new_status"))


def start_eligibility_merge(parsed: DataFrame, fact_path: str, checkpoint: str):
    """T5 wiring: per micro-batch, MERGE the eligibility flip into the
    fact (server.js:166-171 UPDATEs fact rows by flight_key), which
    must be partitioned by ``sale_year_month``.

    Partition-scoped: the batch's eligible flight keys are semi-joined
    against the fact to find the months holding their rows, only those
    months are re-derived, and sources/atomic.py commits them as new
    partition units (the batch upsert's path) — unlike dynamic
    partition overwrite, which deletes destination directories mid-job,
    so a reader holding the fact keeps reading its snapshot. The scope
    is every month holding an eligible flight's rows: flights that
    recur monthly make that most of the table (the perfbench data
    rewrites ~23 of 24 months per batch). Batches with no eligible keys
    touch nothing. A Delta/Iceberg MERGE drops in here.
    """
    def _merge(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        fact = read_table(spark, fact_path)
        if "sale_year_month" not in fact.columns:
            raise ValueError("the eligibility merge needs a fact "
                             "partitioned by 'sale_year_month'")
        eligible = (batch.filter(F.col("delay_minutes") > INSURANCE_DELAY_MINUTES)
                    .select("flight_key").distinct())
        months = (fact.join(F.broadcast(eligible), "flight_key", "left_semi")
                      .select("sale_year_month").distinct())
        if not months.limit(1).count():
            return  # nothing eligible in this batch — zero writes
        affected = fact.join(F.broadcast(months), "sale_year_month", "left_semi")
        _commit(spark, fact_path, eligibility_merge_batch(affected, batch),
                "sale_year_month", mode="partitions")

    return (parsed.writeStream.foreachBatch(_merge)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def windowed_delay_stats(parsed: DataFrame, window_size: str = "10 minutes",
                         watermark: str | None = "10 minutes") -> DataFrame:
    """T6 (extension) — watermarked tumbling-window delay statistics.
    Pass ``watermark=None`` when the input already carries one (e.g.
    downstream of dedup_replayed_updates — redefining is disallowed)."""
    if watermark is not None:
        parsed = parsed.withWatermark("update_timestamp", watermark)
    return (parsed
            .groupBy(F.window("update_timestamp", window_size).alias("w"), "flight_key")
            .agg(F.count("*").alias("n_updates"),
                 F.max("delay_minutes").alias("max_delay"),
                 F.avg("delay_minutes").alias("avg_delay"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "flight_key", "n_updates", "max_delay", "avg_delay"))


def dedup_replayed_updates(parsed: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T6 upgrade — exactly-once semantics over at-least-once delivery:
    stateful dropDuplicates within the watermark on the natural message
    identity (flight_key, update_timestamp)."""
    return (parsed.withWatermark("update_timestamp", watermark)
                  .dropDuplicatesWithinWatermark(["flight_key", "update_timestamp"]))
