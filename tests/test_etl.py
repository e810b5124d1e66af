"""End-to-end ETL tests: synthesized dirty CSVs (FIXTURES.md corruption
patterns — truncating keys, mixed date formats, currency junk, dup keys,
garbage marker lines, headerless positional file) through detection →
one tagging pass (clean/dirty filters, keep-first dedup) → dimension
repair → analytics view."""

from __future__ import annotations

import gzip
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from airline_data_warehouse_spark import etl
from airline_data_warehouse_spark.analytics import build_airline_analytics
from airline_data_warehouse_spark.dimensions import build_dim_date
from airline_data_warehouse_spark.sources import sinks
from airline_data_warehouse_spark.sources.csv import detect_file_type, read_detected

PASSENGERS = """PassengerKey,FullName,Email,LoyaltyStatus
P1001,Mary Smith,mary.smith@example.com,Silver
P2001,John Doe,bad-email,GOLD
P12,Tiny Key,x@y.zz,Bronze
Coffee spill,,,
P3002,Jane Anne Roe,,PLAT
P1001,Mary Duplicate,m@ex.com,Gold
"""

AIRPORTS = """AirportKey,AirportName,City,Country
JFK, John F. Kennedy International Airport ,New York,USA
LHR,Heathrow,London,United Kingdom
KEF,Keflavik,Reykjavik,Iceland
KEF,Keflavik Duplicate,Reykjavik,Iceland
JK,Too Short,Nowhere,US
CDG,Charles de Gaulle,Paris,FRANCE
"""

AIRLINES = """AirlineKey,AirlineName,Alliance
AA,American Airlines,Oneworld
AF,Air France,SkyTeam
ZZ,No Alliance Air,N/A
,Ghost Air,Star
"""

FLIGHTS = """FlightKey,OriginAirportKey,DestinationAirportKey,AircraftType
AA100,JFK,LHR,Boeing 777
AF023,jk,CDG,Airbus A320
ZZ999,XXX,JFK,
,JFK,LHR,B737
"""

TA_SALES = """TransactionID,TransactionDate,PassengerID,FlightID,TicketPrice,Taxes,BaggageFees,TotalAmount
40001,2023-01-10,P00101,AA100,"$1,540.00","$154.00","$40.00","$1,734.00"
40002,01/18/2023,P1001,AF023,620.00,62.00,0.00,682.00
40003,20-Jan-23,,AA100,100.00,10.00,0.00,110.00
40010,2023-02-01,P2002,AA100,200,20,0,220
40010,2023-02-01,P2002,AA100,200,20,0,220
40004,garbage-date,P3003,AA100,1,1,1,3
40005,2023-03-05,P4004,,50,5,5,60
"""

CO_SALES = """10001, 20230105, 'P00001', 'AA100', 450.00, 45.00, 40.00, 535.00
40010, 20230210, 'P00002', 'AF023', 100.00, 10.00, 5.00, 115.00
"""


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("csvs")
    for name, content in [("passengers.csv", PASSENGERS), ("airports.csv", AIRPORTS),
                          ("airlines.csv", AIRLINES), ("flights.csv", FLIGHTS),
                          ("ta_sales.csv", TA_SALES), ("corporate.csv", CO_SALES)]:
        (d / name).write_text(content)
    return d


def _detected(spark, fixture_dir, name):
    sig, df = read_detected(spark, str(fixture_dir / name))
    assert sig is not None, f"detection failed for {name}"
    return sig, df


def test_detection(spark, fixture_dir):
    assert _detected(spark, fixture_dir, "passengers.csv")[0].file_type == "passengers"
    assert _detected(spark, fixture_dir, "airports.csv")[0].file_type == "airports"
    assert _detected(spark, fixture_dir, "airlines.csv")[0].file_type == "airlines"
    assert _detected(spark, fixture_dir, "flights.csv")[0].file_type == "flights"
    assert _detected(spark, fixture_dir, "ta_sales.csv")[0].file_type == "travel_agency_sales"
    assert _detected(spark, fixture_dir, "corporate.csv")[0].file_type == "corporate_sales"
    assert detect_file_type(["SomethingElse"]) is None
    # fuzzy fallback: header mentions passenger but misses the exact signature
    assert detect_file_type(["passenger_number", "name"]).file_type == "passengers"


@pytest.mark.parametrize("name, data, file_type", [
    ("empty.csv", b"", None),
    ("header_only.csv", PASSENGERS.splitlines()[0].encode(), "passengers"),
    ("crlf.csv", PASSENGERS.replace("\n", "\r\n").encode(), "passengers"),
    ("cr.csv", FLIGHTS.replace("\n", "\r").encode(), "flights"),
    ("bom.csv", b"\xef\xbb\xbf" + AIRPORTS.encode(), "airports"),
    ("padded.csv", (" AirportKey ,  AirportName,City\t,Country  \n"
                    + AIRPORTS.split("\n", 1)[1]).encode(), "airports"),
    ("flights.csv.gz", gzip.compress(FLIGHTS.encode()), "flights"),
], ids=["empty", "header-only", "crlf", "cr", "bom", "padded", "gzip"])
def test_header_peek_matches_text_source(spark, tmp_path, monkeypatch,
                                         name, data, file_type):
    """`read_headers` reads the first line on the driver; it must see
    what ``spark.read.text`` sees as the first line (line ends, a
    byte-order mark, compression, padding), and `read_detected` must
    pick the signature that line picks."""
    from airline_data_warehouse_spark.sources import csv

    path = tmp_path / name
    path.write_bytes(data)

    def text_headers(spark, p):
        first = spark.read.text(p).limit(1).collect()
        return [h.strip() for h in first[0]["value"].split(",")] if first else []

    want = text_headers(spark, str(path))
    assert csv.read_headers(spark, str(path)) == want
    sig, _ = read_detected(spark, str(path))
    monkeypatch.setattr(csv, "read_headers", text_headers)
    assert sig is read_detected(spark, str(path))[0]
    assert (sig and sig.file_type) == file_type


def test_passengers_split(spark, fixture_dir):
    _, raw = _detected(spark, fixture_dir, "passengers.csv")
    clean, dirty = etl.process_passengers(raw)
    rows = {r["passenger_key"]: r for r in clean.collect()}
    # P1001 → P001 wins (first); P2001 → P001 collides → duplicate
    assert set(rows) == {"P001", "P002"}
    assert rows["P001"]["email"] == "mary.smith@example.com"
    assert rows["P002"]["email"] == "jane.roe@example.com"  # first.last synthesis
    assert rows["P002"]["loyalty_status"] == "Platinum"
    reasons = sorted(r["error_reason"] for r in dirty.collect())
    assert reasons == ["Duplicate passenger key", "Duplicate passenger key",
                       "Invalid passenger key", "Invalid passenger key"]


def test_airports_split_and_country(spark, fixture_dir):
    _, raw = _detected(spark, fixture_dir, "airports.csv")
    clean, dirty = etl.process_airports(raw)
    rows = {r["airport_key"]: r for r in clean.collect()}
    assert set(rows) == {"JFK", "LHR", "KEF", "CDG"}
    assert rows["JFK"]["country"] == "United States"
    assert rows["JFK"]["airport_name"] == "John F. Kennedy International Airport"
    assert rows["CDG"]["country"] == "France"
    assert rows["KEF"]["airport_name"] == "Keflavik"  # keep-first
    assert sorted(r["error_reason"] for r in dirty.collect()) == [
        "Duplicate airport key", "Invalid airport key"]


def test_airlines(spark, fixture_dir):
    _, raw = _detected(spark, fixture_dir, "airlines.csv")
    clean, _ = etl.process_airlines(raw)
    rows = {r["airline_key"]: r for r in clean.collect()}
    assert set(rows) == {"AA", "AF", "ZZ"}  # empty key silently dropped
    assert rows["ZZ"]["alliance"] is None


def test_flights_and_repair(spark, fixture_dir):
    _, raw = _detected(spark, fixture_dir, "flights.csv")
    clean, dirty = etl.process_flights(raw)
    rows = {r["flight_key"]: r for r in clean.collect()}
    assert set(rows) == {"AA100", "AF023", "ZZ999"}
    assert rows["AF023"]["origin_airport_key"] == "JK"
    assert dirty.count() == 1

    _, airports_raw = _detected(spark, fixture_dir, "airports.csv")
    dim_airport, _ = etl.process_airports(airports_raw)
    repaired = etl.repair_airport_dim(dim_airport, clean)
    by_key = {r["airport_key"]: r for r in repaired.collect()}
    assert by_key["JK"]["airport_name"] == "JK Airport"
    assert by_key["XXX"]["country"] == "Unknown"
    assert len(by_key) == 6  # 4 real + 2 placeholders


def test_sales_both_sources(spark, fixture_dir):
    _, ta_raw = _detected(spark, fixture_dir, "ta_sales.csv")
    ta_clean, ta_dirty = etl.process_sales(ta_raw, "travel_agency")
    rows = {r["transaction_id"]: r for r in ta_clean.collect()}
    assert set(rows) == {"TA040001", "TA040002", "TA040010"}
    assert rows["TA040001"]["ticket_price"] == Decimal("1540.00")
    assert rows["TA040001"]["date_key"] == 20230110
    assert rows["TA040001"]["passenger_key"] == "P101"
    assert rows["TA040002"]["date_key"] == 20230118
    reasons = sorted(r["error_reason"] for r in ta_dirty.collect())
    assert reasons == ["Duplicate transaction ID", "Invalid date",
                       "Invalid passenger key", "Missing flight key"]

    _, co_raw = _detected(spark, fixture_dir, "corporate.csv")
    co_clean, co_dirty = etl.process_sales(co_raw, "corporate")
    co_rows = {r["transaction_id"]: r for r in co_clean.collect()}
    assert set(co_rows) == {"CO010001", "CO040010"}
    assert co_rows["CO010001"]["passenger_key"] == "P001"
    assert co_rows["CO010001"]["date_key"] == 20230105
    assert co_rows["CO010001"]["total_amount"] == Decimal("535.00")
    assert co_dirty.count() == 0

    fact, cross_dups = etl.union_sales_dedup(ta_clean, co_clean)
    assert fact.count() == 5  # prefixes differ → no cross-file collisions
    assert cross_dups.count() == 0
    assert etl.money_consistency_check(fact).count() == 0


def test_quarantine_payload(spark, fixture_dir):
    sig, raw = _detected(spark, fixture_dir, "passengers.csv")
    _, dirty = etl.process_passengers(raw)
    q = sinks.quarantine(dirty, sig.file_type, ["PassengerKey", "FullName"])
    row = q.filter(F.col("error_reason") == "Invalid passenger key") \
           .orderBy("original_data").collect()[0]
    assert row["source_table"] == "passengers"
    assert '"PassengerKey":"Coffee spill"' in row["original_data"]


def test_upsert_and_conditional_update(spark):
    target = spark.createDataFrame(
        [("AA100", "JFK", "LHR", "B777"), ("AF023", "JK", "CDG", "A320")],
        "flight_key string, origin_airport_key string, destination_airport_key string, aircraft_type string")
    source = spark.createDataFrame(
        [("AA100", "JFK", "LHR", "B787"), ("ZZ999", "XXX", "JFK", "B737")],
        target.schema)
    merged = sinks.upsert_table(target, source, "dim_flight")
    rows = {r["flight_key"]: r for r in merged.collect()}
    assert len(rows) == 3
    assert rows["AA100"]["aircraft_type"] == "B787"  # source wins
    assert rows["AF023"]["aircraft_type"] == "A320"  # untouched survives

    fact = spark.createDataFrame([("T1", "AA100", False), ("T2", "AF023", False)],
                                 "transaction_id string, flight_key string, is_eligible_insurance boolean")
    updated = sinks.conditional_update(
        fact, F.col("flight_key") == "AA100", {"is_eligible_insurance": F.lit(True)})
    got = {r["transaction_id"]: r["is_eligible_insurance"] for r in updated.collect()}
    assert got == {"T1": True, "T2": False}


def test_analytics_view(spark, fixture_dir):
    _, pax_raw = _detected(spark, fixture_dir, "passengers.csv")
    _, ap_raw = _detected(spark, fixture_dir, "airports.csv")
    _, al_raw = _detected(spark, fixture_dir, "airlines.csv")
    _, fl_raw = _detected(spark, fixture_dir, "flights.csv")
    _, ta_raw = _detected(spark, fixture_dir, "ta_sales.csv")
    _, co_raw = _detected(spark, fixture_dir, "corporate.csv")

    dim_passenger, _ = etl.process_passengers(pax_raw)
    dim_airport, _ = etl.process_airports(ap_raw)
    dim_airline, _ = etl.process_airlines(al_raw)
    dim_flight, _ = etl.process_flights(fl_raw)
    dim_airport = etl.repair_airport_dim(dim_airport, dim_flight)
    ta, _ = etl.process_sales(ta_raw, "travel_agency")
    co, _ = etl.process_sales(co_raw, "corporate")
    fact, _ = etl.union_sales_dedup(ta, co)

    view = build_airline_analytics(fact, build_dim_date(spark), dim_passenger,
                                   dim_flight, dim_airport, dim_airline)
    rows = {r["transaction_id"]: r for r in view.collect()}
    # only fact rows whose passenger AND flight keys resolve (TA040001's
    # P101 does not); inner joins drop it, LEFT airline join keeps nulls
    assert set(rows) == {"TA040002", "CO010001", "TA040010", "CO040010"}
    r = rows["TA040002"]
    assert r["origin_airport"] == "JK" and r["origin_country"] == "Unknown"
    assert r["airline_name"] == "Air France" and r["alliance"] == "SkyTeam"
    assert r["insurance_eligibility_status"] == "Not Eligible"
    assert r["year"] == 2023 and r["month_name"] == "January"


def test_keep_first_order_stable_across_splits_and_files(spark, tmp_path):
    """W2 determinism (VERDICT r01): _line_no must reproduce byte order
    even when one file is cut into many splits and a multi-file glob is
    read — the winner of keep-first dedup is the first occurrence in
    (file, byte-offset) order, never a function of split scheduling."""
    from airline_data_warehouse_spark.sources.csv import read_csv

    header = "PassengerKey,FullName,Email,LoyaltyStatus"
    # file a: every key appears 4x; occurrence index embedded in FullName
    lines_a = [header] + [
        f"P{k:04d},occ{occ}_of_a,a{k}@x.com,Silver" + "," * 0 + " " * 40
        for occ in range(4) for k in range(250)
    ]
    # file b (lexicographically later): same keys again — must all lose
    lines_b = [header] + [f"P{k:04d},occ0_of_b,b{k}@x.com,Gold" for k in range(250)]
    (tmp_path / "a.csv").write_text("\n".join(lines_a) + "\n")
    (tmp_path / "b.csv").write_text("\n".join(lines_b) + "\n")

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")  # force splits
    try:
        raw = read_csv(spark, str(tmp_path), header.split(","))
        assert raw.rdd.getNumPartitions() > 4, "input did not split; test is vacuous"
        rows = etl._tag(raw, F.lit(None).cast("string"), "PassengerKey", "dup")
        firsts = rows.filter(F.col("error_reason").isNull())
        dups = rows.filter(F.col("error_reason").isNotNull())
        winners = firsts.select("PassengerKey", "FullName").collect()
        assert len(winners) == 250
        assert all(r["FullName"] == "occ0_of_a" for r in winners), \
            sorted({r["FullName"] for r in winners})
        assert dups.count() == 4 * 250  # 3 later in-file + 1 cross-file per key
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_jsonl_sink_round_trips(spark, tmp_path):
    """S11 fallback sink: rows written with append_jsonl read back
    value-identical through spark.read.json (schema enforced), across
    two appends — the backup/replay loop the reference's dirty-sales
    fallback implies."""
    from airline_data_warehouse_spark.sources.sinks import append_jsonl

    path = str(tmp_path / "backup.jsonl")
    a = spark.createDataFrame([(1, "x", 1.5), (2, None, 0.25)],
                              "id long, note string, amt double")
    b = spark.createDataFrame([(3, "y", -2.0)],
                              "id long, note string, amt double")
    append_jsonl(a, path)
    append_jsonl(b, path)
    back = spark.read.schema("id long, note string, amt double").json(path)
    got = sorted((r["id"], r["note"], r["amt"]) for r in back.collect())
    assert got == [(1, "x", 1.5), (2, None, 0.25), (3, "y", -2.0)]
