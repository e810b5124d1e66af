"""Full-pipeline test: a drop directory of mixed CSVs through
process_files/run_full_pipeline to a materialized warehouse."""

from __future__ import annotations

import pytest

from airline_data_warehouse_spark.pipeline import process_files, run_full_pipeline
from tests.test_etl import (
    AIRLINES,
    AIRPORTS,
    CO_SALES,
    FLIGHTS,
    PASSENGERS,
    TA_SALES,
)


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("drop")
    for name, content in [("passengers.csv", PASSENGERS), ("airports.csv", AIRPORTS),
                          ("airlines.csv", AIRLINES), ("flights.csv", FLIGHTS),
                          ("ta_sales.csv", TA_SALES), ("corporate.csv", CO_SALES),
                          ("mystery.csv", "Foo,Bar\n1,2\n")]:
        (d / name).write_text(content)
    return d


def test_full_pipeline(spark, csv_dir, tmp_path):
    result = run_full_pipeline(spark, str(csv_dir), str(tmp_path / "wh"))
    by_name = {f.filename: f for f in result.files}
    assert not by_name["mystery.csv"].success  # unknown type reported, not fatal
    assert by_name["passengers.csv"].dirty_records == 4
    assert by_name["ta_sales.csv"].clean_records == 3

    assert result.tables["dim_passenger"].count() == 2
    assert result.tables["dim_airport"].count() == 6  # 4 clean + 2 placeholders
    assert result.tables["fact_sales"].count() == 5
    assert result.tables["dim_date"].count() == 731

    # quarantine aggregates every file's rejects with payloads
    reasons = {r["error_reason"] for r in result.quarantine.collect()}
    assert "Invalid passenger key" in reasons and "Duplicate airport key" in reasons

    # the analytics view resolves the joinable fact rows
    assert result.analytics_view.count() == 4

    # warehouse materialized with partition layout
    fact = spark.read.parquet(str(tmp_path / "wh" / "fact_sales"))
    assert fact.count() == 5 and "sale_year_month" in fact.columns


def test_dirty_ids_unique_across_files_and_loads(spark, csv_dir, tmp_path):
    """dirty_data.id is unique within one load's rejects from several
    files, and still unique after a second load into the same root."""
    from airline_data_warehouse_spark.warehouse import Warehouse

    root = str(tmp_path / "wh")
    n = 0
    for _ in range(2):
        n += run_full_pipeline(spark, str(csv_dir), root).quarantine.count()
        ids = [r["id"] for r in
               Warehouse(root).table(spark, "dirty_data").collect()]
        assert len(ids) == n and len(set(ids)) == n


def test_pipeline_upsert_across_files(spark, csv_dir, tmp_path):
    extra = tmp_path / "drop2"
    extra.mkdir()
    (extra / "a_airports.csv").write_text(
        "AirportKey,AirportName,City,Country\nJFK,Old Name,New York,USA\n")
    (extra / "b_airports.csv").write_text(
        "AirportKey,AirportName,City,Country\nJFK,New Name,New York,USA\n"
        "ORD,O'Hare,Chicago,USA\n")
    result = process_files(spark, [str(extra / "a_airports.csv"),
                                   str(extra / "b_airports.csv")])
    rows = {r["airport_key"]: r for r in result.tables["dim_airport"].collect()}
    assert rows["JFK"]["airport_name"] == "New Name"  # later file wins (upsert)
    assert set(rows) == {"JFK", "ORD"}


def test_new_countries_review_table(spark):
    from airline_data_warehouse_spark.dimensions import unknown_country_reviews
    dim = spark.createDataFrame(
        [("JFK", "United States"), ("LHR", "United Kingdom"),
         ("KEF", "Iceland"), ("RKV", "Iceland"), ("NRT", "Japan")],
        "airport_key string, country string")
    rows = {r["country_name"]: r["notice"]
            for r in unknown_country_reviews(dim).collect()}
    assert rows == {"Iceland": "New country added: Iceland"}


def test_single_type_sales_dedup_across_files(spark, tmp_path):
    """Two travel-agency files sharing TransactionID 40001 and no
    corporate file: the fact keeps the first occurrence only and the
    later row is quarantined as a cross-file duplicate — one sales path
    whether one source type is present or two."""
    header = TA_SALES.splitlines()[0]
    a, b = tmp_path / "a_ta.csv", tmp_path / "b_ta.csv"
    a.write_text(f"{header}\n40001,2023-01-10,P00101,AA100,1,1,1,3\n"
                 "40002,2023-01-10,P00102,AA100,1,1,1,3\n")
    b.write_text(f"{header}\n40001,2023-01-11,P00103,AA100,2,2,2,6\n")
    result = process_files(spark, [str(a), str(b)])
    fact = {r["transaction_id"]: r for r in result.tables["fact_sales"].collect()}
    assert result.tables["fact_sales"].count() == len(fact) == 2
    assert fact["TA040001"]["passenger_key"] == "P101"  # first occurrence wins
    assert [(r["source_table"], r["original_data"], r["error_reason"])
            for r in result.quarantine.collect()] == [
        ("fact_sales", '{"transaction_id":"TA040001"}',
         "Duplicate transaction ID (cross-file)")]


def test_process_files_job_budget(spark, csv_dir, monkeypatch):
    """One tagging pass per file: process_files launches at most 4 Spark
    jobs per file (the header peek, then one aggregate over the tagged
    rows for the file's three counts) and none after the file loop. A
    file's jobs are those launched before its FileResult is built."""
    import uuid

    from airline_data_warehouse_spark import pipeline
    from tests.test_warehouse import _group_jobs

    names = ["passengers.csv", "airports.csv", "airlines.csv", "flights.csv",
             "ta_sales.csv", "corporate.csv"]
    group = f"process-files-{uuid.uuid4().hex}"
    marks: list[int] = []
    file_result = pipeline.FileResult

    def counted(*args, **kwargs):
        marks.append(_group_jobs(spark, group))
        return file_result(*args, **kwargs)

    monkeypatch.setattr(pipeline, "FileResult", counted)
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = process_files(spark, [str(csv_dir / n) for n in names])
    finally:
        sc._jsc.clearJobGroup()
    total = _group_jobs(spark, group)
    assert [f.success for f in result.files] == [True] * len(names)
    per_file = [b - a for a, b in zip([0] + marks[:-1], marks)]
    assert max(per_file) <= 4, per_file
    assert total - marks[-1] == 0, f"{total - marks[-1]} jobs after the file loop"
