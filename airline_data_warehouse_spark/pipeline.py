"""The E1 lifecycle end-to-end (SURVEY §3): a directory of arbitrary
CSVs → detect → one tagging pass per file (rule reasons, then keep-first
dedup), computed once by the action that also counts it → clean/dirty
filters of the computed rows → cross-file sales dedup → upsert into the
warehouse → dimension repair → quarantine → analytics view.

This is the reference's upload flow (`processMultipleFiles`,
smartFileProcessor.js:485-500 + processFile :124-200) as one callable:
a user of the reference points this at the same CSV drop directory and
gets the same warehouse. Differences by design: no per-row network
calls, per-file results are Spark jobs not row loops, and quarantine
carries the raw row as JSON exactly once.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from airline_data_warehouse_spark import etl
from airline_data_warehouse_spark.analytics import build_airline_analytics
from airline_data_warehouse_spark.dimensions import build_dim_date, unknown_country_reviews
from airline_data_warehouse_spark.schemas import PRIMARY_KEYS
from airline_data_warehouse_spark.sources import sinks
from airline_data_warehouse_spark.sources.csv import read_detected
from airline_data_warehouse_spark.warehouse import Warehouse


@dataclass
class FileResult:
    """The per-file summary the reference returns to the UI
    (smartFileProcessor.js:182-190)."""
    filename: str
    file_type: str | None
    target_table: str | None
    total_records: int = 0
    clean_records: int = 0
    dirty_records: int = 0
    success: bool = True
    error: str | None = None


@dataclass
class PipelineResult:
    files: list[FileResult] = field(default_factory=list)
    tables: dict[str, DataFrame] = field(default_factory=dict)
    quarantine: DataFrame | None = None
    analytics_view: DataFrame | None = None


def process_files(spark: SparkSession, csv_paths: list[str]) -> PipelineResult:
    """Detect + process every file; accumulate per-table clean frames
    (upserted in path order, source-wins) and quarantine rows. Each
    file's tagged rows are computed once, by one local checkpoint that
    also observes its (total, clean, dirty); every frame in the result
    reads from those rows, not from the CSV, and stays readable for as
    long as it is held. Nothing after the file loop runs a Spark job."""
    # null-on-failure cleaning semantics under any caller session
    spark.conf.set("spark.sql.ansi.enabled", "false")
    result = PipelineResult()
    dirty_frames: list[DataFrame] = []
    sales: list[DataFrame] = []

    for path in csv_paths:
        name = os.path.basename(path)
        sig, raw = read_detected(spark, path)
        if sig is None:
            result.files.append(FileResult(name, None, None, success=False,
                                           error="Cannot detect file type"))
            continue
        tagged, (total, n_clean, n_dirty) = \
            etl.PROCESSORS[sig.file_type](raw).materialize()
        result.files.append(FileResult(
            name, sig.file_type, sig.target_table, total_records=total,
            clean_records=n_clean, dirty_records=n_dirty))
        raw_cols = [c for c in raw.columns if not c.startswith("_")]
        if n_dirty:
            dirty_frames.append(sinks.quarantine(tagged.dirty, sig.file_type, raw_cols))
        table = sig.target_table
        if table == "fact_sales":
            sales.append(tagged.clean)
        elif table in result.tables:
            result.tables[table] = sinks.upsert_table(
                result.tables[table], tagged.clean, table)
        else:
            result.tables[table] = tagged.clean

    # fact union + cross-file dedup (scripts/uploadAllSales.js), for one
    # sales file or many; an empty dups frame quarantines nothing
    if sales:
        fact, cross_dups = etl.union_sales_dedup(*sales)
        dirty_frames.append(sinks.quarantine(cross_dups, "fact_sales", ["transaction_id"]))
        result.tables["fact_sales"] = fact

    # FK repair: referenced airports missing from the dimension get
    # placeholders (J8/J9)
    if "dim_flight" in result.tables and "dim_airport" in result.tables:
        result.tables["dim_airport"] = etl.repair_airport_dim(
            result.tables["dim_airport"], result.tables["dim_flight"])

    # trigger parity: countries outside the known set land in a review
    # table (the reference RAISEs a NOTICE per insert; see dimensions.py)
    if "dim_airport" in result.tables:
        result.tables["new_countries"] = unknown_country_reviews(
            result.tables["dim_airport"])

    if dirty_frames:
        result.quarantine = reduce(DataFrame.unionByName, dirty_frames)

    result.tables["dim_date"] = build_dim_date(spark)
    needed = {"fact_sales", "dim_date", "dim_passenger", "dim_flight",
              "dim_airport", "dim_airline"}
    if needed <= set(result.tables):
        result.analytics_view = build_airline_analytics(
            result.tables["fact_sales"], result.tables["dim_date"],
            result.tables["dim_passenger"], result.tables["dim_flight"],
            result.tables["dim_airport"], result.tables["dim_airline"])
    return result


def run_full_pipeline(spark: SparkSession, csv_dir: str,
                      warehouse_root: str) -> PipelineResult:
    """Directory in, materialized warehouse out."""
    paths = sorted(os.path.join(csv_dir, f) for f in os.listdir(csv_dir)
                   if f.endswith(".csv"))
    result = process_files(spark, paths)
    wh = Warehouse(warehouse_root)
    for table, df in result.tables.items():
        if table == "fact_sales":
            wh.write_fact_sales(df)
        else:
            wh.write_dim(table, df)
    if result.quarantine is not None:
        wh.append_dirty(result.quarantine)
    return result
