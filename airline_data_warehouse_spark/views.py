"""SQL surface parity: name-addressable views over the warehouse.

The reference's users never call an API — they run SQL against named
views (BI clients on ``v_airline_analytics``, the monitor endpoint's
latest-status query; reference ``for supabase/denorm view:2-41``,
``server.js:153-163``). This module closes that last interface gap: a
user switching from the reference keeps their SQL verbatim via
``spark.sql(...)`` after one ``register_views`` call. That promise
holds across the fact's upserts and eligibility merges: the fact is a
managed table (sources/atomic.py), so a registered view keeps reading
the version it was opened on — never a deleted file — for the
retention window; re-registering picks up the newest version.

Spark-first mechanics: views are registered FROM the DataFrame builders
(``createOrReplaceTempView``), not re-authored as SQL strings — so the
SQL surface and the DataFrame surface share one plan, including the
explicit dimension broadcast hints in ``build_airline_analytics``
(pinned by tests/test_views.py: the SQL path's physical plan still
shows broadcast joins). A temp view stores the LOGICAL plan; every
query through it re-optimizes with the caller's predicates pushed into
the fact scan, exactly like the reference's Postgres view expansion
(SURVEY §3:342-353) but with Catalyst underneath.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from airline_data_warehouse_spark.analytics import build_airline_analytics
from airline_data_warehouse_spark.streaming.status import latest_status_per_flight

#: warehouse tables a reference user expects to address by name
WAREHOUSE_TABLES = (
    "dim_date", "dim_passenger", "dim_flight", "dim_airport",
    "dim_airline", "fact_sales", "dirty_data", "flight_status_updates",
)

_STAR_TABLES = ("fact_sales", "dim_date", "dim_passenger", "dim_flight",
                "dim_airport", "dim_airline")


def register_views(spark: SparkSession,
                   tables: dict[str, DataFrame]) -> list[str]:
    """Register every provided table under its warehouse name, plus the
    derived views the reference exposes:

    * ``v_airline_analytics`` — the 6-join denormalized star with the
      insurance-eligibility CASE (J1–J6 + P5/P7), when all six star
      tables are provided;
    * ``v_latest_flight_status`` — newest status per flight (T4/W1,
      the monitor endpoint's query), when ``flight_status_updates``
      is provided.

    Tables not provided are simply skipped, so a partial warehouse
    (e.g. dims only, mid-backfill) still registers what it has.
    Returns the registered names in registration order.
    """
    registered: list[str] = []
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
        registered.append(name)
    if all(t in tables for t in _STAR_TABLES):
        build_airline_analytics(
            tables["fact_sales"], tables["dim_date"],
            tables["dim_passenger"], tables["dim_flight"],
            tables["dim_airport"], tables["dim_airline"],
        ).createOrReplaceTempView("v_airline_analytics")
        registered.append("v_airline_analytics")
    if "flight_status_updates" in tables:
        latest_status_per_flight(
            tables["flight_status_updates"]
        ).createOrReplaceTempView("v_latest_flight_status")
        registered.append("v_latest_flight_status")
    return registered
