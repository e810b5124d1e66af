"""ETL: per-file-type processors — the reference's row-at-a-time
validate/standardize loops (smartFileProcessor.js processPassengerData /
processAirportData / processAirlineData / processFlightData /
processSalesData; scripts/upload*.js) re-expressed as single-pass
DataFrame plans:

    raw strings → one tagging pass (`error_reason`: the rule CASE chain,
    then keep-first by standardized key) → two filters, clean and dirty
    → upsert.

Each processor returns a `Tagged`: every input row tagged once, and the
shaping of its two filters — clean (shaped to the target table) and
dirty (the raw input columns plus ``error_reason``, for the quarantine
JSON payload), both derived from the tagged rows. It unpacks as
``(clean, dirty)``; `Tagged.materialize` computes the rows once, in the
one action that also observes the file's counts, so every later read of
either filter starts from the computed rows. No per-row network calls:
the reference's row-wise country / airport lookups become broadcast
joins (E1 lifecycle, SURVEY §3).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, replace
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from airline_data_warehouse_spark.functions import cleaning as C
from airline_data_warehouse_spark.schemas import MONEY


#: the `error_reason` of a row the reference drops without quarantining it
#: (an airline without a key): neither clean nor dirty, but counted in
#: the file's total
_DROPPED = "dropped"


def _is_clean() -> Column:
    return F.col("error_reason").isNull()


def _is_dirty() -> Column:
    return F.col("error_reason") != _DROPPED


@dataclass(frozen=True)
class Tagged:
    """One file after its one tagging pass: ``rows`` is every input row
    with its ``error_reason`` (NULL when clean, else why it was rejected
    or dropped); ``clean`` and ``dirty`` are its two filters, derived
    from ``rows`` through the clean columns and the helper columns the
    dirty payload drops. Unpacks as ``(clean, dirty)``."""
    rows: DataFrame
    clean_cols: tuple[Column | str, ...]
    helpers: tuple[str, ...]

    @property
    def clean(self) -> DataFrame:
        return self.rows.filter(_is_clean()).select(*self.clean_cols)

    @property
    def dirty(self) -> DataFrame:
        return self.rows.filter(_is_dirty()).drop(*self.helpers)

    def __iter__(self) -> Iterator[DataFrame]:
        return iter((self.clean, self.dirty))

    def materialize(self) -> tuple[Tagged, tuple[int, int, int]]:
        """(this file with its rows computed once, ``(total, clean,
        dirty)``): one action, a local checkpoint that observes the three
        counts as it computes the rows. No caller releases the computed
        rows: their blocks are freed once the last frame derived from
        them is garbage-collected."""
        seen = Observation()
        rows = self.rows.observe(
            seen, F.count(F.lit(1)).alias("total"),
            F.count_if(_is_clean()).alias("clean"),
            F.count_if(_is_dirty()).alias("dirty")).localCheckpoint()
        counts = seen.get
        return replace(self, rows=rows), (counts["total"], counts["clean"],
                                          counts["dirty"])


def _tag(df: DataFrame, reason: Column, key: str | None = None,
         dup_reason: str | None = None,
         order: tuple[str, ...] = ("_line_no",)) -> DataFrame:
    """Tag every row once with ``error_reason``: the rule ``reason``
    first; then, among rows that pass the rules, W2 keep-first — the
    first occurrence of ``key`` in input order (``order``) wins and later
    ones get ``dup_reason``. One window over (key, passes-rules), so
    rejected rows never shadow a later clean one."""
    tagged = df.withColumn("error_reason", reason)
    if key is None:
        return tagged
    w = Window.partitionBy(F.col(key), _is_clean()).orderBy(*order)
    dup = F.when(F.row_number().over(w) > 1, F.lit(dup_reason))
    return tagged.withColumn("error_reason", F.coalesce(F.col("error_reason"), dup))


def process_passengers(raw: DataFrame) -> Tagged:
    """smartFileProcessor.js:225-253 + keep-first dedup by standardized key
    (scripts/uploadPassengers.js:120-170). Rejects: unstandardizable key;
    duplicates of an already-seen standardized key."""
    std_key = C.standardize_passenger_key(F.col("PassengerKey"))
    rows = _tag(raw.withColumn("_std_key", std_key),
                F.when(std_key.isNull(), "Invalid passenger key"),
                "_std_key", "Duplicate passenger key")
    return Tagged(rows, (
        F.col("_std_key").alias("passenger_key"),
        F.trim("FullName").alias("full_name"),
        C.standardize_email(F.col("FullName"), F.col("Email")).alias("email"),
        C.standardize_loyalty_status(F.col("LoyaltyStatus")).alias("loyalty_status"),
    ), ("_std_key",))


def process_airports(raw: DataFrame) -> Tagged:
    """smartFileProcessor.js:256-292: 3-char key or reject; standardized
    country; keep-first on key (the KEF/MDW dup rule)."""
    key = F.upper(F.trim(F.col("AirportKey")))
    rows = _tag(raw.withColumn("_key", key),
                F.when(key.isNull() | (F.length(key) != 3), "Invalid airport key"),
                "_key", "Duplicate airport key")
    return Tagged(rows, (
        F.col("_key").alias("airport_key"),
        F.trim("AirportName").alias("airport_name"),
        F.trim("City").alias("city"),
        C.standardize_country(F.col("Country")).alias("country"),
    ), ("_key",))


def process_airlines(raw: DataFrame) -> Tagged:
    """smartFileProcessor.js:444-452: rows without a key are silently
    dropped (the reference returns dirtyData: [] here — parity kept)."""
    key = F.trim(F.col("AirlineKey"))
    rows = _tag(raw, F.when(F.coalesce(key, F.lit("")) == "", _DROPPED))
    return Tagged(rows, (
        F.upper(key).alias("airline_key"),
        F.trim("AirlineName").alias("airline_name"),
        C.na_to_null(F.col("Alliance")).alias("alliance"),
    ), ())


def process_flights(raw: DataFrame) -> Tagged:
    """smartFileProcessor.js:455-482: key+origin+dest all required."""
    key = F.trim(F.col("FlightKey"))
    origin = F.upper(F.trim(F.col("OriginAirportKey")))
    dest = F.upper(F.trim(F.col("DestinationAirportKey")))
    missing = (key.isNull() | (key == "") | origin.isNull() | (origin == "")
               | dest.isNull() | (dest == ""))
    rows = _tag(raw, F.when(missing, "Missing required flight data"))
    return Tagged(rows, (
        key.alias("flight_key"),
        origin.alias("origin_airport_key"),
        dest.alias("destination_airport_key"),
        F.trim("AircraftType").alias("aircraft_type"),
    ), ())


def repair_airport_dim(dim_airport: DataFrame, flights: DataFrame) -> DataFrame:
    """J8/J9 — getOrCreateAirport (scripts/uploadFlights.js:15-50): any
    origin/dest key missing from the dimension gets a placeholder row
    ``{key, '<KEY> Airport', Unknown, Unknown}``. The reference's Set
    cache + per-row lookup becomes one anti-join over the union of
    referenced keys."""
    referenced = (flights.select(F.col("origin_airport_key").alias("airport_key"))
                  .unionByName(flights.select(F.col("destination_airport_key")
                                              .alias("airport_key")))
                  .distinct())
    missing = referenced.join(dim_airport, "airport_key", "left_anti")
    placeholders = missing.select(
        "airport_key",
        F.concat(F.col("airport_key"), F.lit(" Airport")).alias("airport_name"),
        F.lit("Unknown").alias("city"),
        F.lit("Unknown").alias("country"),
    )
    return dim_airport.unionByName(placeholders)


def process_sales(raw: DataFrame, source_type: str) -> Tagged:
    """smartFileProcessor.js:353-414 / scripts/uploadAllSales.js: coalesce
    the two sales schemas (P6), standardize key/date/amounts, synthesize
    the prefixed transaction id, reject in the JS rule order (passenger
    key → flight key → date), then keep-first dedup on transaction_id."""
    cols = set(raw.columns)

    def pick(*names: str) -> F.Column:
        present = [C.strip_single_quotes(F.col(n)) for n in names if n in cols]
        return F.coalesce(*present) if present else F.lit(None).cast("string")

    pax = C.standardize_passenger_key(pick("PassengerID", "PassengerKey"))
    flight = pick("FlightID", "FlightKey")
    date = C.standardize_date(pick("TransactionDate", "DateKey"))
    reason = (F.when(pax.isNull(), "Invalid passenger key")
               .when(flight.isNull() | (flight == ""), "Missing flight key")
               .when(date.isNull(), "Invalid date"))
    prefix = "TA" if source_type == "travel_agency" else "CO"
    staged = (raw
              .withColumn("_pax", pax)
              .withColumn("_flight", flight)
              .withColumn("_date", date)
              .withColumn("_txn", C.synth_transaction_id(pick("TransactionID"), prefix)))
    rows = _tag(staged, reason, "_txn", "Duplicate transaction ID")
    return Tagged(rows, (
        F.col("_txn").alias("transaction_id"),
        C.date_key_of(F.col("_date")).alias("date_key"),
        F.col("_pax").alias("passenger_key"),
        F.col("_flight").alias("flight_key"),
        C.standardize_amount(pick("TicketPrice")).alias("ticket_price"),
        C.standardize_amount(pick("Taxes")).alias("taxes"),
        C.standardize_amount(pick("BaggageFees")).alias("baggage_fees"),
        C.standardize_amount(pick("TotalAmount")).alias("total_amount"),
        F.lit(source_type).alias("sales_source"),
        F.lit("scheduled").alias("flight_status"),
        F.lit(0).alias("delay_minutes"),
        F.lit(False).alias("is_eligible_insurance"),
        F.current_timestamp().alias("created_at"),
        # input-order key, carried so union_sales_dedup can break
        # cross-file ties deterministically (first occurrence wins);
        # dropped from the final fact there
        F.col("_line_no"),
    ), ("_pax", "_flight", "_date", "_txn"))


def union_sales_dedup(*sales: DataFrame) -> Tagged:
    """U1 + cross-file dedup (scripts/uploadAllSales.js:164-188): union
    the cleaned sales frames — one source type or both, any number of
    files — then keep-first again on transaction_id across files. Order:
    travel-agency before corporate (mirrors the reference's array order),
    then `_line_no` (file path, byte offset, sequence) so duplicates from
    two files of the SAME source type also resolve first-occurrence-wins
    deterministically — `created_at` is current_timestamp() and therefore
    query-constant, useless as a tie-break. Unpacks as ``(fact, dups)``."""
    fact_cols = [c for c in sales[0].columns if c != "_line_no"]
    rows = _tag(reduce(DataFrame.unionByName, sales)
                .withColumn("_file_order", F.col("sales_source") != "travel_agency"),
                F.lit(None).cast("string"), "transaction_id",
                "Duplicate transaction ID (cross-file)", ("_file_order", "_line_no"))
    return Tagged(rows, tuple(fact_cols), ("_file_order", "_line_no"))


PROCESSORS = {
    "passengers": process_passengers,
    "airports": process_airports,
    "airlines": process_airlines,
    "flights": process_flights,
    "travel_agency_sales": lambda raw: process_sales(raw, "travel_agency"),
    "corporate_sales": lambda raw: process_sales(raw, "corporate"),
}


def money_consistency_check(fact: DataFrame) -> DataFrame:
    """F17 extension — total = ticket+taxes+baggage invariant audit."""
    expected = (F.col("ticket_price") + F.col("taxes") + F.col("baggage_fees")).cast(MONEY)
    return (fact.withColumn("_expected_total", expected)
                .filter(F.col("total_amount") != F.col("_expected_total"))
                .select("transaction_id", "total_amount",
                        F.col("_expected_total").alias("expected_total")))
