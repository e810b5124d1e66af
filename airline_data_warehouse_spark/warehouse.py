"""Warehouse materialization: partitioned parquet storage for the star
schema, with the physical layout decisions that matter at 100 TB.

Layout:
* ``fact_sales``   — partitioned by ``sale_year_month`` (derived from
  date_key). Time is the dominant filter in every analytics query
  (E3 + the date-dim rollups), so partition pruning turns "revenue for
  2023-Q1" into a 3-directory scan. ~Monthly grain keeps partition
  counts sane at any scale (24 partitions per 2 years, each holding
  date_key sub-ranges for row-group pruning via min/max stats).
* ``flight_status_updates`` — partitioned by ``update_date``; the
  streaming append sink writes into the same layout.
* dimensions — unpartitioned single-directory tables (they broadcast).
* ``dirty_data`` — partitioned by ``source_table`` (the monitor query
  filters by it).

Sort-within-partitions on the join key before writing the fact gives
row-group locality for the point-lookup shapes (transaction_id ranges,
flight_key equality) — parquet min/max stats then prune row groups.

Schema contract: a ``Warehouse`` resolves each table's schema once.
The first open of a table infers it (``spark.read.parquet``'s
footer-reading job) and records it, partition columns and their
inferred types included; every later open passes the recorded schema,
so it only lists files (appends and new partitions stay visible) and
launches no Spark job. Every writer on this ``Warehouse`` forgets its
table's schema. A writer outside it that changes a table's COLUMNS
needs a fresh ``Warehouse`` — as a Spark catalog table needs
``refreshTable`` — while writers that keep the columns (the status
sink's appends, the eligibility merge's partition swaps) need nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class Warehouse:
    """Thin path-addressed warehouse over parquet directories. The
    recorded schemas (module docstring) are per instance, never shared:
    two warehouses over one root resolve them independently."""

    def __init__(self, root: str):
        self.root = root
        self._schemas: dict[str, StructType] = {}

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    # -- writers ----------------------------------------------------------

    def write_dim(self, name: str, df: DataFrame) -> None:
        self._schemas.pop(name, None)
        df.write.mode("overwrite").parquet(self.path(name))

    def write_fact_sales(self, fact: DataFrame) -> None:
        self._schemas.pop("fact_sales", None)
        (fact
         .withColumn("sale_year_month", (F.col("date_key") / 100).cast("int"))
         .sortWithinPartitions("flight_key", "transaction_id")
         .write.mode("overwrite")
         .partitionBy("sale_year_month")
         .parquet(self.path("fact_sales")))

    def upsert_fact_incremental(self, spark: SparkSession, new_rows: DataFrame) -> None:
        """Incremental fact maintenance: merge new/changed rows into ONLY
        the months they touch, leaving every other partition untouched.

        Crash-safe stage-then-swap (sources/atomic.py upsert_parquet,
        r07 — previously dynamic partition overwrite, which deletes
        destination directories mid-job): affected months are re-derived
        to a sibling staging dir while the fact stays readable and
        whole, then swapped in one atomic rename pair per partition. At
        100 TB a daily load touches a handful of month directories, not
        the table, and a crash at any point leaves every month either
        completely-old or completely-new. A transaction whose month
        CHANGES is migrated, not duplicated (its old month is rewritten
        without it).
        """
        from airline_data_warehouse_spark.sources.atomic import upsert_parquet
        self._schemas.pop("fact_sales", None)
        staged = new_rows.withColumn(
            "sale_year_month", (F.col("date_key") / 100).cast("int"))
        upsert_parquet(spark, staged, self.path("fact_sales"),
                       key="transaction_id", partition_col="sale_year_month",
                       sort_within=["flight_key", "transaction_id"])

    def append_status_updates(self, updates: DataFrame) -> None:
        self._schemas.pop("flight_status_updates", None)
        (updates
         .withColumn("update_date", F.to_date("update_timestamp"))
         .write.mode("append")
         .partitionBy("update_date")
         .parquet(self.path("flight_status_updates")))

    def append_dirty(self, dirty: DataFrame) -> None:
        self._schemas.pop("dirty_data", None)
        (dirty.write.mode("append")
              .partitionBy("source_table")
              .parquet(self.path("dirty_data")))

    # -- readers ----------------------------------------------------------

    def _read(self, spark: SparkSession, name: str) -> DataFrame:
        """The one table reader: infer and record the schema on the
        first open, read with the recorded schema after that."""
        schema = self._schemas.get(name)
        if schema is not None:
            return spark.read.schema(schema).parquet(self.path(name))
        df = spark.read.parquet(self.path(name))
        self._schemas[name] = df.schema
        return df

    def table(self, spark: SparkSession, name: str) -> DataFrame:
        df = self._read(spark, name)
        if name == "fact_sales" and "sale_year_month" in df.columns:
            df = df.drop("sale_year_month")  # derived partition column
        return df

    def fact_sales_for_range(self, spark: SparkSession,
                             date_key_from: int, date_key_to: int) -> DataFrame:
        """Time-sliced fact read: the partition predicate on
        sale_year_month prunes directories BEFORE any file is opened;
        the residual date_key predicate prunes row groups via stats."""
        raw = self._read(spark, "fact_sales")
        return (raw.filter((F.col("sale_year_month") >= date_key_from // 100)
                           & (F.col("sale_year_month") <= date_key_to // 100))
                   .filter((F.col("date_key") >= date_key_from)
                           & (F.col("date_key") <= date_key_to))
                   .drop("sale_year_month"))
