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

Schema contract: ``fact_sales`` is a managed table
(sources/atomic.py): every writer of it — the load, the incremental
upsert, the streaming eligibility merge — commits a manifest naming
its live partition directories and its schema, so every open, first or
later, reads the latest committed version with that schema and
launches no Spark job, and a DataFrame or view opened before a later
commit keeps reading its snapshot for the module's retention window.
Every other table is a plain directory whose schema a ``Warehouse``
resolves once: the first open infers it (``spark.read.parquet``'s
footer-reading job) and records it, partition columns and their
inferred types included; every later open passes the recorded schema,
so it only lists files (appends and new partitions stay visible) and
launches no Spark job. Every writer on this ``Warehouse`` forgets its
table's schema. A writer outside it that changes a plain table's
COLUMNS needs a fresh ``Warehouse`` — as a Spark catalog table needs
``refreshTable`` — while writers that keep the columns (the status
sink's appends) need nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from airline_data_warehouse_spark.sources.atomic import (
    _commit,
    _exists,
    read_table,
    upsert_parquet,
)


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
        _commit(fact.sparkSession, self.path("fact_sales"),
                fact.withColumn("sale_year_month",
                                (F.col("date_key") / 100).cast("int"))
                    .sortWithinPartitions("flight_key", "transaction_id"),
                "sale_year_month")

    def upsert_fact_incremental(self, spark: SparkSession, new_rows: DataFrame) -> None:
        """Incremental fact maintenance: merge new/changed rows into ONLY
        the months they touch, leaving every other partition untouched.

        One partition commit (sources/atomic.py upsert_parquet):
        affected months are re-derived into new partition directories
        while the fact stays readable and whole, then one manifest
        swaps them in. At 100 TB a daily load touches a handful of
        month directories, not the table; a crash at any point leaves
        the previous version committed, and a reader holding the fact
        keeps its snapshot. A transaction whose month CHANGES is
        migrated, not duplicated (its old month is rewritten without
        it).
        """
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
        """Append quarantine rows, numbering them once here: the ``id``
        continues past the table's current max id (a fresh table reads
        nothing), so ids stay unique across files and loads."""
        path = self.path("dirty_data")
        first = 0
        if _exists(dirty.sparkSession, path):
            top = (self._read(dirty.sparkSession, "dirty_data")
                   .agg(F.max("id")).first()[0])
            first = 0 if top is None else top + 1
        self._schemas.pop("dirty_data", None)
        (dirty.select((F.monotonically_increasing_id() + first).alias("id"),
                      *[c for c in dirty.columns if c != "id"])
              .write.mode("append")
              .partitionBy("source_table")
              .parquet(path))

    # -- readers ----------------------------------------------------------

    def _read(self, spark: SparkSession, name: str) -> DataFrame:
        """The one table reader: the latest committed version of the
        managed fact; for a plain table, infer and record the schema on
        the first open, read with the recorded schema after that."""
        if name == "fact_sales":
            return read_table(spark, self.path(name))
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
