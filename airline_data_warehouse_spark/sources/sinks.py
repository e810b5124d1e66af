"""Sinks: keyed upsert, append, quarantine, JSONL fallback (SURVEY §2.1
S6-S8, S11).

The reference upserts through PostgREST with a per-table conflict column
(smartFileProcessor.js:167-174, getConflictColumn :202-211) and batches
client-side (S12 — irrelevant under Spark, writers batch per partition).
On plain parquet the upsert is anti-join + unionByName (non-atomic,
acceptable for batch ETL — a Delta MERGE drops in where ACID is needed;
the logical semantics below are exactly MERGE WHEN MATCHED UPDATE /
WHEN NOT MATCHED INSERT with source-wins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airline_data_warehouse_spark.schemas import PRIMARY_KEYS

# Durable crash-safe twin of `upsert` for partitioned parquet tables: a
# partition-scoped MERGE through sources/atomic.py's shared partition
# rewrite (the module docstring states the protocol).
from airline_data_warehouse_spark.sources.atomic import upsert_parquet  # noqa: F401


def upsert(target: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """S7 — insert-or-update by key, source wins on conflict.

    target rows whose key collides are dropped via a single anti-join
    (broadcast when the source is small, AQE decides), then the source is
    appended. One shuffle max; no driver-side row handling. This returns
    the merged plan and leaves persistence to the caller; `upsert_parquet`
    is the durable stage-then-swap twin that writes the merge
    crash-safely into a partitioned parquet table.
    """
    source = source.select(*target.columns)
    kept = target.join(source.select(key), on=key, how="left_anti")
    return kept.unionByName(source)


def upsert_table(target: DataFrame, source: DataFrame, table_name: str) -> DataFrame:
    return upsert(target, source, PRIMARY_KEYS[table_name])


def conditional_update(target: DataFrame, predicate, assignments: dict[str, F.Column]) -> DataFrame:
    """S8 — UPDATE ... SET ... WHERE pred as a declarative rewrite
    (server.js:166-171: flip is_eligible_insurance for a flight's rows)."""
    out = target
    for col_name, value in assignments.items():
        out = out.withColumn(col_name, F.when(predicate, value).otherwise(F.col(col_name)))
    return out


def quarantine(dirty: DataFrame, source_table: str, raw_columns: list[str]) -> DataFrame:
    """S6 (dirty sink) — shape rejected rows into the dirty_data schema:
    the raw row serialized as a JSON payload (the JSONB analog,
    smartFileProcessor.js:428-441) + error_reason + created_at."""
    payload = F.to_json(F.struct(*[F.col(c) for c in raw_columns]))
    return dirty.select(
        F.monotonically_increasing_id().alias("id"),
        F.lit(source_table).alias("source_table"),
        payload.alias("original_data"),
        F.col("error_reason"),
        F.current_timestamp().alias("created_at"),
    )


def append_jsonl(df: DataFrame, path: str) -> None:
    """S11 — local-file fallback sink (dirty_sales_backup.json,
    scripts/uploadAllSales.js:298-301)."""
    df.write.mode("append").json(path)
