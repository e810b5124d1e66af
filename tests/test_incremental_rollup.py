"""Incremental materialized-rollup maintenance: a stream of order
batches keeps a (priority, year)-grain revenue rollup current through
the crash-safe partition-commit upsert — the foreachBatch pattern a
warehouse uses so the 100 TB rollup is never recomputed from scratch."""

from __future__ import annotations

from pyspark.sql import functions as F

from airline_data_warehouse_spark.plans.registry import load
from airline_data_warehouse_spark.sources.atomic import (
    manifest,
    read_table,
    upsert_parquet,
)


def _rollup(df):
    return (df.groupBy("o_orderpriority",
                       F.year("o_orderdate").cast("int").alias("order_year"))
              .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    .alias("revenue_d"),
                   F.count(F.lit(1)).alias("n_orders")))


def test_incremental_rollup_equals_batch(spark, tmp_path):
    """Feeding orders in 4 arbitrary increments and MERGE-ing each
    increment's rollup delta (existing cell + delta, source-wins via
    pre-merge read) produces byte-identical cells to the one-shot batch
    rollup over everything."""
    orders = load(spark, "/root/testdata/sf0.001", "orders")
    dest = str(tmp_path / "rollup")
    chunks = orders.randomSplit([1.0, 1.0, 1.0, 1.0], seed=13)

    for inc in chunks:
        delta = _rollup(inc)
        try:
            current = read_table(spark, dest)
            merged = (delta.alias("d")
                      .join(current.alias("c"),
                            ["o_orderpriority", "order_year"], "left")
                      .select("o_orderpriority", "order_year",
                              (F.col("d.revenue_d")
                               + F.coalesce(F.col("c.revenue_d"),
                                            F.lit(0).cast("decimal(18,2)")))
                               .cast("decimal(18,2)").alias("revenue_d"),
                              (F.col("d.n_orders")
                               + F.coalesce(F.col("c.n_orders"), F.lit(0)))
                               .alias("n_orders")))
        except Exception:
            merged = delta
        merged = merged.withColumn(
            "_key", F.concat_ws("|", "o_orderpriority",
                                F.col("order_year").cast("string")))
        upsert_parquet(spark, merged, dest, key="_key",
                       partition_col="order_year")

    got = {(r["o_orderpriority"], r["order_year"]):
           (str(r["revenue_d"]), r["n_orders"])
           for r in read_table(spark, dest).collect()}
    expect = {(r["o_orderpriority"], r["order_year"]):
              (str(r["revenue_d"]), r["n_orders"])
              for r in _rollup(orders).collect()}
    assert got == expect
    # incremental path touched only the partitions with deltas, and the
    # final table is partition-laid-out by year
    assert any(u.rsplit("/", 1)[-1].startswith("order_year=")
               for u in manifest(spark, dest)["units"])
