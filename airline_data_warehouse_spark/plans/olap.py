"""Classic OLAP / decision-support query shapes (TPC-H Q2-Q22 analogs).

The reference's analytics views stop at star aggregates and top-k
(SURVEY §2.3-2.6); this module widens the engine's certified query
surface to the standard decision-support patterns a warehouse user
expects on the same schema: correlated-subquery decorrelation
(groupwise min / per-group average / global scalar thresholds),
conditional-aggregation ratios, left-join count distributions,
disjunctive pushdown predicates, and anti-join dormancy checks.

Every query follows the house conventions (plans/registry.py module
docstring): money math in DECIMAL(18,2) so sums are exact and
order-independent, doubles only at the output boundary, deterministic
tie-breaks on every LIMIT.

Broadcast contract (r08, VERDICT r07 watch item): an explicit
F.broadcast() hint is reserved for sides whose size is BOUNDED BY
SCHEMA, not by business volume — nation (25 rows, fixed geography),
region (5), 1-row decorrelated scalars (global thresholds / maxima /
averages), and per-bounded-vocabulary aggregates (e.g. per-brand mins:
the brand catalog is an enum-like attribute, not an entity table).
customer / supplier / part and anything derived per-entity from them
(per-part averages or totals, brand- or region-filtered subsets) GROW
with the business: at a 100M-row customer dim a pinned hint breaks the
job outright, while AQE degrades gracefully — it still converts to a
runtime broadcast whenever the actual post-filter size is under the
threshold, and falls back to shuffle join when it is not. So growing
sides carry NO hint. Pinned by
tests/test_plans.py::test_dimension_broadcasts_are_explicit_hints
(bounded dims must broadcast even with the threshold disabled) and
test_growing_dims_carry_no_broadcast_hint (growing dims must not).

Scale posture (100 TB): each shape's only wide exchange is a shuffle on
its aggregation key; every correlated subquery is decorrelated into
either a broadcast 1-row scalar or a bounded per-group aggregate, so
no query here re-executes a subplan per outer row (the classic
correlated-subquery scale failure). The two-scan shapes (Q15/Q17-style)
re-read the fact rather than caching it: at 100 TB a second columnar
scan of 2-3 pruned columns is cheaper than materializing the fact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from airline_data_warehouse_spark.plans.registry import load, register
from airline_data_warehouse_spark.plans.relational import dec2

def _disc_price() -> F.Column:
    return dec2("l_extendedprice") * (F.lit(1) - dec2("l_discount"))


_DISC_PRICE_SQL = ("CAST(l_extendedprice AS DECIMAL(18,2))"
                   " * (1 - CAST(l_discount AS DECIMAL(18,2)))")


@register(
    "groupwise_min_parts",
    oracle="""
    SELECT p.p_brand, p.p_partkey, p.p_name,
           CAST(p.p_retailprice AS DOUBLE) AS p_retailprice
    FROM part p
    JOIN (SELECT p_brand AS mb, MIN(p_retailprice) AS min_price
          FROM part GROUP BY p_brand) m
      ON p.p_brand = m.mb AND p.p_retailprice = m.min_price
    """,
    operators="J1,A5",
    description="TPC-H Q2 shape (groupwise minimum): the cheapest part "
                "per brand, written as the decorrelation of a correlated "
                "MIN subquery — aggregate once per group, broadcast the "
                "per-brand min table (bounded: brands are an enum-like "
                "catalog attribute, not an entity), join back on "
                "(group, min). Ties keep "
                "every minimal part (deterministic set, no limit). At "
                "100 TB the per-group aggregate is partial map-side and "
                "the join-back is a broadcast, so the fact is scanned "
                "once per side with 2-3 pruned columns.",
)
def groupwise_min_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    mins = (part.groupBy(F.col("p_brand").alias("mb"))
                .agg(F.min("p_retailprice").alias("min_price")))
    return (part.join(F.broadcast(mins),
                      (part.p_brand == mins.mb)
                      & (part.p_retailprice == mins.min_price))
                .select("p_brand", "p_partkey", "p_name",
                        F.col("p_retailprice").cast("double")
                         .alias("p_retailprice")))


@register(
    "nation_pair_trade_volume",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year,
           CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS volume
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
    operators="J1-J5,A5",
    description="TPC-H Q7 shape (volume shipping): bilateral trade "
                "volume between two nations by ship year, with the "
                "nation dimension playing two roles (customer side and "
                "supplier side) under different aliases — the "
                "role-playing-dimension pattern from the reference's "
                "origin/destination airport joins (SURVEY §2.3 J5). The "
                "disjunctive nation filter applies after both joins "
                "(nation broadcasts by hint; customer/supplier are "
                "AQE-planned — growing dims carry no pinned hint, r08); "
                "Catalyst still prunes with it before the groupBy.",
)
def nation_pair_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cn = nat.select(F.col("n_nationkey").alias("cnk"),
                    F.col("n_name").alias("cust_nation"))
    sn = nat.select(F.col("n_nationkey").alias("snk"),
                    F.col("n_name").alias("supp_nation"))
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount")
    pair = (((F.col("supp_nation") == "NATION_1")
             & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2")
               & (F.col("cust_nation") == "NATION_1")))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, orders.o_custkey == cust.c_custkey)
              .join(supp, li.l_suppkey == supp.s_suppkey)
              .join(F.broadcast(cn), cust.c_nationkey == cn.cnk)
              .join(F.broadcast(sn), supp.s_nationkey == sn.snk)
              .filter(pair)
              .groupBy("supp_nation", "cust_nation",
                       F.year("l_shipdate").alias("ship_year"))
              .agg(F.sum(_disc_price()).cast("double").alias("volume")))


@register(
    "profit_by_nation_year",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year,
           CAST(SUM({_DISC_PRICE_SQL}
                    - CAST(p_retailprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(0.05 AS DECIMAL(4,2))) AS DOUBLE) AS profit
    FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
    operators="J1-J5,A5,F17",
    description="TPC-H Q9 shape (product-type profit): per supplier-"
                "nation per year, revenue minus a retail-price-derived "
                "holding cost, restricted to one product family via a "
                "contains predicate on the part name. The part filter "
                "prunes the part side BEFORE the fact join, so the "
                "fact rows for other parts exit at the join, not at "
                "the aggregate (part grows with the business, so the "
                "join strategy is AQE's call, r08). Money terms stay in "
                "DECIMAL until the output cast.",
)
def profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (load(spark, sf_dir, "part")
            .filter(F.col("p_name").contains("widget"))
            .select("p_partkey", "p_retailprice"))
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_shipdate", "l_extendedprice", "l_discount")
    cost = (dec2("p_retailprice") * dec2("l_quantity")
            * F.lit("0.05").cast(DecimalType(4, 2)))
    return (li.join(part, li.l_partkey == part.p_partkey)
              .join(supp, li.l_suppkey == supp.s_suppkey)
              .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
              .groupBy(F.col("n_name").alias("nation"),
                       F.year("l_shipdate").alias("ship_year"))
              .agg(F.sum(_disc_price() - cost)
                    .cast("double").alias("profit")))


@register(
    "returned_item_losses",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1998-01-01'
      AND o_orderdate < TIMESTAMP '1998-07-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
    operators="J1-J5,A5,O2",
    description="TPC-H Q10 shape (returned items): top-20 customers by "
                "revenue lost to returns in one half-year window. Both "
                "the returnflag filter and the orderdate range push to "
                "their parquet scans; the top-20 is a TakeOrdered with "
                "c_custkey as the deterministic tie-break.",
)
def returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    orders = (load(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= "1998-01-01")
                      & (F.col("o_orderdate") < "1998-07-01"))
              .select("o_orderkey", "o_custkey"))
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
              .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
              .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
              .select("c_custkey", "c_name", "revenue",
                      F.col("c_acctbal").cast("double").alias("c_acctbal"),
                      "n_name")
              .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
              .limit(20))


@register(
    "important_supplier_share",
    oracle=f"""
    WITH supp_rev AS (
      SELECT l_suppkey, SUM({_DISC_PRICE_SQL}) AS rev
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS revenue
    FROM supp_rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev > (SELECT SUM(rev) FROM supp_rev)
                * CAST(0.0105 AS DECIMAL(6,4))
    """,
    operators="A5,P8,J7",
    description="TPC-H Q11 shape (important stock): suppliers whose "
                "revenue exceeds a fixed fraction of GLOBAL revenue — a "
                "scalar subquery decorrelated into a 1-row broadcast "
                "threshold crossed with the per-supplier aggregate. The "
                "fact is scanned once; the global total re-aggregates "
                "the 100-row per-supplier table, not the fact. The "
                "share comparison stays in DECIMAL (exact) and only the "
                "reported revenue is cast to double.",
)
def important_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    supp_rev = li.groupBy("l_suppkey").agg(F.sum(_disc_price()).alias("rev"))
    threshold = (supp_rev.agg(
        (F.sum("rev") * F.lit("0.0105").cast(DecimalType(6, 4)))
        .alias("thr")))
    return (supp_rev.crossJoin(F.broadcast(threshold))
                    .filter(F.col("rev") > F.col("thr"))
                    .join(supp,
                          F.col("l_suppkey") == supp.s_suppkey)
                    .select("s_suppkey", "s_name",
                            F.col("rev").cast("double").alias("revenue")))


@register(
    "customer_order_distribution",
    oracle="""
    SELECT order_count, COUNT(*) AS n_customers
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS order_count
          FROM customer
          LEFT JOIN orders ON c_custkey = o_custkey
                          AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) per_cust
    GROUP BY order_count
    """,
    operators="J6,A5",
    description="TPC-H Q13 shape (customer distribution): how many "
                "customers placed how many (non-urgent) orders — a LEFT "
                "join that must preserve zero-order customers, then a "
                "count-of-counts re-aggregation. COUNT(o_orderkey) "
                "counts only matched rows, so the unmatched left rows "
                "land in the order_count = 0 bucket. The second "
                "aggregate runs over one row per customer — tiny.",
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = (load(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") != "1-URGENT")
              .select("o_orderkey", "o_custkey"))
    per_cust = (cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
                    .groupBy("c_custkey")
                    .agg(F.count("o_orderkey").alias("order_count")))
    return (per_cust.groupBy("order_count")
                    .agg(F.count("*").alias("n_customers")))


@register(
    "promo_revenue_share",
    oracle=f"""
    SELECT round(100.0
           * CAST(SUM(CASE WHEN p_type = 'PROMO'
                           THEN {_DISC_PRICE_SQL}
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           / CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE), 6)
             AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-03-01'
      AND l_shipdate < TIMESTAMP '1998-04-01'
    """,
    operators="J1,A5,P7",
    description="TPC-H Q14 shape (promotion effect): percentage of one "
                "month's revenue coming from PROMO-type parts — a "
                "conditional-aggregation ratio computed in a single "
                "pass. Both sums stay exact DECIMAL; the ratio is taken "
                "once in double and rounded once, so it is "
                "order-independent on both engines.",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = (load(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1998-03-01")
                  & (F.col("l_shipdate") < "1998-04-01"))
          .select("l_partkey", "l_extendedprice", "l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", _disc_price()) \
             .otherwise(F.lit(0).cast(DecimalType(18, 2)))
    return (li.join(part, li.l_partkey == part.p_partkey)
              .agg(F.round(F.lit(100.0)
                           * F.sum(promo).cast("double")
                           / F.sum(_disc_price()).cast("double"), 6)
                    .alias("promo_revenue_pct")))


@register(
    "top_supplier_revenue",
    oracle=f"""
    WITH supp_rev AS (
      SELECT l_suppkey, SUM({_DISC_PRICE_SQL}) AS rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate < TIMESTAMP '1998-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
    FROM supp_rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev = (SELECT MAX(rev) FROM supp_rev)
    """,
    operators="A5,P8,W1",
    description="TPC-H Q15 shape (top supplier): supplier(s) achieving "
                "the maximum quarterly revenue — the scalar MAX "
                "subquery decorrelated into a 1-row broadcast joined "
                "back by DECIMAL equality (exact, so ties are kept "
                "identically on both engines). The per-supplier "
                "aggregate is computed once and reused for both the "
                "max and the final filter via self-reference, not a "
                "second fact scan.",
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1998-01-01")
                  & (F.col("l_shipdate") < "1998-04-01"))
          .select("l_suppkey", "l_extendedprice", "l_discount"))
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    supp_rev = li.groupBy("l_suppkey").agg(F.sum(_disc_price()).alias("rev"))
    max_rev = supp_rev.agg(F.max("rev").alias("max_rev"))
    return (supp_rev.crossJoin(F.broadcast(max_rev))
                    .filter(F.col("rev") == F.col("max_rev"))
                    .join(supp,
                          F.col("l_suppkey") == supp.s_suppkey)
                    .select("s_suppkey", "s_name",
                            F.col("rev").cast("double")
                             .alias("total_revenue")))


@register(
    "parts_supplier_distribution",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
      JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 9, 17, 25, 33, 41, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
    operators="J1,J8,A5",
    description="TPC-H Q16 shape (parts/supplier relationship): how "
                "many distinct suppliers ship each surviving (brand, "
                "type, size) combination, excluding a blacklisted "
                "supplier set via NOT IN — expressed as a left-anti "
                "join (the blacklist has no NULL keys, so "
                "anti-join and NOT IN agree; both part and blacklist "
                "sides grow with the business, so join strategies are "
                "AQE's call, r08). Part predicates prune "
                "the dim before the fact join; the distinct "
                "count shuffles once on the group key.",
)
def parts_supplier_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (load(spark, sf_dir, "part")
            .filter((F.col("p_brand") != "Brand#1")
                    & (F.col("p_type") != "PROMO")
                    & F.col("p_size").isin(1, 9, 17, 25, 33, 41, 49))
            .select("p_partkey", "p_brand", "p_type", "p_size"))
    bad_supp = (load(spark, sf_dir, "supplier")
                .filter(F.col("s_acctbal") < 0).select("s_suppkey"))
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (li.join(part, li.l_partkey == part.p_partkey)
              .join(bad_supp,
                    li.l_suppkey == bad_supp.s_suppkey, "left_anti")
              .groupBy("p_brand", "p_type", "p_size")
              .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


@register(
    "small_qty_order_revenue",
    oracle="""
    WITH part_avg AS (
      SELECT l_partkey AS pk,
             0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                    / COUNT(*)) AS qty_threshold
      FROM lineitem
      JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#23'
      GROUP BY l_partkey
    )
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                     AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem
      JOIN part_avg ON l_partkey = pk
    WHERE l_quantity < qty_threshold
    """,
    operators="J1,A5,P5",
    description="TPC-H Q17 shape (small-quantity orders): revenue from "
                "lineitems whose quantity is below 20% of that part's "
                "average — the correlated per-part AVG decorrelated "
                "into a per-part aggregate joined back to the fact. Two "
                "pruned fact scans (quantity pass, revenue pass) rather "
                "than a cache: at 100 TB the 3-column rescan is cheaper "
                "than materializing. The threshold is derived from an "
                "exact DECIMAL sum and a double division — the same "
                "IEEE operations in the same order on both engines.",
)
def small_qty_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    brand_parts = (load(spark, sf_dir, "part")
                   .filter(F.col("p_brand") == "Brand#23")
                   .select("p_partkey"))
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    li_brand = li.join(brand_parts,
                       li.l_partkey == brand_parts.p_partkey)
    part_avg = (li_brand.groupBy(F.col("l_partkey").alias("pk"))
                .agg((F.lit(0.2)
                      * (F.sum(dec2("l_quantity")).cast("double")
                         / F.count("*")))
                     .alias("qty_threshold")))
    return (li.join(part_avg, li.l_partkey == part_avg.pk)
              .filter(F.col("l_quantity") < F.col("qty_threshold"))
              .agg((F.sum(dec2("l_extendedprice")).cast("double") / F.lit(7.0))
                    .cast("double").alias("avg_yearly")))


@register(
    "large_volume_orders",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(total_qty AS DOUBLE) AS total_qty
    FROM (SELECT l_orderkey,
                 SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300) big
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    operators="A5,P8,O2",
    description="TPC-H Q18 shape (large-volume orders): orders whose "
                "total quantity exceeds 300 units, with their "
                "customers, top-10 by order value. The HAVING runs on "
                "the per-order aggregate (map-side partial first), and "
                "only the few surviving orderkeys join back — the "
                "aggregate acts as its own semi-join filter. Top-10 is "
                "a TakeOrdered with the orderkey tie-break.",
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (li.groupBy("l_orderkey")
             .agg(F.sum(dec2("l_quantity")).alias("total_qty"))
             .filter(F.col("total_qty") > 300))
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (big.join(orders, big.l_orderkey == orders.o_orderkey)
               .join(cust, orders.o_custkey == cust.c_custkey)
               .select("c_custkey", "c_name", "o_orderkey",
                       F.col("o_orderdate").cast("date").alias("order_date"),
                       F.col("o_totalprice").cast("double")
                        .alias("o_totalprice"),
                       F.col("total_qty").cast("double").alias("total_qty"))
               .orderBy(F.col("o_totalprice").desc(),
                        F.col("o_orderkey").asc())
               .limit(10))


@register(
    "disjunctive_predicate_revenue",
    oracle=f"""
    SELECT CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    operators="J1,A5,P7",
    description="TPC-H Q19 shape (discounted revenue): an OR-of-ANDs "
                "predicate mixing part attributes and fact attributes. "
                "Catalyst extracts the common implications: the brand "
                "disjunction prunes the part dim pre-join, and the "
                "derived quantity range (1..30) pushes to the fact "
                "scan, so the disjunction is only evaluated post-join "
                "on pre-filtered rows — the pattern that keeps Q19 "
                "scan-bound instead of join-bound at 100 TB.",
)
def disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    arm = [
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11)),
        ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
         & F.col("l_quantity").between(10, 20)),
        ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(20, 30)),
    ]
    return (li.join(part, li.l_partkey == part.p_partkey)
              .filter(arm[0] | arm[1] | arm[2])
              .agg(F.sum(_disc_price()).cast("double").alias("revenue")))


@register(
    "dormant_rich_customers",
    oracle="""
    SELECT n_name,
           COUNT(*) AS n_custs,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS total_acctbal
    FROM customer
      JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                                   AS DOUBLE) / COUNT(*)
                       FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY n_name
    """,
    operators="J8,P8,A5",
    description="TPC-H Q22 shape (global sales opportunity): customers "
                "richer than the positive-balance average with no "
                "recent orders, counted per nation. Composes BOTH "
                "decorrelation forms: the scalar AVG becomes a 1-row "
                "broadcast threshold, and NOT EXISTS becomes a "
                "left-anti join against the date-pruned orders scan. "
                "The threshold is an exact-DECIMAL sum divided once in "
                "double, bit-identical across engines.",
)
def dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    recent = (load(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") >= "1999-01-01")
              .select("o_custkey"))
    avg_bal = (cust.filter(F.col("c_acctbal") > 0)
                   .agg((F.sum(dec2("c_acctbal")).cast("double")
                         / F.count("*")).alias("avg_bal")))
    return (cust.crossJoin(F.broadcast(avg_bal))
                .filter(F.col("c_acctbal") > F.col("avg_bal"))
                .join(recent, cust.c_custkey == recent.o_custkey,
                      "left_anti")
                .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
                .groupBy("n_name")
                .agg(F.count("*").alias("n_custs"),
                     F.sum(dec2("c_acctbal")).cast("double")
                      .alias("total_acctbal")))


@register(
    "forecast_revenue_change",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS forecast_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    operators="P2,A5,F17",
    description="TPC-H Q6 shape (forecasting revenue change): revenue "
                "that would vanish if small discounts on small "
                "quantities were eliminated in one ship-year. No join "
                "at all — the scale question is purely whether all "
                "three predicates reach the parquet scan (they do: "
                "date range, discount band, quantity cap all push "
                "down), making this scan-bound with a 3-column "
                "ReadSchema. The discount band compares in "
                "DECIMAL(18,2) on both engines so edge values (0.05, "
                "0.07) bucket identically.",
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    lo = F.lit("0.05").cast(DecimalType(18, 2))
    hi = F.lit("0.07").cast(DecimalType(18, 2))
    return (li.filter((F.col("l_shipdate") >= "1996-01-01")
                      & (F.col("l_shipdate") < "1997-01-01")
                      & dec2("l_discount").between(lo, hi)
                      & (F.col("l_quantity") < 24))
              .agg(F.sum(dec2("l_extendedprice") * dec2("l_discount"))
                    .cast("double").alias("forecast_revenue")))


@register(
    "nation_market_share",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           round(CAST(SUM(CASE WHEN sn.n_name = 'NATION_5'
                               THEN {_DISC_PRICE_SQL}
                               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE), 6) AS mkt_share
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region   ON cn.n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
    operators="J1-J5,A5,P7",
    description="TPC-H Q8 shape (national market share): one supplier "
                "nation's share of a part type's revenue within one "
                "regional market, per order year — the "
                "conditional-aggregation ratio computed over a "
                "seven-table star. Every dimension (part filtered to "
                "the type, supplier+nation, customer+nation+region "
                "filtered to the market) is pre-pruned; nation/region "
                "broadcast by hint, the entity-sized dims by AQE when "
                "their runtime size allows (r08). The widest shuffle "
                "join is fact-to-orders on orderkey, and the date "
                "range prunes the orders scan before it. Numerator "
                "and denominator are exact DECIMAL sums divided once "
                "in double and rounded once.",
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (load(spark, sf_dir, "part")
            .filter(F.col("p_type") == "ECONOMY").select("p_partkey"))
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = (load(spark, sf_dir, "nation")
          .select(F.col("n_nationkey").alias("snk"),
                  F.col("n_name").alias("supp_nation")))
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = (load(spark, sf_dir, "region")
           .filter(F.col("r_name") == "ASIA").select("r_regionkey"))
    market_cust = (load(spark, sf_dir, "customer")
                   .select("c_custkey", "c_nationkey")
                   .join(F.broadcast(nat),
                         F.col("c_nationkey") == nat.n_nationkey)
                   .join(F.broadcast(reg),
                         nat.n_regionkey == reg.r_regionkey)
                   .select("c_custkey"))
    orders = (load(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= "1996-01-01")
                      & (F.col("o_orderdate") < "1998-01-01"))
              .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
    target = F.when(F.col("supp_nation") == "NATION_5", _disc_price()) \
              .otherwise(F.lit(0).cast(DecimalType(18, 2)))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(part, li.l_partkey == part.p_partkey)
              .join(supp, li.l_suppkey == supp.s_suppkey)
              .join(F.broadcast(sn), supp.s_nationkey == sn.snk)
              .join(market_cust,
                    orders.o_custkey == market_cust.c_custkey)
              .groupBy(F.year("o_orderdate").alias("o_year"))
              .agg(F.round(F.sum(target).cast("double")
                           / F.sum(_disc_price()).cast("double"), 6)
                    .alias("mkt_share")))


@register(
    "late_line_priority_mix",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS high_priority_lines,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT)
               AS low_priority_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 365 DAY
      AND l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate < TIMESTAMP '1999-01-01'
    GROUP BY l_linestatus
    """,
    operators="J1,A5,P7",
    description="TPC-H Q12 shape (shipping modes / order priority): "
                "for each line status, how many critically-late lines "
                "(shipped >365 days after ordering — the testdata has "
                "no l_commitdate/l_receiptdate, so lateness is "
                "ship-vs-order; the schema keeps Q12's fact⋈orders + "
                "two-way conditional-count form) came from "
                "high-priority vs other orders. The cross-table "
                "lateness predicate can only run post-join, but the "
                "ship-year range pushes to the fact scan first; the "
                "conditional counts are one pass, map-side partial.",
)
def late_line_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1998-01-01")
                  & (F.col("l_shipdate") < "1999-01-01"))
          .select("l_orderkey", "l_linestatus", "l_shipdate"))
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .filter(F.col("l_shipdate")
                      > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS"))
              .groupBy("l_linestatus")
              .agg(F.sum(F.when(is_high, 1).otherwise(0))
                    .alias("high_priority_lines"),
                   F.sum(F.when(is_high, 0).otherwise(1))
                    .alias("low_priority_lines")))


@register(
    "dominant_part_suppliers",
    oracle="""
    WITH pp AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem
      JOIN part ON l_partkey = p_partkey AND p_name LIKE 'small%'
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate < TIMESTAMP '1999-01-01'
      GROUP BY 1, 2
    ), totals AS (
      SELECT pk AS tpk, SUM(qty) AS part_total FROM pp GROUP BY 1
    )
    SELECT DISTINCT s_suppkey, s_name, n_name
    FROM pp
      JOIN totals ON pk = tpk
      JOIN supplier ON sk = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
    WHERE qty > part_total * CAST(0.3 AS DECIMAL(2,1))
    """,
    operators="A5,P8,J1",
    description="TPC-H Q20 shape (potential part promotion): suppliers "
                "who dominate (>30% of shipped quantity of) at least "
                "one part in a flagged name family during one year — "
                "the testdata has no partsupp/ps_availqty, so shipped "
                "lineitem quantity plays the availability role; the "
                "shape (per-(part,supplier) aggregate vs a correlated "
                "per-part threshold, then a semi-join chain up to the "
                "supplier dimension) is Q20's. The threshold compare "
                "stays in exact DECIMAL; the per-part totals table is "
                "|parts|-row — it grows with the part catalog, so its "
                "join strategy is AQE's call, not a pinned hint (r08).",
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = (load(spark, sf_dir, "part")
             .filter(F.col("p_name").startswith("small"))
             .select("p_partkey"))
    li = (load(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1998-01-01")
                  & (F.col("l_shipdate") < "1999-01-01"))
          .select("l_partkey", "l_suppkey", "l_quantity"))
    pp = (li.join(parts, li.l_partkey == parts.p_partkey)
            .groupBy(F.col("l_partkey").alias("pk"),
                     F.col("l_suppkey").alias("sk"))
            .agg(F.sum(dec2("l_quantity")).alias("qty")))
    totals = (pp.groupBy(F.col("pk").alias("tpk"))
                .agg(F.sum("qty").alias("part_total")))
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (pp.join(totals, pp.pk == totals.tpk)
              .filter(F.col("qty")
                      > F.col("part_total")
                      * F.lit("0.3").cast(DecimalType(2, 1)))
              .select("sk").distinct()
              .join(supp, F.col("sk") == supp.s_suppkey)
              .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
              .select("s_suppkey", "s_name", "n_name"))


@register(
    "blamed_suppliers_waiting",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE
                 WHEN l_shipdate > o_orderdate + INTERVAL 365 DAY
                 THEN l_suppkey END) AS n_late,
             MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 365 DAY
                 THEN l_suppkey END) AS blamed
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY l_orderkey
    )
    SELECT s_name, COUNT(*) AS waiting_orders
    FROM per_order JOIN supplier ON blamed = s_suppkey
    WHERE n_supp > 1 AND n_late = 1
    GROUP BY s_name
    ORDER BY waiting_orders DESC, s_name ASC LIMIT 10
    """,
    operators="A5,P8,J8,O2",
    description="TPC-H Q21 shape (suppliers who kept orders waiting): "
                "for finalized multi-supplier orders where EXACTLY one "
                "supplier shipped critically late (>365 days after "
                "ordering — lateness is ship-vs-order, no commit/"
                "receipt dates in the testdata), count orders per "
                "blamed supplier. Q21's correlated EXISTS / NOT EXISTS "
                "self-join pair is decorrelated into ONE per-order "
                "aggregate: n_supp>1 encodes the EXISTS (another "
                "supplier touched the order), n_late=1 the NOT EXISTS "
                "(no OTHER supplier was late), and MAX picks the "
                "unique culprit — one shuffle on orderkey instead of "
                "three fact self-joins. The two distinct aggregates "
                "expand 2x, which beats re-scanning lineitem twice.",
)
def blamed_suppliers_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    orders = (load(spark, sf_dir, "orders")
              .filter(F.col("o_orderstatus") == "F")
              .select("o_orderkey", "o_orderdate"))
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = (F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS"))
    late_supp = F.when(late, F.col("l_suppkey"))
    per_order = (li.join(orders, li.l_orderkey == orders.o_orderkey)
                   .groupBy("l_orderkey")
                   .agg(F.countDistinct("l_suppkey").alias("n_supp"),
                        F.countDistinct(late_supp).alias("n_late"),
                        F.max(late_supp).alias("blamed")))
    return (per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
                     .join(supp,
                           F.col("blamed") == supp.s_suppkey)
                     .groupBy("s_name")
                     .agg(F.count("*").alias("waiting_orders"))
                     .orderBy(F.col("waiting_orders").desc(),
                              F.col("s_name").asc())
                     .limit(10))


@register(
    "grouping_sets_revenue",
    oracle=f"""
    SELECT n_name,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           GROUPING(n_name) AS g_nation,
           GROUPING(EXTRACT(year FROM o_orderdate)) AS g_year,
           CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name, EXTRACT(year FROM o_orderdate)),
                            (n_name), (EXTRACT(year FROM o_orderdate)), ())
    """,
    operators="A5,J1-J5",
    description="Explicit GROUPING SETS (the general form rollup/cube "
                "specialize): revenue by (nation, year), by nation, by "
                "year, and grand total, computed TWO-PHASE: a plain "
                "(nation, year) aggregate first — one fact shuffle — "
                "then GROUPING SETS over that |nations|x|years|-row "
                "frame, where the 4x Expand multiplies ~175 rows "
                "instead of every fact row. SUM re-aggregates "
                "losslessly (exact DECIMAL partials), so this is "
                "bit-identical to the single-phase plan but shuffles "
                "a quarter of the volume — the rewrite that matters "
                "when Expand would otherwise 4x a 100 TB shuffle. "
                "GROUPING() markers disambiguate a real NULL group "
                "value from a rolled-up one, and make the four strata "
                "hash-comparable across engines.",
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
              .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
              .agg(F.sum(_disc_price()).alias("_rev")))
    return (base.groupingSets([["n_name", "o_year"], ["n_name"],
                               ["o_year"], []],
                              "n_name", "o_year")
                .agg(F.grouping("n_name").cast("int").alias("g_nation"),
                     F.grouping("o_year").cast("int").alias("g_year"),
                     F.sum("_rev").cast("double").alias("revenue"))
                .select("n_name", "o_year", "g_nation", "g_year",
                        "revenue"))


@register(
    "snapshot_reconciliation",
    oracle="""
    WITH prev AS (
      SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 19 <> 0
    ), curr AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0
                  THEN CAST(CAST(c_acctbal AS DECIMAL(18,2))
                            + CAST(10.00 AS DECIMAL(18,2)) AS DOUBLE)
                  ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 23 <> 0
    )
    SELECT CASE WHEN p.c_custkey IS NULL THEN 'added'
                WHEN c.c_custkey IS NULL THEN 'removed'
                WHEN p.c_acctbal <> c.c_acctbal THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(COALESCE(c.c_acctbal, 0) AS DECIMAL(18,2))
                    - CAST(COALESCE(p.c_acctbal, 0) AS DECIMAL(18,2)))
                AS DOUBLE) AS balance_delta
    FROM prev p FULL OUTER JOIN curr c ON p.c_custkey = c.c_custkey
    GROUP BY 1
    """,
    operators="J1,A5,P7",
    description="Snapshot reconciliation (the audit counterpart of the "
                "upsert sink, sources/sinks.py): FULL OUTER join of two "
                "keyed table versions classifying every key as added / "
                "removed / changed / unchanged, with the net measure "
                "delta per class — how a warehouse diffs yesterday's "
                "dimension load against today's before publishing. The "
                "two versions are derived deterministically from the "
                "customer table (%19 / %23 key drops + a %7 balance "
                "bump) so the oracle sees identical inputs. A full "
                "outer join cannot broadcast (both sides must surface "
                "unmatched rows) — it shuffles both sides on the key "
                "once, which is the correct and only plan at 100 TB; "
                "the per-class rollup is 4 rows.",
)
def snapshot_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    prev = (cust.filter(F.col("c_custkey") % 19 != 0)
                .select(F.col("c_custkey").alias("pk"),
                        F.col("c_acctbal").alias("prev_bal")))
    bumped = (dec2("c_acctbal")
              + F.lit("10.00").cast(DecimalType(18, 2))).cast("double")
    curr = (cust.filter(F.col("c_custkey") % 23 != 0)
                .select(F.col("c_custkey").alias("ck"),
                        F.when(F.col("c_custkey") % 7 == 0, bumped)
                         .otherwise(F.col("c_acctbal")).alias("curr_bal")))
    change = (F.when(F.col("pk").isNull(), "added")
               .when(F.col("ck").isNull(), "removed")
               .when(F.col("prev_bal") != F.col("curr_bal"), "changed")
               .otherwise("unchanged"))
    zero = F.lit(0).cast(DecimalType(18, 2))
    delta = (F.coalesce(dec2("curr_bal"), zero)
             - F.coalesce(dec2("prev_bal"), zero))
    return (prev.join(curr, prev.pk == curr.ck, "full_outer")
                .groupBy(change.alias("change_type"))
                .agg(F.count("*").alias("n_rows"),
                     F.sum(delta).cast("double").alias("balance_delta")))
