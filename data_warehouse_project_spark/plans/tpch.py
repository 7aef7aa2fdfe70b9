"""TPC-H-style headline queries over the driver star schema.

The reference delegates all heavy lifting to MySQL and never runs an
analytical query; these are the engine's capability-bar analytics
(SURVEY.md §2.4 extension note) and the core of bench.py. Shapes are
modeled on the public TPC-H spec (Q1/Q3/Q5), adapted to the driver
schema's columns (no o_shippriority / l_commitdate etc.).

Scale notes per query are inline; the common theme: filter before
shuffle, aggregate before join where semantics allow, and let Catalyst
broadcast the dims it sizes under autoBroadcastJoinThreshold and AQE
pick the fact-fact strategy. An explicit F.broadcast stays only on a
joined dim (q5's supplier⋈nation⋈region, q10's customer⋈nation):
without CBO Catalyst estimates a join as the product of its inputs,
so it would shuffle them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.compat import (davg, dsum, fround, sql_davg,
                                sql_dsum, sql_fround)
from ..registry import register
from ..sources.catalog import Catalog


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: one-pass grouped multi-aggregate over the
    biggest fact. Partial aggregation (map-side combine) reduces each
    scan partition to ≤6 rows before the shuffle — the 100 TB plan is
    scan-bound, exactly as it should be."""
    cat = Catalog(spark, sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        cat.lineitem
        .filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base_price,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_extendedprice')} AS avg_price,
       {sql_davg('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customers (broadcast) against
    date-filtered orders and late-shipped lines, top-10 revenue.
    Both fact filters are pushed to the parquet scans; the final
    top-10 is a TakeOrdered, not a global sort."""
    cat = Catalog(spark, sf_dir)
    cust = cat.customer.filter(F.col("c_mktsegment") == "BUILDING")
    orders = cat.orders.filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz"))
    lines = cat.lineitem.filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp_ntz"))
    return (
        lines
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table star join, revenue per nation for
    intra-nation (customer nation = supplier nation) trade in one
    region. Every dim chain (supplier→nation→region, customer)
    broadcasts; only lineitem⋈orders shuffles."""
    cat = Catalog(spark, sf_dir)
    nr = (
        cat.nation.join(cat.region,
                        F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select("n_nationkey", "n_name")
    )
    supp = cat.supplier.join(F.broadcast(nr),
                             F.col("s_nationkey") == F.col("n_nationkey"))
    return (
        cat.lineitem
        .join(cat.orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cat.customer,
              (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
        .orderBy(F.col("revenue").desc())
    )


Q5_SQL = f"""
SELECT n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filtered scan-aggregate, the pushdown
    showcase — all three predicates reach the parquet reader; the
    job returns one row per scan partition pre-shuffle."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.lineitem
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


Q6_SQL = f"""
SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


register("q1_pricing_summary", q1_pricing_summary, Q1_SQL)
register("q3_shipping_priority", q3_shipping_priority, Q3_SQL)
register("q5_local_supplier_volume", q5_local_supplier_volume, Q5_SQL)
register("q6_forecast_revenue", q6_forecast_revenue, Q6_SQL)


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: priority counts over orders having ≥1 late-
    shipped line — EXISTS decorrelated to a left-semi join; the fact
    filter runs before the semi join so the shuffle carries only
    late lines."""
    cat = Catalog(spark, sf_dir)
    orders = cat.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")))
    late_lines = cat.lineitem.filter(
        F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp_ntz"))
    return (
        orders.join(late_lines,
                    F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > TIMESTAMP '1999-01-01')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns —
    date-filtered orders ⋈ returned lines, grouped on the (broadcast)
    customer dim with its nation."""
    cat = Catalog(spark, sf_dir)
    orders = cat.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz")))
    returned = cat.lineitem.filter(F.col("l_returnflag") == "R")
    cust_nation = cat.customer.join(
        cat.nation,
        F.col("c_nationkey") == F.col("n_nationkey"))
    return (
        returned.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_nation), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: no l_shipmode column — bucket by
    late vs on-time shipping): per order priority class, how many
    orders shipped late vs on time. Conditional aggregation over one
    join — the CASE-sum pattern."""
    cat = Catalog(spark, sf_dir)
    joined = cat.lineitem.join(
        cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    return (
        joined.groupBy(late.alias("shipped_late"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_lines"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_priority_lines"),
        )
    )


Q12_SQL = """
SELECT l_shipdate > o_orderdate + INTERVAL 90 DAY AS shipped_late,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


register("q4_order_priority", q4_order_priority, Q4_SQL)
register("q10_returned_items", q10_returned_items, Q10_SQL)
register("q12_shipmode_priority", q12_shipmode_priority, Q12_SQL)


def q14_conditional_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-style revenue share — a ratio of a
    conditional sum to the total, one pass. Both sums use the exact
    scaled-integer layer, the final ratio is one IEEE divide."""
    cat = Catalog(spark, sf_dir)
    joined = (
        cat.lineitem
        .filter((F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
                & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp_ntz")))
        .join(cat.part, F.col("l_partkey") == F.col("p_partkey"))
    )
    term = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    scaled = F.floor(term * F.lit(1e4) + F.lit(0.5)).cast("long")
    promo = F.sum(F.when(F.col("p_type").startswith("SMALL"), scaled)
                  .otherwise(F.lit(0)))
    total = F.sum(scaled)
    return joined.agg(
        fround(F.lit(100.0) * promo.cast("double") / total.cast("double"), 6)
        .alias("small_revenue_pct"))


Q14_SQL = f"""
SELECT {sql_fround(
    "100.0 * CAST(SUM(CASE WHEN p_type LIKE 'SMALL%' THEN "
    "CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1e4 + 0.5) AS BIGINT) "
    "ELSE 0 END) AS DOUBLE) / "
    "CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1e4 + 0.5) "
    "AS BIGINT)) AS DOUBLE)", 6)} AS small_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1997-02-01'
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over an aggregation — orders whose
    total line quantity exceeds a threshold, joined back to customer
    detail. The HAVING filter runs on the aggregated (small) side
    before the detail joins."""
    cat = Catalog(spark, sf_dir)
    big_orders = (
        cat.lineitem.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 300)            # HAVING
    )
    return (
        big_orders
        .join(cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cat.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                "o_totalprice", "total_qty")
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey"))
    )


Q18_SQL = f"""
WITH big AS (
    SELECT l_orderkey, {sql_dsum('l_quantity')} AS total_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING {sql_dsum('l_quantity')} > 300
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
"""


register("q14_conditional_ratio", q14_conditional_ratio, Q14_SQL)
register("q18_large_volume_customers", q18_large_volume_customers, Q18_SQL)
