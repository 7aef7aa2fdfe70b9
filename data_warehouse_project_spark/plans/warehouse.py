"""Dimensional warehouse layer: dim/fact views + multi-level
aggregations (rollup / cube / grouping sets).

The reference's schema is OLTP (users/events/registrations/payments);
its dimensional reading (SURVEY.md §1.2) maps onto the driver star
schema as: customer/nation/region/part/supplier → dims, orders/
lineitem → facts. `build_views` registers the conformed views; the
queries below are the capability-bar aggregations the reference
lacks entirely (SURVEY.md §2.4 note).

Scale notes: rollup/cube expand to grouping-set unions *before* the
shuffle, so cost is (#grouping sets) partial aggregates over one scan
— not one scan per level. Dim snowflake (nation⋈region) broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.compat import (dsum, dsum_over, fround, sql_davg, sql_dsum,
                                sql_dsum_over, sql_fround)
from ..operators.windows import disc_quantiles
from ..registry import register
from ..sources.catalog import Catalog


def build_views(spark: SparkSession, sf_dir: str) -> None:
    """Register conformed dim/fact temp views (dim_customer denorm
    through the nation→region snowflake; facts as-is)."""
    cat = Catalog(spark, sf_dir)
    dim_customer = (
        cat.customer
        .join(F.broadcast(cat.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(cat.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal",
                F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
    )
    dim_customer.createOrReplaceTempView("dim_customer")
    cat.orders.createOrReplaceTempView("fact_orders")
    cat.lineitem.createOrReplaceTempView("fact_lineitem")


def star_denorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denormalized star join: fact_orders ⋈ dim_customer (snowflaked
    through nation/region) — the warehouse's conformed read path."""
    build_views(spark, sf_dir)
    return spark.sql("""
        SELECT o_orderkey, o_totalprice, o_orderstatus,
               c_custkey, c_mktsegment, nation, region
        FROM fact_orders JOIN dim_customer ON o_custkey = c_custkey
    """)


STAR_DENORM_SQL = """
SELECT o_orderkey, o_totalprice, o_orderstatus,
       c_custkey, c_mktsegment, n_name AS nation, r_name AS region
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
"""


def rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (status, priority): per-combination, per-status,
    and grand-total rows in one pass."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.orders
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"),
             dsum(F.col("o_totalprice")).alias("total_price"))
    )


ROLLUP_SQL = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def cube_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 2^2 grouping sets."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.lineitem
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_lines"),
             dsum(F.col("l_quantity")).alias("sum_qty"))
    )


CUBE_SQL = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def grouping_sets_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS: ((status), (priority), ()) — the
    general form rollup/cube compile to."""
    cat = Catalog(spark, sf_dir)
    cat.orders.createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               -- 1e4-style literals: DOUBLE in Spark SQL (x.y literals
               -- would parse as DECIMAL and change the output type)
               (FLOOR((CAST(SUM(CAST(FLOOR(o_totalprice * 1e4 + cast(0.5 as double))
                    AS BIGINT)) AS DOUBLE) / (1e4 * COUNT(o_totalprice)))
                    * 1e6 + cast(0.5 as double)) / 1e6) AS avg_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


GROUPING_SETS_SQL = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       {sql_davg('o_totalprice')} AS avg_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def window_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows over the payments-like fact (SURVEY.md §2.5
    engine surface): running sum, lag/lead, rank — per customer by
    order date. One shuffle on the partition key serves all four
    window functions (same window frame)."""
    from pyspark.sql import Window
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return cat.orders.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        dsum_over(
            F.col("o_totalprice"),
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("running_spend"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.row_number().over(w).alias("order_seq"),
    )


WINDOW_RUNNING_SQL = f"""
SELECT o_custkey, o_orderkey, o_orderdate,
       {sql_dsum_over('o_totalprice', '(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)')} AS running_spend,
       LAG(o_totalprice, 1) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
       LEAD(o_totalprice, 1) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price,
       ROW_NUMBER() OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
FROM orders
"""


def top_k_per_group_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per market segment — the generalized
    top-k-per-group operator (operators.windows) as a query."""
    from ..operators.windows import top_k_per_group
    cat = Catalog(spark, sf_dir)
    joined = cat.orders.join(cat.customer,
                             F.col("o_custkey") == F.col("c_custkey"))
    # every key sorts descending; negate the tiebreaker so it sorts
    # ascending (price DESC, orderkey ASC — deterministic ties)
    return top_k_per_group(
        joined, ["c_mktsegment"],
        [F.col("o_totalprice"), -F.col("o_orderkey")],
        k=3, rank_col="price_rank",
    ).select("c_mktsegment", "price_rank", "o_orderkey", "o_totalprice")


TOP_K_PER_GROUP_SQL = """
SELECT c_mktsegment, price_rank, o_orderkey, o_totalprice
FROM (
    SELECT c_mktsegment, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                              ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
    FROM orders JOIN customer ON o_custkey = c_custkey
) t WHERE price_rank <= 3
"""


def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows (round 4, SURVEY.md §2.5 engine surface):
    NTILE(4) price quartiles per order status, summarized per
    quartile with the mean percent_rank / cume_dist of its members.

    Determinism policy: the window orders by (o_totalprice,
    o_orderkey) — a unique total order, so NTILE bucket assignment is
    identical in both engines (SQL-standard: first N mod k buckets
    take the extra row). The per-quartile means are computed from
    SUM(row_number) — exact integer arithmetic, one IEEE divide at
    the end — because averaging per-row double fractions would be
    FP-order-dependent across engines (compat.py policy).

    Scale: one shuffle on o_orderstatus serves all three window
    functions (same frame); the groupBy reuses that partitioning, so
    the second aggregation is shuffle-free under AQE."""
    from pyspark.sql import Window
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("o_orderstatus").orderBy(
        "o_totalprice", "o_orderkey")
    wp = Window.partitionBy("o_orderstatus")
    ranked = cat.orders.select(
        "o_orderstatus", "o_totalprice",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.row_number().over(w).cast("long").alias("r"),
        F.count("*").over(wp).cast("long").alias("n_part"))
    n, sum_r, n_part = F.col("n_orders"), F.col("sum_r"), F.col("n_part")
    return (
        ranked.groupBy("o_orderstatus", "quartile")
        .agg(F.count("*").cast("long").alias("n_orders"),
             F.min("o_totalprice").alias("min_price"),
             F.max("o_totalprice").alias("max_price"),
             F.sum("r").cast("long").alias("sum_r"),
             F.max("n_part").alias("n_part"))
        .select(
            "o_orderstatus", "quartile", "n_orders", "min_price",
            "max_price",
            fround((sum_r - n) /
                   (n * F.greatest(n_part - 1, F.lit(1))), 6)
            .alias("avg_percent_rank"),
            fround(sum_r / (n * n_part), 6).alias("avg_cume_dist"),
        )
    )


WINDOW_NTILE_SQL = f"""
WITH ranked AS (
    SELECT o_orderstatus, o_totalprice,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS r,
           CAST(COUNT(*) OVER (PARTITION BY o_orderstatus) AS BIGINT)
               AS n_part
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice, o_orderkey)
),
agg AS (
    SELECT o_orderstatus, quartile,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           MAX(n_part) AS n_part
    FROM ranked GROUP BY 1, 2
)
SELECT o_orderstatus, quartile, n_orders, min_price, max_price,
       {sql_fround('(sum_r - n_orders) / CAST(n_orders'
                   ' * GREATEST(n_part - 1, 1) AS DOUBLE)', 6)}
           AS avg_percent_rank,
       {sql_fround('sum_r / CAST(n_orders * n_part AS DOUBLE)', 6)}
           AS avg_cume_dist
FROM agg
"""


register("star_denorm", star_denorm, STAR_DENORM_SQL)
register("window_ntile_quartiles", window_ntile_quartiles, WINDOW_NTILE_SQL)
register("rollup_status_priority", rollup_status_priority, ROLLUP_SQL)
register("cube_flags", cube_flags, CUBE_SQL)
register("grouping_sets_mixed", grouping_sets_mixed, GROUPING_SETS_SQL)
register("window_running_totals", window_running_totals, WINDOW_RUNNING_SQL)
register("top_k_per_group", top_k_per_group_query, TOP_K_PER_GROUP_SQL)


def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period seasonality: monthly gross revenue with the
    previous month's value (LAG) and the month-over-month growth rate
    — the time-series reporting shape missing from the cumulative
    windows (window_running_totals is a running total; this is a
    lagged delta).

    Revenue sums are order-independent exact (compat.dsum guard-scaled
    integers) BEFORE the window, so LAG operates on identical doubles
    in both engines; growth rounds to 6dp. The window runs over the
    ~84-row monthly aggregate, never the fact table — at 100 TB the
    shuffle is the month groupBy, and the single-partition LAG window
    sees only months × 1 rows.
    """
    cat = Catalog(spark, sf_dir)
    from pyspark.sql import Window
    monthly = (
        cat.lineitem
        .groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("month"))
        .agg(dsum(F.col("l_extendedprice")
                  * (1 - F.col("l_discount"))).alias("revenue"))
    )
    w = Window.orderBy("month")
    return (
        monthly
        .withColumn("prev_revenue", F.lag("revenue").over(w))
        .select(
            "month", "revenue", "prev_revenue",
            fround((F.col("revenue") - F.col("prev_revenue"))
                   / F.col("prev_revenue"), 6).alias("mom_growth"),
        )
        .orderBy("month")
    )


MONTHLY_GROWTH_SQL = f"""
WITH monthly AS (
    SELECT date_trunc('month', l_shipdate) AS month,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem GROUP BY 1
),
lagged AS (
    SELECT month, revenue,
           LAG(revenue) OVER (ORDER BY month) AS prev_revenue
    FROM monthly
)
SELECT month, revenue, prev_revenue,
       {sql_fround('(revenue - prev_revenue) / prev_revenue', 6)}
           AS mom_growth
FROM lagged ORDER BY month
"""


#: Pareto report size
PARETO_TOP_N = 25


def part_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto/ABC) report: the PARETO_TOP_N
    highest-revenue parts with each part's share and the running
    cumulative share of TOTAL corpus revenue — the 80/20 analysis
    behind assortment and inventory-tiering decisions.

    Scale: per-part revenue is one map-side-combinable groupBy; the
    top-N survivors come from TakeOrdered (no global sort), and the
    cumulative window runs over those N rows only, with the corpus
    total attached as a broadcast one-row scalar. Exact integer-guard
    sums make every share deterministic cross-engine.
    """
    cat = Catalog(spark, sf_dir)
    from pyspark.sql import Window
    per_part = (
        cat.lineitem.groupBy("l_partkey")
        .agg(dsum(F.col("l_extendedprice")
                  * (1 - F.col("l_discount"))).alias("revenue"))
    )
    total = per_part.agg(dsum_like_total(per_part))
    top = (per_part
           .orderBy(F.col("revenue").desc(), F.col("l_partkey"))
           .limit(PARETO_TOP_N))
    w = (Window.orderBy(F.col("revenue").desc(), F.col("l_partkey"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        top.join(total)
        .select(
            "l_partkey", "revenue",
            fround(F.col("revenue") / F.col("total_revenue"), 6)
            .alias("share"),
            fround(F.sum("revenue").over(w) / F.col("total_revenue"), 6)
            .alias("cum_share"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_partkey"))
    )


def dsum_like_total(per_part: DataFrame):
    """Exact total of already-rounded per-part revenues: 2dp values
    scale losslessly to integer hundredths, sum exactly, come back —
    the same order-independence policy as compat.dsum."""
    return (F.sum(F.floor(F.col("revenue") * 100 + F.lit(0.5)).cast("long"))
            .cast("double") / F.lit(100.0)).alias("total_revenue")


PART_PARETO_SQL = f"""
WITH per_part AS (
    SELECT l_partkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem GROUP BY 1
),
total AS (
    SELECT CAST(SUM(CAST(FLOOR(revenue * 100 + 0.5) AS BIGINT)) AS DOUBLE)
           / 100.0 AS total_revenue
    FROM per_part
),
top AS (
    SELECT l_partkey, revenue FROM per_part
    ORDER BY revenue DESC, l_partkey LIMIT {PARETO_TOP_N}
)
SELECT t.l_partkey, t.revenue,
       {sql_fround('t.revenue / total.total_revenue', 6)} AS share,
       {sql_fround('SUM(t.revenue) OVER (ORDER BY t.revenue DESC,'
                   ' t.l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND'
                   ' CURRENT ROW) / total.total_revenue', 6)} AS cum_share
FROM top t CROSS JOIN total
ORDER BY t.revenue DESC, t.l_partkey
"""

register("monthly_revenue_growth", monthly_revenue_growth,
         MONTHLY_GROWTH_SQL)
register("part_pareto_concentration", part_pareto_concentration,
         PART_PARETO_SQL)


# --------------------------------------------------------------------------
# Shipping-latency SLA quantiles
# --------------------------------------------------------------------------

def ship_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLA report: exact discrete p50/p90/p99 of
    (l_shipdate - o_orderdate) in days, per order priority — the
    fulfillment-ops percentile dashboard. Latency days are a BOUNDED
    integer domain (TPC-H ships within ~122 days), so the quantiles
    come from a (priority, latency_day) count histogram: the fact-fact
    join shuffles once on orderkey, the ranking windows see only the
    tiny histogram (`operators.windows.disc_quantiles`).
    """
    cat = Catalog(spark, sf_dir)
    lat = (cat.lineitem
           .join(cat.orders,
                 F.col("l_orderkey") == F.col("o_orderkey"))
           .select("o_orderpriority",
                   F.datediff("l_shipdate", "o_orderdate").alias("lat")))
    return (
        disc_quantiles(lat, ["o_orderpriority"], "lat",
                       {"p50_days": (1, 2), "p90_days": (9, 10),
                        "p99_days": (99, 100)})
        .select("o_orderpriority",
                F.col("n").alias("n_lines"),
                *[F.col(c).cast("long").alias(c)
                  for c in ("p50_days", "p90_days", "p99_days")])
        .orderBy("o_orderpriority")
    )


SHIP_LATENCY_SQL = """
WITH hist AS (
    SELECT o.o_orderpriority,
           date_diff('day', o.o_orderdate, l.l_shipdate) AS lat,
           COUNT(*) AS c
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
),
ranked AS (
    SELECT o_orderpriority, lat,
           SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY lat
                        ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(c) OVER (PARTITION BY o_orderpriority) AS n
    FROM hist
)
SELECT o_orderpriority,
       CAST(MAX(n) AS BIGINT) AS n_lines,
       CAST(MIN(CASE WHEN cum * 2 >= n THEN lat END) AS BIGINT)
           AS p50_days,
       CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN lat END) AS BIGINT)
           AS p90_days,
       CAST(MIN(CASE WHEN cum * 100 >= n * 99 THEN lat END) AS BIGINT)
           AS p99_days
FROM ranked
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

register("ship_latency_quantiles", ship_latency_quantiles,
         SHIP_LATENCY_SQL)


# --------------------------------------------------------------------------
# Customer acquisition-cohort revenue matrix
# --------------------------------------------------------------------------

def customer_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition-cohort LTV matrix: customers cohort by the month of
    their FIRST order; each (cohort_month, months_since_first) cell
    reports active customers and revenue — the retention/LTV view
    every subscription/commerce warehouse serves (the events-side
    events_retention_cohorts applied to the revenue fact).

    Scale: first-order month is one map-side-combinable
    groupBy(custkey); the cohort join shuffles on custkey (or
    broadcasts when the customer dim is small); the output aggregate
    is months × months rows. Month arithmetic is pure integers
    (year·12+month), revenue is compat.dsum exact."""
    cat = Catalog(spark, sf_dir)
    om = F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    first = (
        cat.orders
        .groupBy("o_custkey")
        .agg(F.min(om).alias("cohort_m"))
    )
    return (
        cat.orders
        .withColumn("order_m", om)
        .join(first, "o_custkey")
        .groupBy(
            # floor-division, not cast-truncation: Spark's double→int
            # cast truncates while DuckDB's CAST rounds — FLOOR (and
            # DuckDB's // int division) is the shared exact form
            F.make_date(F.floor(F.col("cohort_m") / 12).cast("int"),
                        F.col("cohort_m") % 12 + 1, F.lit(1))
            .cast("timestamp_ntz")  # timestamp, not date: both engines
            .alias("cohort_month"),  # then normalize identically
            (F.col("order_m") - F.col("cohort_m")).cast("long")
            .alias("months_since"),
        )
        .agg(
            F.count_distinct("o_custkey").cast("long")
            .alias("n_active_customers"),
            F.count("*").cast("long").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
        .orderBy("cohort_month", "months_since")
    )


COHORT_SQL = f"""
WITH om AS (
    SELECT o_custkey, o_totalprice,
           YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS order_m
    FROM orders
),
first AS (
    SELECT o_custkey, MIN(order_m) AS cohort_m FROM om GROUP BY o_custkey
)
SELECT CAST(MAKE_DATE(CAST(f.cohort_m // 12 AS INT),
                      CAST(f.cohort_m % 12 + 1 AS INT), 1)
            AS TIMESTAMP) AS cohort_month,
       CAST(o.order_m - f.cohort_m AS BIGINT) AS months_since,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active_customers,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_dsum('o.o_totalprice')} AS revenue
FROM om o JOIN first f ON o.o_custkey = f.o_custkey
GROUP BY 1, 2
ORDER BY cohort_month, months_since
"""

register("customer_cohort_revenue", customer_cohort_revenue, COHORT_SQL)


# --------------------------------------------------------------------------
# Supplier scorecard
# --------------------------------------------------------------------------

#: scorecard size
SCORECARD_TOP_N = 25


def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier operations scorecard: the SCORECARD_TOP_N
    suppliers by net revenue with line volume, return fraction, and
    exact median order→ship latency — the vendor-management
    dashboard (revenue concentration × quality × speed in one view).

    Scale: one fact-fact join (lineitem⋈orders on the order key),
    one map-side-combinable supplier aggregate carrying integer
    counts + guard-scaled revenue, and a per-supplier latency
    histogram whose ranking window sees (supplier, latency-day)
    cells only (≤ ~122 distinct days each); supplier names attach by
    broadcast; TakeOrdered picks the top N — no global sort."""
    cat = Catalog(spark, sf_dir)
    lines = (
        cat.lineitem
        .join(cat.orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_suppkey",
            F.datediff("l_shipdate", "o_orderdate").alias("lat"),
            (F.col("l_returnflag") == "R").cast("long").alias("ret"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("net"),
        )
    )
    base = lines.groupBy("l_suppkey").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("ret").cast("long").alias("n_returned"),
        dsum(F.col("net")).alias("revenue"))
    med = (disc_quantiles(lines, ["l_suppkey"], "lat",
                          {"p50_latency_days": (1, 2)})
           .select("l_suppkey", F.col("p50_latency_days").cast("long")
                   .alias("p50_latency_days")))
    return (
        base.join(med, "l_suppkey")
        .join(cat.supplier.select("s_suppkey", "s_name"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_suppkey", "s_name", "n_lines", "revenue",
                fround(F.col("n_returned") / F.col("n_lines"), 6)
                .alias("return_frac"),
                "p50_latency_days")
        .orderBy(F.col("revenue").desc(), "l_suppkey")
        .limit(SCORECARD_TOP_N)
    )


SUPPLIER_SCORECARD_SQL = f"""
WITH lines AS (
    SELECT l.l_suppkey,
           date_diff('day', o.o_orderdate, l.l_shipdate) AS lat,
           CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
           l.l_extendedprice * (1 - l.l_discount) AS net
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
base AS (
    SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(ret) AS BIGINT) AS n_returned,
           {sql_dsum('net')} AS revenue
    FROM lines GROUP BY l_suppkey
),
med AS (
    SELECT l_suppkey,
           CAST(MIN(CASE WHEN cum * 2 >= n THEN lat END) AS BIGINT)
               AS p50_latency_days
    FROM (SELECT l_suppkey, lat,
                 SUM(c) OVER (PARTITION BY l_suppkey ORDER BY lat
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(c) OVER (PARTITION BY l_suppkey) AS n
          FROM (SELECT l_suppkey, lat, COUNT(*) AS c FROM lines
                GROUP BY l_suppkey, lat))
    GROUP BY l_suppkey
)
SELECT b.l_suppkey, s.s_name, b.n_lines, b.revenue,
       {sql_fround('b.n_returned / CAST(b.n_lines AS DOUBLE)', 6)}
           AS return_frac,
       m.p50_latency_days
FROM base b
JOIN med m ON b.l_suppkey = m.l_suppkey
JOIN supplier s ON b.l_suppkey = s.s_suppkey
ORDER BY b.revenue DESC, b.l_suppkey
LIMIT {SCORECARD_TOP_N}
"""

register("supplier_scorecard", supplier_scorecard, SUPPLIER_SCORECARD_SQL)


# --------------------------------------------------------------------------
# Open-order aging
# --------------------------------------------------------------------------

#: aging band upper bounds in days (last band is open-ended)
_AGING_BANDS = [30, 60, 90, 180, 365]


def order_aging_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-aging report: orders bucketed by age (days from order
    date to the corpus max order date) into standard 30/60/90/180/365
    bands, per status — the receivables/backlog view. Pure integer
    day arithmetic against a broadcast one-row anchor; the output is
    statuses × bands rows."""
    cat = Catalog(spark, sf_dir)
    anchor = cat.orders.agg(F.max("o_orderdate").alias("anchor"))
    age = F.datediff(F.col("anchor"), F.col("o_orderdate"))
    band = F.when(age <= _AGING_BANDS[0], F.lit(f"000-{_AGING_BANDS[0]:03d}"))
    prev = _AGING_BANDS[0]
    for ub in _AGING_BANDS[1:]:
        band = band.when(age <= ub, F.lit(f"{prev + 1:03d}-{ub:03d}"))
        prev = ub
    band = band.otherwise(F.lit(f"{_AGING_BANDS[-1] + 1:03d}+"))
    return (
        cat.orders.join(anchor)
        .groupBy("o_orderstatus", band.alias("age_band"))
        .agg(F.count("*").cast("long").alias("n_orders"),
             dsum(F.col("o_totalprice")).alias("total_value"))
        .orderBy("o_orderstatus", "age_band")
    )


def _aging_case_sql() -> str:
    parts = [f"WHEN age <= {_AGING_BANDS[0]} THEN '000-{_AGING_BANDS[0]:03d}'"]
    prev = _AGING_BANDS[0]
    for ub in _AGING_BANDS[1:]:
        parts.append(f"WHEN age <= {ub} THEN '{prev + 1:03d}-{ub:03d}'")
        prev = ub
    parts.append(f"ELSE '{_AGING_BANDS[-1] + 1:03d}+'")
    return "CASE " + " ".join(parts) + " END"


ORDER_AGING_SQL = f"""
WITH aged AS (
    SELECT o_orderstatus, o_totalprice,
           date_diff('day', o_orderdate,
                     (SELECT MAX(o_orderdate) FROM orders)) AS age
    FROM orders
)
SELECT o_orderstatus, {_aging_case_sql()} AS age_band,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_value
FROM aged
GROUP BY 1, 2
ORDER BY o_orderstatus, age_band
"""

register("order_aging_report", order_aging_report, ORDER_AGING_SQL)


def orders_rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order revenue with a trailing-7-day rolling sum — the
    time-RANGE window frame (RANGE BETWEEN 6 PRECEDING) the cumulative
    and LAG reports don't exercise: the frame is keyed by calendar
    distance, so gap days genuinely age out of the window instead of
    the frame sliding by row position.

    Scale: the shuffle is the daily groupBy over orders; the range
    window runs over the bounded daily aggregate (years × 365 rows),
    single-partition by design like the other calendar windows.
    Revenue is guard-scaled to exact longs BEFORE the window, the
    window sums integers (order-independent), and both engines descale
    with the same floor arithmetic — fully deterministic.
    """
    return rolling_7d_report(Catalog(spark, sf_dir).orders)


def rolling_7d_report(orders: DataFrame) -> DataFrame:
    """DataFrame-level core over (o_orderdate, o_totalprice) — exposed
    separately so property tests can drive it on arbitrary in-memory
    order sets (tests/test_analytics.py)."""
    from pyspark.sql import Window
    daily = (
        orders
        .groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day"))
        .agg(F.count("*").cast("long").alias("n_orders"),
             F.sum(F.floor(F.col("o_totalprice") * F.lit(10000.0)
                           + F.lit(0.5)).cast("long")).alias("rev_s"))
        .withColumn("day_num", F.datediff(F.col("day"),
                                          F.lit("1970-01-01").cast("date")))
    )
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    descale = lambda c: (F.floor((c + F.lit(50)) / F.lit(100.0))  # noqa: E731
                         .cast("double") / F.lit(100.0))
    return (
        daily
        .withColumn("roll_s", F.sum("rev_s").over(w))
        .select("day", "n_orders",
                descale(F.col("rev_s")).alias("day_revenue"),
                descale(F.col("roll_s")).alias("rolling_7d_revenue"))
        .orderBy("day")
    )


ROLLING_7D_SQL = """
WITH daily AS (
    SELECT date_trunc('day', o_orderdate) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 10000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_s,
           datediff('day', DATE '1970-01-01',
                    CAST(date_trunc('day', o_orderdate) AS DATE)) AS day_num
    FROM orders GROUP BY 1
),
rolled AS (
    SELECT day, n_orders, rev_s,
           CAST(SUM(rev_s) OVER (ORDER BY day_num
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS roll_s
    FROM daily
)
SELECT day, n_orders,
       (FLOOR((rev_s + 50) / 100.0) / 100.0) AS day_revenue,
       (FLOOR((roll_s + 50) / 100.0) / 100.0) AS rolling_7d_revenue
FROM rolled ORDER BY day
"""

register("orders_rolling_7d_revenue", orders_rolling_7d_revenue,
         ROLLING_7D_SQL)


#: rank tolerance of the gate, in thousandths (percentile_approx at
#: accuracy 10k guarantees ~0.1‰ rank error; gating at 10‰ leaves
#: headroom while still catching a broken sketch immediately)
APPROX_Q_TOL_PERMILLE = 10

#: percentiles the gate brackets, in thousandths
APPROX_Q_PERMILLE = (500, 900, 990)


def approx_quantile_accuracy_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible sketch-quality gate for percentile_approx (the
    quantile analog of minhash_accuracy_floor / ann_recall_floor):
    ONE row asserting that each approximate percentile of
    l_extendedprice honors its rank contract — strictly-below mass
    ≤ p+tol and at-or-below mass ≥ p−tol. Rank-bracket form is
    immune to ties and needs NO exact quantile: prices are ~all
    distinct, so an exact-rank histogram would be corpus-sized,
    while this gate is two linear passes (sketch, then counts with
    the three cut values attached broadcast) and integer-exact
    compares — the shape that survives 100×. A sketch regression
    flips a boolean and hash-mismatches the pinned-constant oracle.
    """
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.select("l_extendedprice")
    ps = [p / 1000.0 for p in APPROX_Q_PERMILLE]
    cuts = li.agg(F.percentile_approx(
        "l_extendedprice", ps, F.lit(10_000)).alias("v"))
    j = li.crossJoin(F.broadcast(cuts))
    aggs = [F.count("*").cast("long").alias("n")]
    for i in range(len(ps)):
        v = F.col("v")[i]
        aggs.append(F.sum((F.col("l_extendedprice") < v).cast("long"))
                    .alias(f"lt_{i}"))
        aggs.append(F.sum((F.col("l_extendedprice") <= v).cast("long"))
                    .alias(f"le_{i}"))
    counted = j.agg(*aggs)
    tol = APPROX_Q_TOL_PERMILLE
    out = [(F.col("n") > 0).alias("has_rows")]
    for i, pm in enumerate(APPROX_Q_PERMILLE):
        out.append(
            ((F.col(f"lt_{i}") * 1000 <= F.col("n") * (pm + tol))
             & (F.col(f"le_{i}") * 1000 >= F.col("n") * (pm - tol)))
            .alias(f"p{pm}_in_bracket"))
    return counted.select(*out)


APPROX_Q_SQL = """
SELECT TRUE AS has_rows,
       TRUE AS p500_in_bracket,
       TRUE AS p900_in_bracket,
       TRUE AS p990_in_bracket
"""

register("approx_quantile_accuracy_floor", approx_quantile_accuracy_floor,
         APPROX_Q_SQL)


def orders_backlog_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time by sweep-line: each order
    contributes +1 on its order day and -1 the day after its last
    shipment; the running sum of deltas IS the number of in-flight
    orders on each change day (the report is a step function — days
    between change days hold the previous value). Orders with no
    lineitems are excluded (they would never close).

    Scale: the only corpus-scale shuffles are the per-order max-ship
    aggregation and the orderkey join; the delta union collapses to
    calendar-day keys map-side, and the cumulative window runs over
    the bounded change-day aggregate — the sweep-line trick turns
    interval-overlap counting (quadratic done naively) into two
    linear passes plus a calendar-sized scan. Pure integer counts:
    deterministic cross-engine with no rounding machinery at all.
    """
    cat = Catalog(spark, sf_dir)
    from pyspark.sql import Window
    closes_per_order = (
        cat.lineitem.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship")))
    j = (
        cat.orders
        .select("o_orderkey", F.date_trunc("day", "o_orderdate").alias("d0"))
        .join(closes_per_order,
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select("d0", (F.date_trunc("day", "last_ship")
                       + F.expr("INTERVAL 1 DAY")).alias("d1"))
    )
    deltas = (
        j.select(F.col("d0").alias("day"), F.lit(1).alias("opened"),
                 F.lit(0).alias("closed"))
        .unionAll(j.select(F.col("d1").alias("day"), F.lit(0).alias("opened"),
                           F.lit(1).alias("closed")))
        .groupBy("day")
        .agg(F.sum("opened").cast("long").alias("n_opened"),
             F.sum("closed").cast("long").alias("n_closed"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    return (
        deltas
        .withColumn("backlog", F.sum(F.col("n_opened") - F.col("n_closed"))
                    .over(w).cast("long"))
        .select("day", "n_opened", "n_closed", "backlog")
        .orderBy("day")
    )


BACKLOG_SQL = """
WITH j AS (
    SELECT date_trunc('day', o.o_orderdate) AS d0,
           date_trunc('day', c.last_ship) + INTERVAL 1 DAY AS d1
    FROM orders o
    JOIN (SELECT l_orderkey, MAX(l_shipdate) AS last_ship
          FROM lineitem GROUP BY 1) c
      ON o.o_orderkey = c.l_orderkey
),
deltas AS (
    SELECT day, CAST(SUM(opened) AS BIGINT) AS n_opened,
           CAST(SUM(closed) AS BIGINT) AS n_closed
    FROM (
        SELECT d0 AS day, 1 AS opened, 0 AS closed FROM j
        UNION ALL
        SELECT d1 AS day, 0 AS opened, 1 AS closed FROM j
    ) GROUP BY day
)
SELECT day, n_opened, n_closed,
       CAST(SUM(n_opened - n_closed) OVER (
            ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS backlog
FROM deltas
ORDER BY day
"""

register("orders_backlog_timeseries", orders_backlog_timeseries, BACKLOG_SQL)


#: max relative error the HLL gate tolerates, percent (approx_count_
#: distinct runs at rsd=0.02 → 5% is a 2.5-sigma margin)
HLL_GATE_PCT = 5


def hll_distinct_accuracy_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible HyperLogLog quality gate (completes the sketch
    gate family: ann/minhash/quantile): ONE row asserting that
    approx_count_distinct at rsd=0.02 lands within HLL_GATE_PCT
    relative error of the exact distinct count on three key columns
    of different cardinality (supplier ~1e3 · part ~1e4 ·
    customer-of-orders ~1e4, scaling with sf). Both sides are longs,
    the compare is pure integer arithmetic, and the sketch is
    deterministic given the data — a regression flips a boolean and
    hash-mismatches the pinned-constant oracle. Exact side shuffles
    distinct keys (the thing HLL avoids) — acceptable for a gate
    that exists precisely to certify the cheap path."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem
    od = cat.orders
    ag = (
        li.agg(
            F.count_distinct("l_partkey").cast("long").alias("ex_part"),
            F.approx_count_distinct("l_partkey", 0.02).cast("long")
            .alias("ap_part"),
            F.count_distinct("l_suppkey").cast("long").alias("ex_supp"),
            F.approx_count_distinct("l_suppkey", 0.02).cast("long")
            .alias("ap_supp"))
        .crossJoin(F.broadcast(od.agg(
            F.count_distinct("o_custkey").cast("long").alias("ex_cust"),
            F.approx_count_distinct("o_custkey", 0.02).cast("long")
            .alias("ap_cust"))))
    )
    def ok(ap, ex):
        return (F.abs(F.col(ap) - F.col(ex)) * 100
                <= F.col(ex) * HLL_GATE_PCT)
    return ag.select(
        (F.col("ex_part") > 0).alias("has_rows"),
        ok("ap_part", "ex_part").alias("part_within_gate"),
        ok("ap_supp", "ex_supp").alias("supp_within_gate"),
        ok("ap_cust", "ex_cust").alias("cust_within_gate"))


HLL_GATE_SQL = """
SELECT TRUE AS has_rows,
       TRUE AS part_within_gate,
       TRUE AS supp_within_gate,
       TRUE AS cust_within_gate
"""

register("hll_distinct_accuracy_floor", hll_distinct_accuracy_floor,
         HLL_GATE_SQL)


def geo_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the geographic dimension hierarchy (region →
    nation): revenue and customer counts at nation, region, and
    grand-total levels in ONE pass — the drill-down cube every BI
    layer serves, and the one rollup shape the status/priority pair
    doesn't cover (a true snowflake hierarchy through two dim hops).

    Scale: orders pre-aggregates per customer key FIRST (map-side
    combined, the largest shuffle is (custkey, cents) pairs), then
    the dim chain customer→nation→region attaches by broadcast and
    the rollup runs over the customer-sized frame — the fact never
    joins the dims row-by-row. Cents-exact sums, IEEE-exact final
    divide."""
    cat = Catalog(spark, sf_dir)
    per_cust = (cat.orders
                .groupBy("o_custkey")
                .agg(F.count("*").cast("long").alias("n_orders"),
                     F.sum(F.floor(F.col("o_totalprice") * 100
                                   + F.lit(0.5)).cast("long"))
                     .alias("cents")))
    dim = (cat.customer.select("c_custkey", "c_nationkey")
           .join(F.broadcast(cat.nation.select("n_nationkey", "n_name",
                                               "n_regionkey")),
                 F.col("c_nationkey") == F.col("n_nationkey"))
           .join(cat.region.select("r_regionkey", "r_name"),
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .select("c_custkey", F.col("r_name").alias("region"),
                   F.col("n_name").alias("nation")))
    return (per_cust
            .join(dim, per_cust.o_custkey == dim.c_custkey)
            .rollup("region", "nation")
            .agg(F.count("*").cast("long").alias("n_customers"),
                 F.sum("n_orders").cast("long").alias("n_orders"),
                 fround(F.sum("cents") / F.lit(100.0), 2)
                 .alias("revenue"))
            .orderBy("region", "nation"))


GEO_ROLLUP_SQL = f"""
WITH per_cust AS (
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY 1
),
dim AS (
    SELECT c.c_custkey, r.r_name AS region, n.n_name AS nation
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
)
SELECT d.region, d.nation,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(p.n_orders) AS BIGINT) AS n_orders,
       {sql_fround('SUM(p.cents) / 100.0', 2)} AS revenue
FROM per_cust p JOIN dim d ON p.o_custkey = d.c_custkey
GROUP BY ROLLUP (d.region, d.nation)
ORDER BY region, nation
"""

register("geo_revenue_rollup", geo_revenue_rollup, GEO_ROLLUP_SQL)


def supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration audit: the Herfindahl–Hirschman index of
    supplier revenue share within each nation (HHI = Σ share², in
    the conventional 0–10000 points), with supplier count and the
    top supplier's share — single-source-risk flagging per
    procurement region, the concentration complement to
    part_pareto_concentration's top-N cumulative share.

    Determinism: revenue is cents-exact per (nation, supplier); each
    share² term is ONE IEEE divide + multiply of identical integer
    operands, quantized to an integer before the order-independent
    SUM (compat.py hazard-#1 policy — a naive SUM of share² doubles
    would hash-flake on aggregation order).

    Scale: lineitem collapses map-side to (suppkey, cents); the
    supplier→nation dim attaches by broadcast; everything after is
    suppliers-sized.
    """
    cat = Catalog(spark, sf_dir)
    per_supp = (cat.lineitem
                .groupBy("l_suppkey")
                .agg(F.sum(F.floor(F.col("l_extendedprice")
                                   * (1 - F.col("l_discount")) * 100
                                   + F.lit(0.5)).cast("long"))
                     .alias("cents")))
    keyed = (per_supp
             .join(cat.supplier.select("s_suppkey",
                                       "s_nationkey"),
                   per_supp.l_suppkey == F.col("s_suppkey"))
             .join(cat.nation.select("n_nationkey",
                                     "n_name"),
                   F.col("s_nationkey") == F.col("n_nationkey"))
             .select(F.col("n_name").alias("nation"), "cents"))
    tot = keyed.groupBy("nation").agg(
        F.sum("cents").alias("tot"),
        F.count("*").cast("long").alias("n_suppliers"),
        F.max("cents").alias("max_cents"))
    # share² in basis points², quantized to micro-points before SUM
    share2_q = F.floor(
        (F.col("cents").cast("double") / F.col("tot"))
        * (F.col("cents").cast("double") / F.col("tot"))
        * F.lit(1e10) + F.lit(0.5)).cast("long")
    hhi = (keyed.join(tot.select("nation", "tot"), "nation")
           .groupBy("nation")
           .agg(F.sum(share2_q).alias("qh")))
    return (tot.join(hhi, "nation")
            .select("nation", "n_suppliers",
                    fround(F.col("qh").cast("double") / F.lit(1e6), 2)
                    .alias("hhi"),
                    fround(F.col("max_cents").cast("double")
                           / F.col("tot") * 100, 4)
                    .alias("top_share_pct"))
            .orderBy("nation"))


SUPPLIER_HHI_SQL = f"""
WITH per_supp AS (
    SELECT l_suppkey,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem GROUP BY 1
),
keyed AS (
    SELECT n.n_name AS nation, p.cents
    FROM per_supp p
    JOIN supplier s ON p.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
),
tot AS (
    SELECT nation, SUM(cents) AS tot,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           MAX(cents) AS max_cents
    FROM keyed GROUP BY 1
),
hhi AS (
    SELECT k.nation,
           SUM(CAST(FLOOR((CAST(k.cents AS DOUBLE) / t.tot)
                          * (CAST(k.cents AS DOUBLE) / t.tot)
                          * 10000000000.0 + 0.5) AS BIGINT)) AS qh
    FROM keyed k JOIN tot t ON k.nation = t.nation
    GROUP BY 1
)
SELECT t.nation, t.n_suppliers,
       {sql_fround('CAST(h.qh AS DOUBLE) / 1000000.0', 2)} AS hhi,
       {sql_fround('CAST(t.max_cents AS DOUBLE) / t.tot * 100', 4)}
           AS top_share_pct
FROM tot t JOIN hhi h ON t.nation = h.nation
ORDER BY t.nation
"""

register("supplier_hhi_by_nation", supplier_hhi_by_nation,
         SUPPLIER_HHI_SQL)


# --------------------------------------------------------------------------
# Month-over-month revenue bridge (contribution decomposition)
# --------------------------------------------------------------------------

def nation_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "what moved the number" query: decompose the month-over-
    month change in total revenue into per-nation contributions —
    the additive identity Δtotal = Σ_nation Δ_nation makes the report
    self-auditing (the share column sums to 1 by construction).
    Compares the last two COMPLETE months (the trailing calendar-
    partial month is excluded, the revenue_forecast_conformal rule).

    Exactness: everything is integer cents except each nation's
    share-of-change, one IEEE divide of exact longs (NULL when the
    total delta is zero). Scale: the max-month probe is a one-row
    broadcast; the month filter prunes the fact BEFORE the customer
    join; the bridge frame is nations x 2 months.
    """
    cat = Catalog(spark, sf_dir)
    midx = ((F.year("o_orderdate") - F.lit(1992)) * F.lit(12)
            + F.month("o_orderdate") - F.lit(1)).cast("long")
    o = cat.orders.select(
        "o_custkey", midx.alias("m"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long").alias("cents"))
    mx = o.agg(F.max("m").alias("mx"))
    two = (o.crossJoin(mx)
           .where((F.col("m") == F.col("mx") - 1)
                  | (F.col("m") == F.col("mx") - 2)))
    cells = (two
             .join(cat.customer.select("c_custkey", "c_nationkey"),
                   F.col("o_custkey") == F.col("c_custkey"))
             .join(cat.nation
                   .select("n_nationkey", "n_name"),
                   F.col("c_nationkey") == F.col("n_nationkey"))
             .groupBy("n_name")
             .agg(F.sum(F.when(F.col("m") == F.col("mx") - 2,
                               F.col("cents")).otherwise(0))
                  .cast("long").alias("prev_cents"),
                  F.sum(F.when(F.col("m") == F.col("mx") - 1,
                               F.col("cents")).otherwise(0))
                  .cast("long").alias("cur_cents")))
    delta = (F.col("cur_cents") - F.col("prev_cents")).cast("long")
    tot = cells.agg(F.sum(delta).cast("long").alias("total_delta"))
    return (cells.crossJoin(tot)
            .select(F.col("n_name").alias("nation"),
                    "prev_cents", "cur_cents",
                    delta.alias("delta_cents"),
                    "total_delta",
                    fround(F.when(F.col("total_delta") != 0,
                                  delta.cast("double")
                                  / F.col("total_delta").cast("double")),
                           6).alias("share_of_change"))
            .orderBy(F.desc("delta_cents"), "nation"))


NATION_REVENUE_BRIDGE_SQL = f"""
WITH o AS (
    SELECT o_custkey,
           CAST((YEAR(o_orderdate) - 1992) * 12
                + MONTH(o_orderdate) - 1 AS BIGINT) AS m,
           CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
    FROM orders
),
mx AS (SELECT MAX(m) AS mx FROM o),
cells AS (
    SELECT n.n_name,
           CAST(SUM(CASE WHEN o.m = x.mx - 2 THEN o.cents ELSE 0 END)
                AS BIGINT) AS prev_cents,
           CAST(SUM(CASE WHEN o.m = x.mx - 1 THEN o.cents ELSE 0 END)
                AS BIGINT) AS cur_cents
    FROM o CROSS JOIN mx x
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.m = x.mx - 1 OR o.m = x.mx - 2
    GROUP BY n.n_name
),
tot AS (
    SELECT CAST(SUM(cur_cents - prev_cents) AS BIGINT) AS total_delta
    FROM cells
)
SELECT n_name AS nation, prev_cents, cur_cents,
       CAST(cur_cents - prev_cents AS BIGINT) AS delta_cents,
       total_delta,
       {sql_fround('CASE WHEN total_delta <> 0 THEN'
                   ' CAST(cur_cents - prev_cents AS DOUBLE)'
                   ' / CAST(total_delta AS DOUBLE) END', 6)}
           AS share_of_change
FROM cells CROSS JOIN tot
ORDER BY delta_cents DESC, nation
"""

register("nation_revenue_bridge", nation_revenue_bridge,
         NATION_REVENUE_BRIDGE_SQL)
