"""Deep TPC-H-shape coverage: correlated/scalar subqueries, anti/semi
joins, histograms, and disjunctive pushdown, adapted to the driver
schema (no partsupp, no l_commitdate/l_receiptdate/l_shipmode — each
adaptation keeps the *plan shape* of the public TPC-H query it mirrors
and notes the substitution inline).

The reference app has no analytics at all (SURVEY.md §0); these are
capability-bar queries demonstrating that every classic decision-
support SQL shape runs on this engine with a scale-correct plan.

Determinism policy (functions/compat.py): every cross-engine SUM/AVG
goes through the scaled-integer layer; every threshold against an
aggregate is integer math so Spark and the DuckDB oracle agree bit-for-
bit. Single IEEE ops on identical operands (one divide, one multiply)
are deterministic and used freely.

Join strategy: Catalyst broadcasts each dim its size estimate fits
under autoBroadcastJoinThreshold. The explicit F.broadcast hints left
here sit on joined dims and on per-key aggregates over the fact:
without CBO Catalyst sizes a join as the product of its inputs and
an aggregate as its input, so it would shuffle them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.compat import dsum, fround, sql_dsum, sql_fround
from ..registry import register
from ..sources.catalog import Catalog

_TS = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731


def _scaled4(term):
    """floor(term * 1e4 + 0.5) as long — exact 4-decimal recovery."""
    return F.floor(term * F.lit(1e4) + F.lit(0.5)).cast("long")


# --------------------------------------------------------------------------
# Q2 shape: per-group minimum + join-back (the correlated MIN subquery)
# --------------------------------------------------------------------------

def q2_min_unitprice_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (no partsupp → unit price observed in lineitem
    stands in for ps_supplycost): for each ECONOMY small part, the
    supplier(s) offering the minimum unit price. The correlated MIN
    subquery decorrelates to aggregate + join-back — at 100 TB both
    aggregates shrink to ~|part| rows before any wide join, and the
    part filter broadcasts into the fact scan."""
    cat = Catalog(spark, sf_dir)
    parts = cat.part.filter((F.col("p_type") == "ECONOMY")
                            & (F.col("p_size") <= 10))
    offers = (
        cat.lineitem
        .join(parts.select("p_partkey"),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
             .alias("unit_price"))
    )
    best = offers.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_price").alias("best_price"))
    return (
        offers
        .join(F.broadcast(best),
              (F.col("l_partkey") == F.col("b_partkey"))
              & (F.col("unit_price") == F.col("best_price")))
        .join(cat.part, F.col("l_partkey") == F.col("p_partkey"))
        .join(cat.supplier,
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal",
                F.col("unit_price").alias("best_price"))
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_suppkey")
    )


Q2_SQL = """
WITH offer AS (
    SELECT l_partkey, l_suppkey,
           MIN(l_extendedprice / l_quantity) AS unit_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'ECONOMY' AND p_size <= 10
    GROUP BY 1, 2
),
best AS (SELECT l_partkey, MIN(unit_price) AS best_price
         FROM offer GROUP BY 1)
SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal,
       o.unit_price AS best_price
FROM offer o
JOIN best b ON o.l_partkey = b.l_partkey AND o.unit_price = b.best_price
JOIN part ON o.l_partkey = p_partkey
JOIN supplier ON o.l_suppkey = s_suppkey
ORDER BY s_acctbal DESC, p_partkey, s_suppkey
"""


# --------------------------------------------------------------------------
# Q7 shape: bidirectional nation-pair trade volume by year
# --------------------------------------------------------------------------

def q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations, both
    directions, by ship year. Both nation-annotated dims broadcast;
    the only shuffle is lineitem ⋈ orders on orderkey. The pair
    disjunction prunes to two nation keys on each side before the
    fact join at any scale."""
    cat = Catalog(spark, sf_dir)
    supp = (cat.supplier
            .join(F.broadcast(cat.nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (cat.customer
            .join(F.broadcast(cat.nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", F.col("n_name").alias("cust_nation")))
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8"))
        | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    )
    return (
        cat.lineitem
        .filter((F.col("l_shipdate") >= _TS("1996-01-01"))
                & (F.col("l_shipdate") < _TS("1998-01-01")))
        .join(cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# Q8 shape: market share (conditional-sum ratio per group)
# --------------------------------------------------------------------------

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_12 suppliers' share of PROMO-part volume
    sold to ASIA customers, per order year. Numerator and denominator
    are exact scaled-integer sums in one aggregation pass; the share is
    a single IEEE divide — deterministic against the oracle."""
    cat = Catalog(spark, sf_dir)
    asia_cust = (
        cat.customer
        .join(cat.nation,
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(cat.region,
              F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey")
    )
    vol = _scaled4(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    from_nation = F.col("s_nationkey") == 12
    return (
        cat.lineitem
        .join(cat.part.filter(F.col("p_type") == "PROMO")
              .select("p_partkey"),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(cat.orders.filter(
            (F.col("o_orderdate") >= _TS("1996-01-01"))
            & (F.col("o_orderdate") < _TS("1998-01-01"))),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(asia_cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(cat.supplier.select("s_suppkey", "s_nationkey"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(from_nation, vol).otherwise(F.lit(0))).alias("num"),
            F.sum(vol).alias("den"),
        )
        .select(
            "o_year",
            fround(F.col("num").cast("double") / F.col("den").cast("double"), 6)
            .alias("mkt_share"))
        .orderBy("o_year")
    )


Q8_SQL = f"""
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
       {sql_fround(
           "CAST(SUM(CASE WHEN s_nationkey = 12 THEN "
           "CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS BIGINT) "
           "ELSE 0 END) AS DOUBLE) / "
           "CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) "
           "AS BIGINT)) AS DOUBLE)", 6)} AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY 1
ORDER BY 1
"""


# --------------------------------------------------------------------------
# Q9 shape: product-type profit by nation and year
# --------------------------------------------------------------------------

def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no ps_supplycost → cost proxied as 10% of
    p_retailprice per unit): profit on widget parts by supplier nation
    and ship year. Part + supplier + nation broadcast; lineitem never
    shuffles until the final small aggregation."""
    cat = Catalog(spark, sf_dir)
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        cat.lineitem
        .join(cat.part
              .filter(F.col("p_name").like("%widget%"))
              .select("p_partkey", "p_retailprice"),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(cat.supplier.select("s_suppkey", "s_nationkey"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cat.nation,
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("l_shipdate").alias("o_year"))
        .agg(dsum(profit).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


Q9_SQL = f"""
SELECT n_name AS nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS o_year,
       {sql_dsum('l_extendedprice * (1 - l_discount)'
                 ' - CAST(0.1 AS DOUBLE) * p_retailprice * l_quantity')}
           AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


# --------------------------------------------------------------------------
# Q11 shape: value concentration with a scalar-subquery threshold
# --------------------------------------------------------------------------

def q11_part_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose NATION_3-supplied revenue exceeds
    0.1% of the nation total. The scalar subquery becomes a one-row
    broadcast cross join; the threshold compare is pure int64 math
    (value_s * 1000 > total_s) so Spark and the oracle agree exactly.
    At 100 TB the guard sum would widen to DECIMAL(38,0) — same plan."""
    cat = Catalog(spark, sf_dir)
    supp3 = (cat.supplier
             .join(cat.nation.filter(F.col("n_name") == "NATION_3"),
                   F.col("s_nationkey") == F.col("n_nationkey"))
             .select("s_suppkey"))
    per_part = (
        cat.lineitem
        .join(F.broadcast(supp3), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_scaled4(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
             .alias("value_s"))
    )
    total = per_part.agg(F.sum("value_s").alias("total_s"))
    return (
        per_part.crossJoin(total)
        .filter(F.col("value_s") * 1000 > F.col("total_s"))
        .select(
            "l_partkey",
            (F.floor((F.col("value_s") + F.lit(50)) / F.lit(100.0))
             .cast("double") / F.lit(100.0)).alias("part_value"))
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


Q11_SQL = """
WITH v AS (
    SELECT l_partkey,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000.0
                               + 0.5) AS BIGINT)) AS BIGINT) AS value_s
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
    GROUP BY 1
),
t AS (SELECT CAST(SUM(value_s) AS BIGINT) AS total_s FROM v)
SELECT l_partkey,
       (FLOOR((value_s + 50) / 100.0) / 100.0) AS part_value
FROM v CROSS JOIN t
WHERE value_s * 1000 > total_s
ORDER BY part_value DESC, l_partkey
"""


# --------------------------------------------------------------------------
# Q13 shape: left outer join + double aggregation histogram
# --------------------------------------------------------------------------

def q13_customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count,
    excluding urgent orders, null-preserving for order-less customers.
    Scale-right plan: aggregate orders FIRST (shrinks the fat side to
    ≤|customer| rows), then left-join the dim — the naive left-join-
    then-group shuffles every order row twice."""
    cat = Catalog(spark, sf_dir)
    per_cust = (
        cat.orders
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        cat.customer
        .join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(F.coalesce(F.col("cnt"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --------------------------------------------------------------------------
# Q15 shape: top supplier via scalar MAX subquery
# --------------------------------------------------------------------------

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with maximum revenue in a quarter.
    The revenue 'view' aggregates to ≤|supplier| rows; MAX over it is a
    one-row broadcast. Ties (multiple max suppliers) are preserved, as
    in the spec. dsum values are bit-identical across engines, so the
    double equality join is safe."""
    cat = Catalog(spark, sf_dir)
    rev = (
        cat.lineitem
        .filter((F.col("l_shipdate") >= _TS("1996-01-01"))
                & (F.col("l_shipdate") < _TS("1996-04-01")))
        .groupBy("l_suppkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("total_revenue"))
    )
    from ..cache import pin
    # pin: the max-revenue scalar branch otherwise re-runs the
    # filtered revenue aggregation (round-7 lineage audit)
    rev = pin(rev)
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(mx)
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(cat.supplier,
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = f"""
WITH rev AS (
    SELECT l_suppkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# Q16 shape: NOT IN anti join + COUNT(DISTINCT) per part attributes
# --------------------------------------------------------------------------

def q16_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (no partsupp → observed shippers in lineitem;
    the complaints filter becomes a low-acctbal exclusion): distinct
    supplier count per (brand, type, size) bucket. The NOT IN becomes
    a left-anti join against a broadcast exclusion list — null-safe
    here because s_suppkey is a non-null key."""
    cat = Catalog(spark, sf_dir)
    parts = cat.part.filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35, 40, 45))
    excluded = cat.supplier.filter(F.col("s_acctbal") < 1000).select("s_suppkey")
    return (
        cat.lineitem
        .join(parts.select("p_partkey", "p_brand", "p_type",
                           "p_size"),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(excluded,
              F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --------------------------------------------------------------------------
# Q17 shape: correlated AVG subquery (small-quantity revenue)
# --------------------------------------------------------------------------

def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from Brand#15 lines whose quantity is
    below 20% of that part's average. The correlated AVG decorrelates
    to a per-part aggregate + join — restricted to the brand's part
    keys first (semantically identical, and the 100 TB plan only
    aggregates the brand's slice). AVG of integer-valued quantities is
    FP-exact (sums < 2^53), so no scaling layer is needed for the
    threshold; the output sum uses dsum."""
    cat = Catalog(spark, sf_dir)
    bparts = cat.part.filter(F.col("p_brand") == "Brand#15").select("p_partkey")
    rel = cat.lineitem.join(bparts,
                            F.col("l_partkey") == F.col("p_partkey"))
    limits = (
        rel.groupBy(F.col("l_partkey").alias("a_partkey"))
        .agg((F.lit(0.2) * (F.sum("l_quantity") / F.count("l_quantity")))
             .alias("qty_limit"))
    )
    return (
        rel.join(F.broadcast(limits), F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg((dsum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"))
    )


Q17_SQL = f"""
SELECT ({sql_dsum('l_extendedprice')} / 7.0) AS avg_yearly
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#15'
  AND l_quantity < (
      SELECT CAST(0.2 AS DOUBLE) * (SUM(l2.l_quantity) / COUNT(l2.l_quantity))
      FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


# --------------------------------------------------------------------------
# Q19 shape: disjunctive multi-attribute predicates
# --------------------------------------------------------------------------

def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: three OR'd brand/size/quantity windows over the
    part join. Catalyst extracts the common l_partkey join and pushes
    the per-branch part predicates below the broadcast join; quantity
    bounds push to the lineitem scan as an OR-range filter."""
    cat = Catalog(spark, sf_dir)
    j = cat.lineitem.join(
        cat.part.select("p_partkey", "p_brand", "p_size"),
        F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#14") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("revenue"))


Q19_SQL = f"""
SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


# --------------------------------------------------------------------------
# Q20 shape: nested IN subqueries → semi-join chain
# --------------------------------------------------------------------------

def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (no ps_availqty → shipped quantity stands in):
    suppliers who moved > 200 units of bolt parts during 1997. The
    nested IN chain (part-name → lineitem aggregate → supplier)
    becomes broadcast semi joins; quantity SUM is FP-exact on
    integer-valued doubles."""
    cat = Catalog(spark, sf_dir)
    bolt_keys = (cat.part.filter(F.col("p_name").like("%bolt%"))
                 .select("p_partkey"))
    heavy = (
        cat.lineitem
        .filter((F.col("l_shipdate") >= _TS("1997-01-01"))
                & (F.col("l_shipdate") < _TS("1998-01-01")))
        .join(bolt_keys, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 200.0)
    )
    return (
        cat.supplier
        .join(F.broadcast(heavy), F.col("s_suppkey") == F.col("l_suppkey"),
              "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_suppkey
    HAVING SUM(l_quantity) > 200.0)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# Q21 shape: EXISTS + NOT EXISTS decorrelated to one aggregation
# --------------------------------------------------------------------------

def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (no l_receiptdate/commitdate → 'late' means
    shipped > 60 days after the order date): suppliers who were the
    ONLY late shipper on a finished multi-supplier order. The spec's
    EXISTS + NOT EXISTS self-joins decorrelate into per-order
    aggregation — no fact self-joins at all. Distinct-counting is done
    in two levels (pair-level dedup, then order-level counts) instead
    of COUNT(DISTINCT …) twice in one agg: multiple distincts compile
    to an Expand that triples the shuffle volume, and the two-level
    form measured 2.2× faster at sf0.1 (and scales as two narrow
    shuffles instead of one 3×-wide one). MAX(CASE) safely extracts
    the lone late supplier because n_late = 1 guarantees uniqueness."""
    cat = Catalog(spark, sf_dir)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    pair = (
        cat.lineitem
        .join(cat.orders.filter(F.col("o_orderstatus") == "F"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late.cast("int")).alias("was_late"))
    )
    per_order = (
        pair.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_supp"),
            F.sum("was_late").alias("n_late"),
            F.max(F.when(F.col("was_late") == 1, F.col("l_suppkey")))
             .alias("late_suppkey"),
        )
    )
    return (
        per_order
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(cat.supplier,
              F.col("late_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


Q21_SQL = """
WITH per_order AS (
    SELECT l_orderkey,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                               THEN l_suppkey END) AS n_late,
           MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                    THEN l_suppkey END) AS late_suppkey
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM per_order JOIN supplier ON late_suppkey = s_suppkey
WHERE n_supp > 1 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""


# --------------------------------------------------------------------------
# Q22 shape: scalar AVG threshold + NOT EXISTS anti join
# --------------------------------------------------------------------------

def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (no c_phone → grouped by nation; 'never ordered'
    → 'no order since 2000-01-01'): above-average-balance customers
    gone dormant. The scalar AVG threshold is integer math
    (scaled_bal * cnt > total_s) — no cross-engine float average; the
    NOT EXISTS is a left-anti join against date-filtered orders, which
    prunes the fact scan to the dormancy window."""
    cat = Catalog(spark, sf_dir)
    scaled_bal = F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5)).cast("long")
    stats = (cat.customer.filter(F.col("c_acctbal") > 0.0)
             .agg(F.sum(scaled_bal).alias("tot"), F.count("*").alias("cnt")))
    recent = cat.orders.filter(
        F.col("o_orderdate") >= _TS("2000-01-01")).select("o_custkey")
    return (
        cat.customer
        .crossJoin(stats)
        .filter(scaled_bal * F.col("cnt") > F.col("tot"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(cat.nation,
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count("*").alias("numcust"),
             dsum(F.col("c_acctbal")).alias("totacctbal"))
        .orderBy("n_name")
    )


Q22_SQL = f"""
WITH s AS (
    SELECT CAST(SUM(CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS tot,
           COUNT(*) AS cnt
    FROM customer WHERE c_acctbal > 0.0
)
SELECT n_name, COUNT(*) AS numcust,
       {sql_dsum('c_acctbal')} AS totacctbal
FROM customer
CROSS JOIN s
JOIN nation ON c_nationkey = n_nationkey
WHERE CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) * cnt > tot
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n_name
ORDER BY n_name
"""


register("q2_min_unitprice_supplier", q2_min_unitprice_supplier, Q2_SQL)
register("q7_nation_trade", q7_nation_trade, Q7_SQL)
register("q8_market_share", q8_market_share, Q8_SQL)
register("q9_product_profit", q9_product_profit, Q9_SQL)
register("q11_part_value_concentration", q11_part_value_concentration, Q11_SQL)
register("q13_customer_order_histogram", q13_customer_order_histogram, Q13_SQL)
register("q15_top_supplier", q15_top_supplier, Q15_SQL)
register("q16_part_supplier_variety", q16_part_supplier_variety, Q16_SQL)
register("q17_small_quantity_revenue", q17_small_quantity_revenue, Q17_SQL)
register("q19_disjunctive_revenue", q19_disjunctive_revenue, Q19_SQL)
register("q20_heavy_shippers", q20_heavy_shippers, Q20_SQL)
register("q21_sole_late_supplier", q21_sole_late_supplier, Q21_SQL)
register("q22_dormant_customers", q22_dormant_customers, Q22_SQL)
