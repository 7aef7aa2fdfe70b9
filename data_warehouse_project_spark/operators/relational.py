"""Relational operator inventory — SURVEY.md §2.1-2.8 re-expressed
Spark-first over the driver star schema, each with a DuckDB oracle.

Every reference SQL statement / Python row transform maps here to a
declarative DataFrame program (reference file:line cited per query).
All queries stay fully inside Catalyst: filters and projections push
down to the parquet scan, dim joins broadcast, aggregations run
partial→final, and nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.compat import dsum, fround, sql_dsum, sql_fround
from ..registry import register
from ..sources.catalog import Catalog


# --------------------------------------------------------------------------
# §2.1 scans + §2.2 projections/filters
# --------------------------------------------------------------------------

def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+P1+P2: filtered scan with rename layer (ref db.py:271-290).

    The reference lists active events (`WHERE is_active=1 ORDER BY
    event_date`) then renames columns row-by-row in Python; here the
    rename is `select/alias` inside the plan — whole-stage codegen,
    zero Python. Analog: open orders listed by date.
    """
    cat = Catalog(spark, sf_dir)
    return (
        cat.orders
        .filter(F.col("o_orderstatus") == "O")
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_custkey").alias("customer_id"),
            F.col("o_totalprice").alias("price"),
            F.col("o_orderdate").alias("order_date"),
            F.col("o_orderpriority").alias("priority"),
        )
        .orderBy("order_date", "id")
    )


SCAN_FILTER_PROJECT_SQL = """
SELECT o_orderkey AS id, o_custkey AS customer_id, o_totalprice AS price,
       o_orderdate AS order_date, o_orderpriority AS priority
FROM orders WHERE o_orderstatus = 'O'
ORDER BY order_date, id
"""


def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5: point lookup by key (ref db.py:300-304, 223-227).

    Pushed to the parquet reader as an equality filter; at cluster
    scale this is a partition-pruned single-file read, not a scan.
    """
    cat = Catalog(spark, sf_dir)
    return cat.part.filter(F.col("p_partkey") == F.lit(100)).select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_retailprice"
    )


POINT_LOOKUP_SQL = """
SELECT p_partkey, p_name, p_brand, p_type, p_retailprice
FROM part WHERE p_partkey = 100
"""


def filter_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: conjunctive predicate (ref db.py:365)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.lineitem
        .filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 40))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


FILTER_CONJUNCTIVE_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 40
"""


def filter_computed_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5+F1: predicate/projection on a computed sha2 hash.

    The reference authenticates by comparing a stored hash to
    sha256(password) (ref db.py:62-63, 238); built-in `sha2` keeps it
    JVM-side (no Python UDF, unlike the reference's hashlib call).
    """
    cat = Catalog(spark, sf_dir)
    return (
        cat.customer
        .filter(F.col("c_custkey") <= 50)
        .select(
            "c_custkey",
            F.sha2(F.col("c_name"), 256).alias("name_hash"),
        )
    )


FILTER_COMPUTED_HASH_SQL = """
SELECT c_custkey, sha256(c_name) AS name_hash
FROM customer WHERE c_custkey <= 50
"""


def data_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: the reference's client-side validation predicates
    (ref app.py:79-93: non-null, contains '@', all-digits regex,
    length bound) recast as a declarative data-quality filter stage.
    """
    cat = Catalog(spark, sf_dir)
    return (
        cat.customer
        .filter(
            F.col("c_name").isNotNull()
            & F.col("c_name").contains("#")
            & F.col("c_name").rlike("^Customer#[0-9]{9}$")
            & (F.length(F.col("c_name")) >= 6)
            & F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY")
            & (F.col("c_acctbal") >= 0.0)
        )
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    )


DATA_QUALITY_FILTER_SQL = """
SELECT c_custkey, c_name, c_mktsegment, c_acctbal
FROM customer
WHERE c_name IS NOT NULL
  AND contains(c_name, '#')
  AND regexp_matches(c_name, '^Customer#[0-9]{9}$')
  AND length(c_name) >= 6
  AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
  AND c_acctbal >= 0.0
"""


# --------------------------------------------------------------------------
# §2.3 joins
# --------------------------------------------------------------------------

def join_inner_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: inner equi-join fact⋈dim (ref db.py:363-364, 391-392).

    customer is dim-sized: Catalyst broadcasts it while its size
    estimate fits autoBroadcastJoinThreshold, so the orders fact does
    not shuffle for this join.
    """
    cat = Catalog(spark, sf_dir)
    return (
        cat.orders.join(cat.customer,
                        F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_custkey", "c_name", "c_mktsegment", "o_totalprice")
    )


JOIN_INNER_DIM_SQL = """
SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def join_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: fact⋈fact equi-join (ref db.py:391-392 regs⋈events analog).

    Both sides large → sort-merge on the join key; AQE may downgrade
    to broadcast at small SF. Filter applied before the join so the
    shuffle carries only matching rows.
    """
    cat = Catalog(spark, sf_dir)
    lines = cat.lineitem.filter(F.col("l_returnflag") == "A")
    return (
        lines.join(cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice",
                "o_orderstatus", "o_orderdate")
    )


JOIN_FACT_FACT_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice, o_orderstatus, o_orderdate
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_returnflag = 'A'
"""


def join_left_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5+A2+A5: left join with COALESCE(SUM,0) default (ref db.py:361-367).

    Events with zero payments must still appear with revenue 0 —
    here: every customer appears, zero-order customers with 0.0.
    Aggregate-then-join (partial agg before the broadcastable join)
    instead of join-then-aggregate: the shuffle carries one row per
    customer, not one per order.
    """
    cat = Catalog(spark, sf_dir)
    per_cust = (
        cat.orders.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(dsum(F.col("o_totalprice")).alias("revenue"))
    )
    return (
        cat.customer.join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            "c_custkey", "c_name",
            F.coalesce(F.col("revenue"), F.lit(0.0)).alias("revenue"),
        )
    )


JOIN_LEFT_COALESCE_SQL = f"""
SELECT c_custkey, c_name,
       COALESCE(r.revenue, 0.0) AS revenue
FROM customer
LEFT JOIN (
    SELECT o_custkey, {sql_dsum('o_totalprice')} AS revenue
    FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
) r ON c_custkey = r.o_custkey
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join: customers having ≥1 finished order (the EXISTS shape
    of the reference's correlated filters, ref db.py:394-399)."""
    cat = Catalog(spark, sf_dir)
    finished = cat.orders.filter(F.col("o_orderstatus") == "F")
    return (
        cat.customer.join(finished, F.col("c_custkey") == F.col("o_custkey"),
                          "left_semi")
        .select("c_custkey", "c_name")
    )


JOIN_SEMI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers with no orders at all (registered-but-
    never-paid shape, SURVEY.md §2.7)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.customer.join(cat.orders, F.col("c_custkey") == F.col("o_custkey"),
                          "left_anti")
        .select("c_custkey", "c_name")
    )


JOIN_ANTI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two tiny dims (region×region pair grid)."""
    cat = Catalog(spark, sf_dir)
    r1 = cat.region.select(F.col("r_regionkey").alias("region_a"))
    r2 = cat.region.select(F.col("r_regionkey").alias("region_b"))
    return r1.crossJoin(r2).filter(F.col("region_a") < F.col("region_b"))


JOIN_CROSS_SQL = """
SELECT a.r_regionkey AS region_a, b.r_regionkey AS region_b
FROM region a CROSS JOIN region b
WHERE a.r_regionkey < b.r_regionkey
"""


# --------------------------------------------------------------------------
# §2.4 aggregations
# --------------------------------------------------------------------------

def agg_count_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 de-N+1'd: the reference issues one COUNT per event in a loop
    (ref app.py:154-168 + db.py:357, 1+2N round-trips); this is the
    single grouped job that replaces all N of them."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.orders.groupBy("o_custkey")
        .agg(F.count("*").alias("order_count"))
    )


AGG_COUNT_PER_GROUP_SQL = """
SELECT o_custkey, COUNT(*) AS order_count FROM orders GROUP BY o_custkey
"""


def agg_sum_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: filtered SUM with join (revenue over successful payments,
    ref db.py:361-366): per order, revenue of non-returned lines."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.lineitem.filter(F.col("l_returnflag") != "R")
        .groupBy("l_orderkey")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("net_revenue"),
            F.count("*").alias("line_count"),
        )
    )


AGG_SUM_FILTERED_SQL = f"""
SELECT l_orderkey,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS net_revenue,
       COUNT(*) AS line_count
FROM lineitem WHERE l_returnflag <> 'R' GROUP BY l_orderkey
"""


def agg_max_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: MAX per group — the decorrelated form of the reference's
    `(SELECT MAX(registration_id) ... WHERE user/event match)`
    (ref db.py:395-398)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.orders.groupBy("o_custkey", "o_orderstatus")
        .agg(F.max("o_orderkey").alias("latest_orderkey"))
    )


AGG_MAX_PER_GROUP_SQL = """
SELECT o_custkey, o_orderstatus, MAX(o_orderkey) AS latest_orderkey
FROM orders GROUP BY o_custkey, o_orderstatus
"""


def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: argmax — latest value by ordering key (ref db.py:386-390's
    latest payment_status by payment_date). `max_by` on the unique
    o_orderkey is deterministic (SURVEY.md §7.4.5 tie policy)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.orders.groupBy("o_custkey")
        .agg(F.expr("max_by(o_orderstatus, o_orderkey)").alias("latest_status"),
             F.max("o_orderkey").alias("latest_orderkey"))
    )


AGG_ARGMAX_SQL = """
SELECT o_custkey, arg_max(o_orderstatus, o_orderkey) AS latest_status,
       MAX(o_orderkey) AS latest_orderkey
FROM orders GROUP BY o_custkey
"""


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (engine extension, SURVEY.md §2.4 note):
    exact distinct part/supplier counts per return flag."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.lineitem.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count("*").alias("n_lines"),
        )
    )


AGG_DISTINCT_SQL = """
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_suppliers, COUNT(*) AS n_lines
FROM lineitem GROUP BY l_returnflag
"""


#: max relative error the approx-distinct gate tolerates, percent
#: (rsd=0.02 → 5% is a 2.5-sigma margin; the estimate is
#: deterministic given the data, so the gate cannot flake)
APPROX_DISTINCT_GATE_PCT = 5


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog approximate distinct — the 100 TB-scale form of
    agg_distinct (single pass, fixed memory, no per-key shuffle of the
    distinct sets). HLL estimates are engine-specific, so the oracle
    checks the exact count plus a within-APPROX_DISTINCT_GATE_PCT
    accuracy gate per group (the hll_distinct_accuracy_floor pattern,
    VERDICT r9 #5) — the exact side shuffles distinct keys, which is
    acceptable for a gate certifying the cheap path."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.lineitem.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").cast("long").alias("n_parts"),
            F.approx_count_distinct("l_partkey", rsd=0.02).cast("long")
            .alias("approx"),
        )
        .select(
            "l_returnflag", "n_parts",
            (F.abs(F.col("approx") - F.col("n_parts")) * 100
             <= F.col("n_parts") * APPROX_DISTINCT_GATE_PCT)
            .alias("approx_within_gate"),
        )
    )


AGG_APPROX_DISTINCT_SQL = """
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
       TRUE AS approx_within_gate
FROM lineitem GROUP BY l_returnflag
"""


def agg_approx_distinct_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION approx-distinct path, registered separately from
    the gate (ADVICE r10): agg_approx_distinct's registered form runs
    exact count_distinct next to the HLL so the oracle has something
    to hash, which means its timing and shuffle bound reflect the
    exact-distinct shuffle — not the cheap path the scale story
    describes. This entry keeps the approx-ONLY plan shape itself
    benchmarkable and plan-gated: one pass, fixed-size HLL sketches
    as the partial aggregate, no distinct-key shuffle. Rows-only
    driver check (estimates are engine-specific); the VALUE accuracy
    is certified by agg_approx_distinct's gate on the same column."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.lineitem.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", rsd=0.02).cast("long")
             .alias("n_parts_approx"))
    )


# --------------------------------------------------------------------------
# §2.6 sorts / limits / top-k
# --------------------------------------------------------------------------

def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3/O4: global top-k (ref db.py:389-390 ORDER BY ... LIMIT 1;
    app.py:290 last-card pick). Spark executes orderBy+limit as a
    distributed TakeOrdered — no full sort materialization."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.orders
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


SORT_LIMIT_TOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


# --------------------------------------------------------------------------
# §2.7 set operations
# --------------------------------------------------------------------------

def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct): all nation keys appearing on either side."""
    cat = Catalog(spark, sf_dir)
    c = cat.customer.select(F.col("c_nationkey").alias("nationkey"))
    s = cat.supplier.select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


SETOP_UNION_SQL = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers with both open and finished orders."""
    cat = Catalog(spark, sf_dir)
    o = cat.orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey"))
    f_ = cat.orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey"))
    return o.intersect(f_)


SETOP_INTERSECT_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
"""


def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers with orders but none finished (anti-join
    semantics via set op, SURVEY.md §2.7)."""
    cat = Catalog(spark, sf_dir)
    any_ = cat.orders.select(F.col("o_custkey").alias("custkey"))
    fin = cat.orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey"))
    return any_.exceptAll(fin).distinct()


SETOP_EXCEPT_SQL = """
SELECT DISTINCT custkey FROM (
    SELECT o_custkey AS custkey FROM orders
    EXCEPT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
) t
"""


# --------------------------------------------------------------------------
# §2.8 scalar function layer (F1-F14)
# --------------------------------------------------------------------------

def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F5/F6/F9/F10/F13/F14 in one projection, all JVM-side
    built-ins (the reference does these row-by-row in Python,
    ref app.py:160-168, 224-230, 303):

    - date format 'dd MMM yyyy'  (F5, ref app.py:160)
    - 12-hour clock 'hh:mm a'    (F6, ref app.py:229)
    - money 2dp                  (F9, ref app.py:163)
    - last-4 masking             (F10, ref app.py:133,303)
    - string length              (F13, ref app.py:93)
    - deterministic txn id = md5 (F14, ref README.md:52)
    """
    cat = Catalog(spark, sf_dir)
    return (
        cat.orders.filter(F.col("o_orderkey") <= 500)
        .join(cat.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "dd MMM yyyy").alias("order_date_fmt"),
            F.date_format("o_orderdate", "hh:mm a").alias("order_time_fmt"),
            F.format_string("%.2f", F.col("o_totalprice")).alias("price_fmt"),
            F.concat(F.lit("****"), F.expr("right(c_name, 4)")).alias("masked_name"),
            F.length("c_name").alias("name_len"),
            F.md5(F.concat_ws("|", F.col("o_orderkey"), F.col("o_custkey")))
            .alias("txn_id"),
        )
    )


SCALAR_FUNCTIONS_SQL = """
SELECT o_orderkey,
       strftime(o_orderdate, '%d %b %Y') AS order_date_fmt,
       strftime(o_orderdate, '%I:%M %p') AS order_time_fmt,
       printf('%.2f', o_totalprice) AS price_fmt,
       '****' || right(c_name, 4) AS masked_name,
       length(c_name) AS name_len,
       md5(o_orderkey || '|' || o_custkey) AS txn_id
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderkey <= 500
"""


def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction on events.props (extension, SURVEY.md
    §2.8 note): parse `{"k": N}` and aggregate per event_type."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.events
        .withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            # integer sum is exact → one double division is deterministic
            fround(F.sum("k").cast("double") / F.count("k"), 6).alias("avg_k"),
        )
    )


JSON_EXTRACTION_SQL = f"""
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       {sql_fround("CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / COUNT(json_extract_string(props, '$.k'))", 6)} AS avg_k
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# registration
# --------------------------------------------------------------------------

for _name, _fn, _sql in [
    ("scan_filter_project", scan_filter_project, SCAN_FILTER_PROJECT_SQL),
    ("point_lookup", point_lookup, POINT_LOOKUP_SQL),
    ("filter_conjunctive", filter_conjunctive, FILTER_CONJUNCTIVE_SQL),
    ("filter_computed_hash", filter_computed_hash, FILTER_COMPUTED_HASH_SQL),
    ("data_quality_filter", data_quality_filter, DATA_QUALITY_FILTER_SQL),
    ("join_inner_dim", join_inner_dim, JOIN_INNER_DIM_SQL),
    ("join_fact_fact", join_fact_fact, JOIN_FACT_FACT_SQL),
    ("join_left_coalesce", join_left_coalesce, JOIN_LEFT_COALESCE_SQL),
    ("join_semi", join_semi, JOIN_SEMI_SQL),
    ("join_anti", join_anti, JOIN_ANTI_SQL),
    ("join_cross", join_cross, JOIN_CROSS_SQL),
    ("agg_count_per_group", agg_count_per_group, AGG_COUNT_PER_GROUP_SQL),
    ("agg_sum_filtered", agg_sum_filtered, AGG_SUM_FILTERED_SQL),
    ("agg_max_per_group", agg_max_per_group, AGG_MAX_PER_GROUP_SQL),
    ("agg_argmax", agg_argmax, AGG_ARGMAX_SQL),
    ("agg_distinct", agg_distinct, AGG_DISTINCT_SQL),
    ("agg_approx_distinct", agg_approx_distinct, AGG_APPROX_DISTINCT_SQL),
    ("agg_approx_distinct_fast", agg_approx_distinct_fast, None),
    ("sort_limit_topk", sort_limit_topk, SORT_LIMIT_TOPK_SQL),
    ("setop_union", setop_union, SETOP_UNION_SQL),
    ("setop_intersect", setop_intersect, SETOP_INTERSECT_SQL),
    ("setop_except", setop_except, SETOP_EXCEPT_SQL),
    ("scalar_functions", scalar_functions, SCALAR_FUNCTIONS_SQL),
    ("json_extraction", json_extraction, JSON_EXTRACTION_SQL),
]:
    register(_name, _fn, _sql)
