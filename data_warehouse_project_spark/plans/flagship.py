"""Flagship query — the reference's "My Registrations" (E3) semantics
transplanted onto the driver star schema (SURVEY.md §7.1).

Reference shape (reference db.py:381-402, rendered at app.py:346-365):
  registrations ⋈ events, plus
  (a) correlated greatest-per-group filter: keep only the newest
      registration per (user_id, event_id)  — db.py:394-399
  (b) correlated top-1 scalar subquery: latest payment_status by
      payment_date per registration          — db.py:386-390
  then ORDER BY event_date.

Star-schema transplant:
  orders ≈ registrations (fact), customer ≈ users (dim),
  lineitem ≈ payments (activity per order).
  (a) → keep the newest order per (o_custkey, o_orderstatus), newest =
        max o_orderkey (the reference's AUTO_INCREMENT-max semantics);
  (b) → per surviving order, the l_linestatus/l_returnflag of the
        latest l_shipdate (tiebreak: l_linenumber desc — deterministic
        tightening of MySQL's LIMIT 1, SURVEY.md §7.4.5);
  join the customer dim, sort by o_orderdate.

Physical shape at scale: both windows shuffle the facts once on their
partition keys; the customer join broadcasts (dim ≪ fact); the final
orderBy is a range-partitioned sort. No driver-side loops — this is
the de-N+1-ed form of the reference's per-row lookups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..sources.catalog import Catalog


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    orders, lineitem, customer = cat.orders, cat.lineitem, cat.customer

    # (a) newest order per (customer, status) — ref db.py:394-399
    # analog. Same max_by-over-struct pattern as (b): partial
    # aggregation shrinks the shuffle to one row per group (a window
    # would shuffle the whole fact). o_orderkey is unique → total
    # order, deterministic. The struct carries only the columns the
    # result reads: Catalyst cannot prune fields inside an
    # aggregate's struct, so every extra one rides the shuffle.
    other_cols = ["o_orderkey", "o_totalprice", "o_orderdate"]
    latest_orders = (
        orders.groupBy("o_custkey", "o_orderstatus")
        .agg(F.expr(
            f"max_by(struct({', '.join(other_cols)}), o_orderkey)"
        ).alias("__top"))
        .select("o_custkey", "o_orderstatus",
                *[F.col(f"__top.{c}").alias(c) for c in other_cols])
    )
    # tracked persist (cache.py): feeds both the main join AND the
    # broadcast semi-prefilter below (without it the orders
    # aggregation would run twice)
    from ..cache import pin
    latest_orders = pin(latest_orders)

    # (b) latest lineitem-derived status per order — ref db.py:386-390
    # analog. max_by aggregation instead of a row_number window: the
    # partial (map-side) aggregate collapses each scan partition to
    # one row per order BEFORE the shuffle — a window must shuffle
    # every lineitem row. Ordering includes the payload columns as
    # final tiebreakers: the testdata contains fully-duplicated
    # (orderkey, linenumber, shipdate) rows, so (shipdate, linenumber)
    # alone is NOT a total order (SURVEY.md §7.4.5 determinism policy).
    # broadcast semi-prefilter: only ~1/3 of orders survive (a) (one
    # per (customer, status)), so aggregating lineitem for ALL orders
    # wastes 2/3 of the max_by work and shuffle. The surviving keys
    # are dim-sized, so the join broadcasts them into the lineitem
    # scan before aggregating. Semantics-preserving for the left join
    # (unmatched surviving orders still yield nulls). Measured at
    # sf0.1: 2.0 s → 1.7 s.
    surviving = latest_orders.select(F.col("o_orderkey").alias("l_orderkey"))
    latest_line = (
        lineitem.join(surviving, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.expr(
            "max_by(struct(l_linestatus, l_returnflag), "
            "struct(l_shipdate, l_linenumber, l_linestatus, l_returnflag))"
        ).alias("__top"))
        .select(
            F.col("l_orderkey"),
            F.col("__top.l_linestatus").alias("latest_linestatus"),
            F.col("__top.l_returnflag").alias("latest_returnflag"),
        )
    )

    return (
        latest_orders
        .join(customer, latest_orders.o_custkey == customer.c_custkey)
        .join(latest_line, latest_orders.o_orderkey == latest_line.l_orderkey, "left")
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "latest_linestatus", "latest_returnflag",
        )
        .orderBy("o_orderdate", "o_orderkey")
    )


FLAGSHIP_ORACLE = """
WITH latest_orders AS (
    SELECT * FROM (
        SELECT o.*, ROW_NUMBER() OVER (
            PARTITION BY o_custkey, o_orderstatus
            ORDER BY o_orderkey DESC) AS rn
        FROM orders o) t
    WHERE rn = 1
),
latest_line AS (
    SELECT l_orderkey,
           l_linestatus AS latest_linestatus,
           l_returnflag AS latest_returnflag
    FROM (
        SELECT l.*, ROW_NUMBER() OVER (
            PARTITION BY l_orderkey
            ORDER BY l_shipdate DESC, l_linenumber DESC,
                     l_linestatus DESC, l_returnflag DESC) AS rn
        FROM lineitem l) t
    WHERE rn = 1
)
SELECT c.c_custkey, c.c_name, lo.o_orderkey, lo.o_orderstatus,
       lo.o_totalprice, lo.o_orderdate,
       ll.latest_linestatus, ll.latest_returnflag
FROM latest_orders lo
JOIN customer c ON c.c_custkey = lo.o_custkey
LEFT JOIN latest_line ll ON ll.l_orderkey = lo.o_orderkey
ORDER BY lo.o_orderdate, lo.o_orderkey
"""


register("flagship_my_registrations", flagship, FLAGSHIP_ORACLE)
