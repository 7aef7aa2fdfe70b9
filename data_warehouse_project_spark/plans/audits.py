"""Warehouse audit & customer-analytics operators — referential-
integrity checking, fact-vs-header reconciliation, and RFM
segmentation (the data-quality / BI surface a production warehouse
runs nightly; the reference trusts MySQL FK constraints it never
declares — ref db.py creates bare tables — so these audits are the
engine-side replacement for that missing enforcement).

Scale design: integrity checks are anti-joins (broadcast for dim-
sized parents, shuffle-hash for fact→fact); reconciliation is one
map-side-combinable groupBy(order) then a key-colocated join;
RFM quartile boundaries come from `operators.windows.disc_quantiles`
over bounded-cardinality values, broadcast back onto the per-user
aggregate.

Determinism: all comparisons and counts run on exact integers
(cents-quantized money, day-granular recency); the only doubles in
output columns are single IEEE divides of identical operands,
fround-quantized (functions/compat.py policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compat import fround, sql_fround
from ..operators.windows import disc_quantiles
from ..registry import register
from ..sources.catalog import Catalog


# --------------------------------------------------------------------------
# Referential-integrity audit
# --------------------------------------------------------------------------

#: FK edges of the star schema: (edge label, child, fk, parent, pk)
_FK_EDGES = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
]


def referential_integrity_report(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """One row per FK edge of the star schema: child row count, NULL
    foreign keys, and orphaned rows (child values with no parent) —
    the constraint-check pass a warehouse load runs because parquet
    (unlike the reference's intended-but-undeclared MySQL FKs)
    enforces nothing.

    Scale: each edge is one aggregate over the child plus one
    LEFT ANTI join; dim-sized parents broadcast, the fact→fact edge
    (lineitem→orders) hash-joins on the already-partitioned key. The
    6 one-row results union into the report."""
    cat = Catalog(spark, sf_dir)
    rows = []
    for label, child_t, fk, parent_t, pk in _FK_EDGES:
        child, parent = cat.table(child_t), cat.table(parent_t)
        stats = child.agg(
            F.count("*").cast("long").alias("n_child"),
            F.coalesce(F.sum(F.col(fk).isNull().cast("long")), F.lit(0))
            .cast("long").alias("n_null_fk"))
        orphans = (
            child.filter(F.col(fk).isNotNull())
            .join(parent.select(F.col(pk).alias(fk)), fk, "left_anti")
            .agg(F.count("*").cast("long").alias("n_orphans"))
        )
        rows.append(
            stats.join(orphans)  # 1-row × 1-row
            .select(F.lit(label).alias("edge"), "n_child", "n_null_fk",
                    "n_orphans"))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("edge")


def _ri_edge_sql(label: str, child: str, fk: str,
                 parent: str, pk: str) -> str:
    # parent PKs are unique, so the LEFT JOIN cannot fan out and the
    # orphan test is a NULL parent key
    return f"""
SELECT '{label}' AS edge,
       CAST(COUNT(*) AS BIGINT) AS n_child,
       CAST(COALESCE(SUM(CASE WHEN c.{fk} IS NULL THEN 1 END), 0)
            AS BIGINT) AS n_null_fk,
       CAST(COALESCE(SUM(CASE WHEN c.{fk} IS NOT NULL AND p.{pk} IS NULL
                          THEN 1 END), 0) AS BIGINT) AS n_orphans
FROM {child} c LEFT JOIN {parent} p ON c.{fk} = p.{pk}
"""


RI_SQL = ("\nUNION ALL\n".join(_ri_edge_sql(*e) for e in _FK_EDGES)
          + "\nORDER BY edge")

register("referential_integrity_report", referential_integrity_report,
         RI_SQL)


# --------------------------------------------------------------------------
# Order-header vs line-detail reconciliation
# --------------------------------------------------------------------------

#: mismatch threshold: recomputed net differs from the header total
#: by more than 1% of the header value
_MISMATCH_PCT = 1


def order_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-vs-header reconciliation: recompute each order's net value
    from its lines — (l_extendedprice * (1 - l_discount)) *
    (1 + l_tax), cents-quantized per row, exact integer sum — and
    compare against the cents-quantized o_totalprice header. Reports
    per order status: order count, orders with no lines, orders whose
    recomputed value drifts beyond 1% of the header, and the max /
    mean absolute drift.

    Scale: one map-side-combinable groupBy(l_orderkey), one
    key-colocated join to orders, then a tiny per-status aggregate.
    The per-row double product is written in the identical
    parenthesized op order on both engines → identical IEEE doubles
    into the quantizer; everything after is integer-exact."""
    cat = Catalog(spark, sf_dir)
    line_tot = (
        cat.lineitem
        .groupBy("l_orderkey")
        .agg(F.sum(
            F.floor((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    * (1 + F.col("l_tax")) * 100 + F.lit(0.5))
            .cast("long")).alias("computed_cents"))
    )
    joined = (
        cat.orders
        .select("o_orderkey", "o_orderstatus",
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long").alias("declared_cents"))
        .join(line_tot,
              F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .withColumn("abs_diff",
                    F.abs(F.col("computed_cents") - F.col("declared_cents")))
    )
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.coalesce(F.sum(F.col("computed_cents").isNull().cast("long")),
                       F.lit(0)).cast("long").alias("n_no_lines"),
            F.coalesce(F.sum(
                (F.col("abs_diff") * 100
                 > F.col("declared_cents") * _MISMATCH_PCT).cast("long")),
                F.lit(0)).cast("long").alias("n_mismatch"),
            F.max("abs_diff").cast("long").alias("max_abs_diff_cents"),
            F.sum("abs_diff").cast("long").alias("sum_abs_diff_cents"),
            F.coalesce(F.sum(F.col("abs_diff").isNotNull().cast("long")),
                       F.lit(0)).cast("long").alias("n_with_lines"),
        )
        .select("o_orderstatus", "n_orders", "n_no_lines", "n_mismatch",
                "max_abs_diff_cents",
                fround(F.col("sum_abs_diff_cents")
                       / (F.col("n_with_lines") * F.lit(100.0)), 2)
                .alias("mean_abs_diff"))
        .orderBy("o_orderstatus")
    )


ORDER_AUDIT_SQL = f"""
WITH line_tot AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount))
                               * (1 + l_tax) * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS computed_cents
    FROM lineitem GROUP BY l_orderkey
),
joined AS (
    SELECT o.o_orderstatus,
           CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
               AS declared_cents,
           lt.computed_cents,
           ABS(lt.computed_cents
               - CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
               AS abs_diff
    FROM orders o LEFT JOIN line_tot lt ON o.o_orderkey = lt.l_orderkey
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COALESCE(SUM(CASE WHEN computed_cents IS NULL THEN 1 END), 0)
            AS BIGINT) AS n_no_lines,
       CAST(COALESCE(SUM(CASE WHEN abs_diff * 100
                               > declared_cents * {_MISMATCH_PCT}
                          THEN 1 END), 0) AS BIGINT) AS n_mismatch,
       CAST(MAX(abs_diff) AS BIGINT) AS max_abs_diff_cents,
       {sql_fround('SUM(abs_diff) / (SUM(CASE WHEN abs_diff IS NOT NULL '
                   'THEN 1 ELSE 0 END) * 100.0)', 2)} AS mean_abs_diff
FROM joined
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

register("order_consistency_audit", order_consistency_audit,
         ORDER_AUDIT_SQL)


# --------------------------------------------------------------------------
# RFM segmentation
# --------------------------------------------------------------------------

def user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over the events stream: per user,
    Recency (days since last event, vs the corpus max date),
    Frequency (event count) and Monetary (cents-exact value sum)
    score 1-4 against exact discrete quartile boundaries; users
    aggregate into R·F·M segments with counts and mean spend — the
    standard CRM segmentation a warehouse serves to marketing.

    Scale: one groupBy(user_id) over events; each quartile boundary
    comes from a bounded distinct-value histogram (days for R, event
    counts for F, whole currency units for M; `disc_quantiles`) and
    broadcasts back; the final aggregate has ≤ 64 segment rows."""
    cat = Catalog(spark, sf_dir)
    anchor = cat.events.agg(F.max(F.to_date("ts")).alias("anchor"))
    users = (
        cat.events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").cast("long").alias("freq"),
            F.coalesce(F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))
                             .cast("long")), F.lit(0)).alias("mon_cents"),
        )
        .join(anchor)
        .withColumn("recency_days",
                    F.datediff(F.col("anchor"), F.to_date("last_ts"))
                    .cast("long"))
        # floor-division (not cast-truncation: Spark casts toward
        # zero, DuckDB CAST rounds — FLOOR is the one shared form)
        .withColumn("mon_units",
                    F.floor(F.col("mon_cents") / F.lit(100.0)).cast("long"))
        .drop("anchor", "last_ts")
    )
    # ONE stacked histogram pass computes all nine quartile bounds:
    # (dim, value) counts shuffle once, the ranking windows partition
    # by dim (never single-partition), and the bounds pivot into a
    # single one-row broadcast
    stacked = users.selectExpr(
        "stack(3, 'r', recency_days, 'f', freq, 'm', mon_units)"
        " as (dim, v)")
    bounds = (
        disc_quantiles(stacked, ["dim"], "v",
                       {"q1": (1, 4), "q2": (2, 4), "q3": (3, 4)})
        .groupBy().pivot("dim", ["r", "f", "m"])
        .agg(F.first("q1").alias("q1"), F.first("q2").alias("q2"),
             F.first("q3").alias("q3"))
    )

    def score(v: str, p: str, invert: bool):
        up = ((F.col(v) > F.col(f"{p}_q1")).cast("int")
              + (F.col(v) > F.col(f"{p}_q2")).cast("int")
              + (F.col(v) > F.col(f"{p}_q3")).cast("int"))
        return (F.lit(4) - up) if invert else (F.lit(1) + up)

    scored = (
        users.join(bounds)
        .withColumn("r_score", score("recency_days", "r", invert=True))
        .withColumn("f_score", score("freq", "f", invert=False))
        .withColumn("m_score", score("mon_units", "m", invert=False))
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count("*").cast("long").alias("n_users"),
             F.sum("mon_cents").alias("seg_cents"))
        .select(
            F.concat(F.lit("R"), F.col("r_score"), F.lit("F"),
                     F.col("f_score"), F.lit("M"), F.col("m_score"))
            .alias("segment"),
            "r_score", "f_score", "m_score", "n_users",
            fround(F.col("seg_cents") / (F.col("n_users") * F.lit(100.0)), 2)
            .alias("mean_spend"))
        .orderBy("segment")
    )


def _sql_quartiles(src: str, col: str) -> str:
    return f"""(
    SELECT MIN(CASE WHEN cum * 4 >= n THEN v END) AS q1,
           MIN(CASE WHEN cum * 4 >= n * 2 THEN v END) AS q2,
           MIN(CASE WHEN cum * 4 >= n * 3 THEN v END) AS q3
    FROM (SELECT {col} AS v,
                 SUM(c) OVER (ORDER BY {col}
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(c) OVER () AS n
          FROM (SELECT {col}, COUNT(*) AS c FROM {src}
                GROUP BY {col})))"""


RFM_SQL = f"""
WITH anchor AS (SELECT MAX(CAST(ts AS DATE)) AS anchor FROM events),
users AS (
    SELECT user_id,
           CAST(date_diff('day', CAST(MAX(ts) AS DATE),
                          (SELECT anchor FROM anchor)) AS BIGINT)
               AS recency_days,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(COALESCE(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)), 0)
                AS BIGINT) AS mon_cents,
           CAST(FLOOR(COALESCE(SUM(CAST(FLOOR(value * 100 + 0.5)
                                        AS BIGINT)), 0) / 100.0)
                AS BIGINT) AS mon_units
    FROM events WHERE user_id IS NOT NULL
    GROUP BY user_id
),
rq AS {_sql_quartiles('users', 'recency_days')},
fq AS {_sql_quartiles('users', 'freq')},
mq AS {_sql_quartiles('users', 'mon_units')},
scored AS (
    SELECT u.*,
           4 - ((u.recency_days > rq.q1)::INT + (u.recency_days > rq.q2)::INT
                + (u.recency_days > rq.q3)::INT) AS r_score,
           1 + ((u.freq > fq.q1)::INT + (u.freq > fq.q2)::INT
                + (u.freq > fq.q3)::INT) AS f_score,
           1 + ((u.mon_units > mq.q1)::INT + (u.mon_units > mq.q2)::INT
                + (u.mon_units > mq.q3)::INT) AS m_score
    FROM users u, rq, fq, mq
)
SELECT 'R' || r_score || 'F' || f_score || 'M' || m_score AS segment,
       r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       {sql_fround('SUM(mon_cents) / (COUNT(*) * 100.0)', 2)}
           AS mean_spend
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY segment
"""

register("user_rfm_segments", user_rfm_segments, RFM_SQL)


# --------------------------------------------------------------------------
# Time-series completeness (hour-spine gap detection)
# --------------------------------------------------------------------------

def events_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-data audit for the event stream: generate the full
    hour spine between the corpus min and max hour, cross it with
    the observed event types, and anti-join the observed (hour, type)
    cells — per type: expected vs observed hours, the gap count, and
    the first/last missing hour. The complement of the anomaly
    detectors: a MAD spike needs a row to flag, a GAP is the row
    that never arrived (dead producer, dropped partition).

    Scale: the spine is bounded (hours between min and max — a
    one-row aggregate drives sequence()), types are a tiny distinct;
    expected = spine × types attaches by broadcast nested loop over
    the bounded spine; the anti-join probes the (hour, type)
    aggregate of events, never raw rows."""
    cat = Catalog(spark, sf_dir)
    hourly = (cat.events
              .select(F.date_trunc("hour", F.col("ts")).alias("h"),
                      "event_type")
              .distinct())
    spine = (cat.events
             .agg(F.min(F.date_trunc("hour", F.col("ts"))).alias("lo"),
                  F.max(F.date_trunc("hour", F.col("ts"))).alias("hi"))
             .select(F.explode(F.expr(
                 "sequence(lo, hi, interval 1 hour)")).alias("h")))
    types = cat.events.select("event_type").distinct()
    expected = spine.join(F.broadcast(types))
    missing = expected.join(hourly, ["h", "event_type"], "left_anti")
    n_spine = spine.agg(F.count("*").alias("n_expected"))
    obs = hourly.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_observed"))
    gaps = missing.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_missing"),
        F.min("h").alias("first_gap"),
        F.max("h").alias("last_gap"))
    return (
        obs.join(n_spine)
        .join(gaps, "event_type", "left")
        .select(
            "event_type",
            F.col("n_expected").cast("long").alias("n_expected"),
            "n_observed",
            F.coalesce("n_missing", F.lit(0)).cast("long")
            .alias("n_missing"),
            "first_gap", "last_gap")
        .orderBy("event_type")
    )


EVENTS_GAP_SQL = """
WITH hourly AS (
    SELECT DISTINCT date_trunc('hour', ts) AS h, event_type FROM events
),
spine AS (
    SELECT UNNEST(generate_series((SELECT MIN(date_trunc('hour', ts))
                                   FROM events),
                                  (SELECT MAX(date_trunc('hour', ts))
                                   FROM events),
                                  INTERVAL 1 HOUR)) AS h
),
types AS (SELECT DISTINCT event_type FROM events),
missing AS (
    SELECT e.h, e.event_type
    FROM (SELECT s.h, t.event_type FROM spine s, types t) e
    LEFT JOIN hourly o ON e.h = o.h AND e.event_type = o.event_type
    WHERE o.h IS NULL
),
gaps AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_missing,
           MIN(h) AS first_gap, MAX(h) AS last_gap
    FROM missing GROUP BY event_type
)
SELECT o.event_type,
       CAST((SELECT COUNT(*) FROM spine) AS BIGINT) AS n_expected,
       CAST(o.n_observed AS BIGINT) AS n_observed,
       CAST(COALESCE(g.n_missing, 0) AS BIGINT) AS n_missing,
       g.first_gap, g.last_gap
FROM (SELECT event_type, COUNT(*) AS n_observed FROM hourly
      GROUP BY event_type) o
LEFT JOIN gaps g ON o.event_type = g.event_type
ORDER BY o.event_type
"""

register("events_gap_report", events_gap_report, EVENTS_GAP_SQL)


# --------------------------------------------------------------------------
# Dimension entity resolution (duplicate-entity audit)
# --------------------------------------------------------------------------

def entity_dedup_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-entity audit over the part dimension — the MDM
    (master-data-management) pass a warehouse runs before conformed
    dims ship: canonicalize each part name to its token-sort
    signature (order-insensitive, the standard entity-resolution
    blocking key), group, and report every signature that maps to
    MORE than one part key — duplicate entities that inflate join
    fan-out and double-count in per-part rollups. Per group: the
    surviving key (min — the reference's lastrowid-style stable
    survivor rule), brand diversity, and the retail-price spread
    (conflicting attribute values to reconcile).

    Scale: canonicalization (split → array_sort → array_join) is
    scan-side whole-stage codegen; the one shuffle is a
    dimension-sized groupBy on the signature — never fact-scale.
    Min/max/count aggregates only (order-independent; the spread is
    a single IEEE subtraction of exact min/max, fround-quantized).
    """
    cat = Catalog(spark, sf_dir)
    sig = F.array_join(F.array_sort(F.split(F.trim(F.col("p_name")),
                                            r"\s+")), " ")
    return (
        cat.part
        .select(sig.alias("name_signature"), "p_partkey", "p_brand",
                "p_retailprice")
        .groupBy("name_signature")
        .agg(F.count("*").cast("long").alias("n_parts"),
             F.min("p_partkey").cast("long").alias("survivor_partkey"),
             F.countDistinct("p_brand").cast("long").alias("n_brands"),
             F.min("p_retailprice").alias("min_price"),
             F.max("p_retailprice").alias("max_price"))
        .filter(F.col("n_parts") > 1)
        .select("name_signature", "n_parts", "survivor_partkey",
                "n_brands",
                fround(F.col("min_price"), 2).alias("min_price"),
                fround(F.col("max_price"), 2).alias("max_price"),
                fround(F.col("max_price") - F.col("min_price"), 2)
                .alias("price_spread"))
        .orderBy(F.desc("n_parts"), "name_signature")
    )


ENTITY_DEDUP_SQL = f"""
WITH canon AS (
    SELECT array_to_string(list_sort(string_split_regex(trim(p_name),
                                                        '\\s+')), ' ')
               AS name_signature,
           p_partkey, p_brand, p_retailprice
    FROM part
),
grp AS (
    SELECT name_signature,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(MIN(p_partkey) AS BIGINT) AS survivor_partkey,
           CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands,
           MIN(p_retailprice) AS mn, MAX(p_retailprice) AS mx
    FROM canon GROUP BY 1
)
SELECT name_signature, n_parts, survivor_partkey, n_brands,
       {sql_fround('mn', 2)} AS min_price,
       {sql_fround('mx', 2)} AS max_price,
       {sql_fround('mx - mn', 2)} AS price_spread
FROM grp
WHERE n_parts > 1
ORDER BY n_parts DESC, name_signature
"""

register("entity_dedup_parts", entity_dedup_parts, ENTITY_DEDUP_SQL)


# --------------------------------------------------------------------------
# Primary-key uniqueness audit
# --------------------------------------------------------------------------

#: (table, pk expression) pairs the audit certifies. lineitem's PK is
#: composite (orderkey, linenumber) — the one that actually catches
#: double-loaded fact files.
_PK_EDGES = [
    ("customer", ["c_custkey"]),
    ("orders", ["o_orderkey"]),
    ("part", ["p_partkey"]),
    ("supplier", ["s_suppkey"]),
    ("lineitem", ["l_orderkey", "l_linenumber"]),
    ("events", ["event_id"]),
    ("documents", ["doc_id"]),
    ("embeddings", ["vec_id"]),
]


def pk_uniqueness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness across the whole star + corpus — the
    complement of referential_integrity_report (FKs can all resolve
    while a double-loaded file silently doubles a table): per table,
    row count, distinct-PK count, duplicated-key count, and the
    excess rows a reload would shed. Parquet enforces no constraints;
    this audit is the engine-side CREATE UNIQUE INDEX.

    Recorded finding on the driver data (every sf): the synthetic
    generator assigns lineitem linenumbers randomly, so the
    composite (l_orderkey, l_linenumber) key IS duplicated (~19% of
    keys at sf0.001) — the report states it, the oracle agrees, and
    the healthcheck CLI lists lineitem as a known non-unique table
    rather than failing (real TPC-H data would gate).

    Scale: per table ONE map-side-combined groupBy on the PK; the
    report derives entirely from that aggregate. The composite
    lineitem key shuffles (orderkey, linenumber) pairs — the file's
    natural clustering, so partial aggregation collapses nearly all
    of it scan-side."""
    cat = Catalog(spark, sf_dir)
    outs = []
    for tbl, keys in _PK_EDGES:
        per = (cat.table(tbl).groupBy(*keys)
               .agg(F.count("*").alias("c")))
        outs.append(per.agg(
            F.lit(tbl).alias("tbl"),
            F.sum("c").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_distinct_pk"),
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).cast("long")
            .alias("n_dup_keys"),
            F.sum(F.col("c") - 1).cast("long").alias("n_excess_rows")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("tbl")


def _pk_sql() -> str:
    parts = []
    for tbl, keys in _PK_EDGES:
        kl = ", ".join(keys)
        parts.append(f"""
SELECT '{tbl}' AS tbl,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_pk,
       CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_keys,
       CAST(SUM(c - 1) AS BIGINT) AS n_excess_rows
FROM (SELECT {kl}, COUNT(*) AS c FROM {tbl} GROUP BY {kl})""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY tbl"


register("pk_uniqueness_report", pk_uniqueness_report, _pk_sql())


# --------------------------------------------------------------------------
# k-anonymity audit (quasi-identifier re-identification risk)
# --------------------------------------------------------------------------

#: re-identification threshold: groups smaller than K are risky
K_ANON = 5


def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit over the customer dimension: treat (mktsegment,
    nationkey) as the quasi-identifier pair an attacker could link on
    and report the k-anonymity profile — per power-of-two group-size
    band: equivalence-class count and row mass, plus each band's
    share of customers below the K_ANON threshold. The release gate
    that complements pii_scrub (masks direct identifiers) and
    gdpr_erasure (removes subjects): quasi-identifiers re-identify
    WITHOUT any direct identifier.

    Scale: one map-side-combined groupBy on the quasi-identifier,
    then a band rollup over the equivalence-class aggregate (bounded
    by distinct QI combinations). Band = the bit length of the group
    size (band b ⇔ size in [2^(b-1), 2^b)), computed as the string
    length of the base-2 representation — exact integer/string
    arithmetic identical in both engines; no transcendental log
    enters the plan.
    """
    cat = Catalog(spark, sf_dir)
    eq = (cat.customer
          .groupBy("c_mktsegment", "c_nationkey")
          .agg(F.count("*").cast("long").alias("gsize")))
    # power-of-two band via bit length: band = len(bin(gsize)) - 1,
    # exact integer arithmetic in both engines
    band = (F.length(F.conv(F.col("gsize").cast("string"), 10, 2))
            .cast("long"))
    return (eq.select(band.alias("size_band_log2"), "gsize")
            .groupBy("size_band_log2")
            .agg(F.count("*").cast("long").alias("n_groups"),
                 F.sum("gsize").cast("long").alias("n_customers"),
                 F.sum(F.when(F.col("gsize") < K_ANON, F.col("gsize"))
                       .otherwise(0)).cast("long")
                 .alias("n_below_k"))
            .orderBy("size_band_log2"))


K_ANONYMITY_SQL = f"""
WITH eq AS (
    SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS gsize
    FROM customer GROUP BY 1, 2
)
SELECT CAST(LENGTH(bin(gsize)) AS BIGINT) AS size_band_log2,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(gsize) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN gsize < {K_ANON} THEN gsize ELSE 0 END)
            AS BIGINT) AS n_below_k
FROM eq
GROUP BY 1
ORDER BY size_band_log2
"""

register("k_anonymity_report", k_anonymity_report, K_ANONYMITY_SQL)

#: l-diversity release threshold: every quasi-identifier group must
#: contain at least this many DISTINCT sensitive values
L_DIV = 3

#: fixed acctbal band edges (the released "sensitive attribute"):
#: negative / four 2500-wide bands — deterministic threshold compares,
#: no quantile estimation enters the audit
_ACCTBAL_BANDS = (0, 2500, 5000, 7500)


def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit, the l-diversity complement of k_anonymity_report
    (same quasi-identifier pair): k-anonymity bounds how SMALL a
    linkable group can be, but a large group whose sensitive value is
    uniform still leaks it (the homogeneity attack — Machanavajjhala
    et al., ICDE 2006). Here the sensitive attribute is the account-
    balance band (fixed edges, no quantiles), and the report profiles
    groups by their count of DISTINCT sensitive bands: per diversity
    level, group count, row mass, and the rows in groups failing
    l = L_DIV — the mass a release gate would suppress or generalize.

    Scale: one map-side-combined two-level aggregation — distinct
    (QI, band) then per-QI distinct counts ride the same shuffle key —
    then a rollup bounded by the 5-level diversity domain. Pure
    integer compares and counts; nothing transcendental.
    """
    cat = Catalog(spark, sf_dir)
    band = (F.when(F.col("c_acctbal") < _ACCTBAL_BANDS[0], 0)
            .when(F.col("c_acctbal") < _ACCTBAL_BANDS[1], 1)
            .when(F.col("c_acctbal") < _ACCTBAL_BANDS[2], 2)
            .when(F.col("c_acctbal") < _ACCTBAL_BANDS[3], 3)
            .otherwise(4))
    eq = (cat.customer
          .select("c_mktsegment", "c_nationkey", band.alias("sens"))
          .groupBy("c_mktsegment", "c_nationkey")
          .agg(F.count_distinct(F.col("sens")).cast("long")
               .alias("diversity"),
               F.count("*").cast("long").alias("gsize")))
    return (eq.groupBy("diversity")
            .agg(F.count("*").cast("long").alias("n_groups"),
                 F.sum("gsize").cast("long").alias("n_customers"),
                 F.sum(F.when(F.col("diversity") < L_DIV,
                              F.col("gsize")).otherwise(0))
                 .cast("long").alias("n_below_l"))
            .orderBy("diversity"))


L_DIVERSITY_SQL = f"""
WITH eq AS (
    SELECT c_mktsegment, c_nationkey,
           CAST(COUNT(DISTINCT CASE
                WHEN c_acctbal < {_ACCTBAL_BANDS[0]} THEN 0
                WHEN c_acctbal < {_ACCTBAL_BANDS[1]} THEN 1
                WHEN c_acctbal < {_ACCTBAL_BANDS[2]} THEN 2
                WHEN c_acctbal < {_ACCTBAL_BANDS[3]} THEN 3
                ELSE 4 END) AS BIGINT) AS diversity,
           CAST(COUNT(*) AS BIGINT) AS gsize
    FROM customer GROUP BY 1, 2
)
SELECT diversity,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(gsize) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN diversity < {L_DIV} THEN gsize ELSE 0 END)
            AS BIGINT) AS n_below_l
FROM eq
GROUP BY 1
ORDER BY diversity
"""

register("l_diversity_report", l_diversity_report, L_DIVERSITY_SQL)

# --------------------------------------------------------------------------
# t-closeness audit (completes the k-anonymity / l-diversity triad)
# --------------------------------------------------------------------------

#: t-closeness release threshold as an exact rational (t = 1/5): a
#: group fails when its sensitive-band distribution sits farther than
#: t from the global distribution under the ordered-domain EMD
_T_CLOSE_NUM, _T_CLOSE_DEN = 1, 5

#: ordered sensitive-band domain size (the _ACCTBAL_BANDS edges + 1)
_N_BANDS = len(_ACCTBAL_BANDS) + 1


def t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit, the t-closeness complement of k_anonymity_report
    and l_diversity_report (same quasi-identifier pair, same sensitive
    banding): l-diversity counts distinct sensitive values but a group
    can be "diverse" while still skewed far from the population — the
    skewness attack (Li, Li & Venkatasubramanian, ICDE 2007). Here
    each (mktsegment, nationkey) group's band distribution is compared
    to the GLOBAL band distribution under the Earth Mover's Distance
    over the ordered 5-band domain, and the report profiles groups by
    EMD decile: group count, row mass, and the rows in groups whose
    EMD exceeds t = 1/5 — the mass a release gate would generalize.

    Determinism: the ordered-domain EMD is computed entirely in
    integers. With group cumulative counts C_j, global cumulative
    counts G_j, group size s and population size N,
        EMD = (1 / (m-1)) * sum_j |C_j/s - G_j/N|
    so   EMD * (m-1) * s * N = sum_j |C_j*N - G_j*s|   (exact BIGINT).
    The decile is integer division of that scaled sum; the t-gate is
    the cross-multiplied compare DEN*scaled > NUM*(m-1)*s*N. No float
    division anywhere. (BIGINT headroom: terms are bounded by s*N —
    fine up to ~10^9-customer dimensions; beyond that switch the two
    products to DECIMAL(38,0).)

    Scale: one map-side-combined groupBy on (QI, band) — the only
    corpus-sized shuffle; everything after runs on the bounded
    QI-combination x 5-band grid (explode(sequence), no join for the
    missing-cell completion bias), a per-QI 5-row cumulative window,
    a broadcast of the 5-row global cumulative, and a rollup over the
    ≤10-row decile domain.
    """
    cat = Catalog(spark, sf_dir)
    band = (F.when(F.col("c_acctbal") < _ACCTBAL_BANDS[0], 0)
            .when(F.col("c_acctbal") < _ACCTBAL_BANDS[1], 1)
            .when(F.col("c_acctbal") < _ACCTBAL_BANDS[2], 2)
            .when(F.col("c_acctbal") < _ACCTBAL_BANDS[3], 3)
            .otherwise(4)).cast("long")
    cells = (cat.customer
             .select("c_mktsegment", "c_nationkey", band.alias("sens"))
             .groupBy("c_mktsegment", "c_nationkey", "sens")
             .agg(F.count("*").cast("long").alias("n")))

    # global band cumulative over the FULL 0..m-1 domain (a band empty
    # in the population must still occupy its slot so both engines sum
    # the same m terms); 5 rows, so the unpartitioned window is exact
    # bounded work, not a data-sized single partition
    dom = spark.range(_N_BANDS).select(F.col("id").cast("long")
                                       .alias("sens"))
    gtot = (dom.join(cells.groupBy("sens")
                     .agg(F.sum("n").cast("long").alias("nb")),
                     "sens", "left")
            .na.fill({"nb": 0}))
    w_cum = (Window.orderBy("sens")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = (Window.orderBy("sens")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    gcum = gtot.select(
        "sens",
        F.sum("nb").over(w_cum).cast("long").alias("cum_nb"),
        F.sum("nb").over(w_all).cast("long").alias("n_total"))

    # per-group cumulative over the same full domain
    grid = (cells.select("c_mktsegment", "c_nationkey").distinct()
            .select("c_mktsegment", "c_nationkey",
                    F.explode(F.sequence(F.lit(0), F.lit(_N_BANDS - 1)))
                    .alias("sens"))
            .withColumn("sens", F.col("sens").cast("long")))
    filled = (grid.join(cells, ["c_mktsegment", "c_nationkey", "sens"],
                        "left")
              .na.fill({"n": 0}))
    w_g = (Window.partitionBy("c_mktsegment", "c_nationkey")
           .orderBy("sens")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_gall = Window.partitionBy("c_mktsegment", "c_nationkey")
    cum = filled.select(
        "c_mktsegment", "c_nationkey", "sens",
        F.sum("n").over(w_g).cast("long").alias("cum_n"),
        F.sum("n").over(w_gall).cast("long").alias("gsize"))

    emd = (cum.join(gcum, "sens")
           .groupBy("c_mktsegment", "c_nationkey")
           .agg(F.max("gsize").alias("gsize"),
                F.max("n_total").alias("n_total"),
                F.sum(F.abs(F.col("cum_n") * F.col("n_total")
                            - F.col("cum_nb") * F.col("gsize")))
                .cast("long").alias("emd_scaled")))
    m1 = _N_BANDS - 1
    return (emd.select(
                F.expr(f"(10 * emd_scaled) DIV ({m1} * gsize * n_total)")
                .cast("long").alias("emd_decile"),
                "gsize", "emd_scaled", "n_total")
            .groupBy("emd_decile")
            .agg(F.count("*").cast("long").alias("n_groups"),
                 F.sum("gsize").cast("long").alias("n_customers"),
                 F.sum(F.when(
                     F.lit(_T_CLOSE_DEN) * F.col("emd_scaled")
                     > F.lit(_T_CLOSE_NUM * m1)
                     * F.col("gsize") * F.col("n_total"),
                     F.col("gsize")).otherwise(0))
                 .cast("long").alias("n_above_t"))
            .orderBy("emd_decile"))


T_CLOSENESS_SQL = f"""
WITH cells AS (
    SELECT c_mktsegment AS seg, c_nationkey AS nat,
           CAST(CASE WHEN c_acctbal < {_ACCTBAL_BANDS[0]} THEN 0
                WHEN c_acctbal < {_ACCTBAL_BANDS[1]} THEN 1
                WHEN c_acctbal < {_ACCTBAL_BANDS[2]} THEN 2
                WHEN c_acctbal < {_ACCTBAL_BANDS[3]} THEN 3
                ELSE 4 END AS BIGINT) AS sens,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer GROUP BY 1, 2, 3
),
dom AS (SELECT CAST(range AS BIGINT) AS sens FROM range({_N_BANDS})),
gtot AS (
    SELECT d.sens, CAST(COALESCE(x.nb, 0) AS BIGINT) AS nb
    FROM dom d LEFT JOIN (SELECT sens, SUM(n) AS nb FROM cells
                          GROUP BY 1) x
    ON d.sens = x.sens
),
gcum AS (
    SELECT sens, CAST(SUM(nb) OVER (ORDER BY sens) AS BIGINT) AS cum_nb,
           CAST(SUM(nb) OVER () AS BIGINT) AS n_total
    FROM gtot
),
grid AS (
    SELECT q.seg, q.nat, d.sens
    FROM (SELECT DISTINCT seg, nat FROM cells) q CROSS JOIN dom d
),
filled AS (
    SELECT g.seg, g.nat, g.sens, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
    FROM grid g LEFT JOIN cells c
    ON g.seg = c.seg AND g.nat = c.nat AND g.sens = c.sens
),
cum AS (
    SELECT seg, nat, sens,
           CAST(SUM(n) OVER (PARTITION BY seg, nat ORDER BY sens)
                AS BIGINT) AS cum_n,
           CAST(SUM(n) OVER (PARTITION BY seg, nat) AS BIGINT) AS gsize
    FROM filled
),
emd AS (
    SELECT c.seg, c.nat, MAX(c.gsize) AS gsize,
           MAX(g.n_total) AS n_total,
           CAST(SUM(ABS(c.cum_n * g.n_total - g.cum_nb * c.gsize))
                AS BIGINT) AS emd_scaled
    FROM cum c JOIN gcum g ON c.sens = g.sens
    GROUP BY 1, 2
)
SELECT CAST((10 * emd_scaled) // ({_N_BANDS - 1} * gsize * n_total)
            AS BIGINT) AS emd_decile,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(gsize) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN {_T_CLOSE_DEN} * emd_scaled
                     > {_T_CLOSE_NUM * (_N_BANDS - 1)} * gsize * n_total
                THEN gsize ELSE 0 END) AS BIGINT) AS n_above_t
FROM emd GROUP BY 1 ORDER BY emd_decile
"""

register("t_closeness_report", t_closeness_report, T_CLOSENESS_SQL)

# --------------------------------------------------------------------------
# Benford first-digit audit (financial-forensics conformance test)
# --------------------------------------------------------------------------

#: Benford's-law expected first-digit shares, log10(1 + 1/d) for
#: d = 1..9 PINNED to 9 decimals at authoring time — no transcendental
#: runs in either engine, the constants are part of the operator spec
_BENFORD = (0.301029996, 0.176091259, 0.124938737, 0.096910013,
            0.079181246, 0.06694679, 0.057991947, 0.051152522,
            0.045757491)

#: chi-square critical value, 8 degrees of freedom, alpha = 0.05
#: (likewise a pinned spec constant)
_BENFORD_CHI2_CRIT = 15.507


def benford_first_digit_audit(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Benford's-law conformance audit of order totals — the
    financial-forensics screen (Nigrini, "Benford's Law", 2012):
    naturally occurring multi-magnitude amounts follow
    P(first digit = d) = log10(1 + 1/d), and fabricated or
    mechanically generated figures usually don't. Per digit: count,
    observed share, expected share, and the Pearson chi-square
    contribution; every row also carries the global statistic
    N * sum((p-e)^2 / e) and the 8-df alpha=0.05 verdict. On the
    synthetic driver data the audit correctly REJECTS conformance
    (uniformly priced orders are exactly the mechanical pattern the
    screen exists to flag), so both report branches are exercised.

    Determinism: the first digit comes from the decimal string of the
    exact cents integer (no log10 at runtime); expected shares and the
    critical value are pinned spec constants; chi-square terms are
    quantized to integer nano-units before the 9-row sum, so the
    global statistic is an exact integer sum in both engines.

    Scale: one map-side-combined groupBy over the scan's first-digit
    expression (9 groups); everything after runs on the 9-row frame.
    """
    cat = Catalog(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)) \
        .cast("long")
    return benford_fold(cat.orders.select(cents.alias("cents")))


def benford_fold(amounts: DataFrame) -> DataFrame:
    """Core of the Benford audit over an (cents: long) amounts frame —
    split out so a planted log-uniform cohort exercises the
    conforms=true branch the (deliberately non-conforming) driver data
    never reaches (tests/test_audits.py). Non-positive amounts are
    excluded (no first digit); the digit domain is completed to the
    full 1..9 so ABSENT digits contribute their (0-e)^2/e = e
    chi-square mass — dropping them understates the statistic exactly
    on the fabricated inputs the screen exists to flag (review
    finding, round 7)."""
    observed = (amounts
                .where(F.col("cents") > 0)
                .select(F.substring(F.col("cents").cast("string"), 1, 1)
                        .cast("long").alias("digit"))
                .groupBy("digit")
                .agg(F.count("*").cast("long").alias("n")))
    dom = (amounts.sparkSession.range(1, 10)
           .select(F.col("id").cast("long").alias("digit")))
    digits = (dom.join(observed, "digit", "left")
              .na.fill({"n": 0}))
    expected = F.lit(None).cast("double")
    for d, e in enumerate(_BENFORD, start=1):
        expected = F.when(F.col("digit") == d, F.lit(e)) \
            .otherwise(expected)
    w = Window.partitionBy()
    t = (digits
         .withColumn("n_total", F.sum("n").over(w).cast("long"))
         .withColumn("expected", expected))
    # n_total = 0 (empty amounts frame — every digit row is a
    # completed zero) leaves the share undefined; unguarded this is a
    # Spark-4 ANSI DIVIDE_BY_ZERO crash (round-9 empty-input sweep).
    # NULL p cascades to NULL terms/statistic/verdict in both engines.
    p = F.when(
        F.col("n_total") > 0,
        F.col("n").cast("double") / F.col("n_total").cast("double"))
    e = F.col("expected")
    term_q = F.floor((p - e) * (p - e) / e * F.lit(1e9) + F.lit(0.5)) \
        .cast("long")
    t = t.withColumn("term_q", term_q) \
         .withColumn("chi2_q", F.sum("term_q").over(w).cast("long"))
    stat = F.col("n_total").cast("double") * F.col("chi2_q").cast("double") \
        / F.lit(1e9)
    return (t.select(
                "digit", "n",
                fround(p, 9).alias("frac"),
                "expected",
                fround(F.col("term_q").cast("double") / F.lit(1e9), 9)
                .alias("chi2_term"),
                fround(stat, 6).alias("benford_chi2"),
                (stat <= F.lit(_BENFORD_CHI2_CRIT)).alias("conforms"))
            .orderBy("digit"))


def _benford_case() -> str:
    return ("CASE digit "
            + " ".join(f"WHEN {d} THEN {e}"
                       for d, e in enumerate(_BENFORD, start=1))
            + " END")


BENFORD_AUDIT_SQL = f"""
WITH observed AS (
    SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
                                    AS BIGINT) AS VARCHAR), 1, 1)
                AS BIGINT) AS digit,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    WHERE CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) > 0
    GROUP BY 1
),
dom AS (SELECT CAST(range AS BIGINT) AS digit FROM range(1, 10)),
digits AS (
    SELECT d.digit, CAST(COALESCE(o.n, 0) AS BIGINT) AS n
    FROM dom d LEFT JOIN observed o ON d.digit = o.digit
),
t AS (
    SELECT digit, n,
           CAST(SUM(n) OVER () AS BIGINT) AS n_total,
           {_benford_case()} AS expected
    FROM digits
),
q AS (
    SELECT *,
           CAST(FLOOR((CASE WHEN n_total > 0 THEN
                            CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
                       END - expected)
                      * (CASE WHEN n_total > 0 THEN
                             CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
                         END - expected)
                      / expected * 1e9 + 0.5) AS BIGINT) AS term_q
    FROM t
),
g AS (SELECT *, CAST(SUM(term_q) OVER () AS BIGINT) AS chi2_q FROM q)
SELECT digit, n,
       {sql_fround('CASE WHEN n_total > 0 THEN'
                   ' CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) END', 9)}
           AS frac,
       expected,
       {sql_fround('CAST(term_q AS DOUBLE) / 1e9', 9)} AS chi2_term,
       {sql_fround('CAST(n_total AS DOUBLE) * CAST(chi2_q AS DOUBLE)'
                   ' / 1e9', 6)} AS benford_chi2,
       CAST(n_total AS DOUBLE) * CAST(chi2_q AS DOUBLE) / 1e9
           <= {_BENFORD_CHI2_CRIT} AS conforms
FROM g
ORDER BY digit
"""

register("benford_first_digit_audit", benford_first_digit_audit,
         BENFORD_AUDIT_SQL)


# --------------------------------------------------------------------------
# Differential-privacy release (deterministic-seed Laplace mechanism)
# --------------------------------------------------------------------------
# Completes the privacy-release ladder: k-anonymity / l-diversity /
# t-closeness AUDIT a proposed release; the Laplace mechanism is the
# modern alternative — publish noisy aggregates with a formal
# epsilon budget (Dwork et al. 2006). What is implemented here is the
# full mechanism PLUMBING — sensitivity-1 counting query, epsilon
# calibration b = sensitivity/epsilon, inverse-CDF Laplace draw —
# with the uniform draw taken DETERMINISTICALLY from a salted sha256
# of the group key so both engines draw identical noise and the
# release is oracle-checkable. A production release swaps that one
# line for a CSPRNG draw (and then provides real privacy; the
# deterministic seed here provides NONE — it is the testable twin of
# the mechanism, stated plainly, the multimodal-stub honesty rule).

#: privacy budget for the released counting query
_DP_EPSILON = 0.5

#: Laplace scale b = sensitivity / epsilon (counting query: 1)
_DP_SCALE = 1.0 / _DP_EPSILON

#: salt for the deterministic per-group uniform draw
_DP_SALT = "dp-v1:"

#: hex prefix length for the uniform: 8 nibbles = 32 bits, exact in
#: a double (u = (h32 + 0.5) / 2^32 is never exactly 0.5, so the
#: sign/log pair below is always finite)
_DP_HEX = 8


def _dp_uniform():
    """u in (0,1) from the first 8 hex nibbles of sha256(salt||g),
    where ``g`` is the key column of the enclosing frame: the
    nibble->int sum uses only instr/substr arithmetic available
    identically in both engines."""
    h = f"sha2(concat('{_DP_SALT}', g), 256)"
    h32 = None
    for i in range(_DP_HEX):
        nib = ((F.expr(f"instr('0123456789abcdef',"
                       f" substr({h}, {i + 1}, 1))")
                - F.lit(1)).cast("long")
               * F.lit(16 ** (_DP_HEX - 1 - i)))
        h32 = nib if h32 is None else h32 + nib
    return (h32.cast("double") + F.lit(0.5)) / F.lit(float(2 ** 32))


def orders_priority_dp_release(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Laplace-mechanism release of per-priority order counts at
    epsilon = 0.5: (priority, epsilon, scale, noise, noisy_count) —
    noise = -b * sign(u - 1/2) * ln(1 - 2|u - 1/2|), the inverse-CDF
    Laplace draw. The true count never appears in the output (it is
    what the mechanism protects); the unit test validates the noise
    against an independent Python computation of the same draw.

    Transcendental note: ln is outside the correctly-rounded IEEE
    set (compat.py policy), but the five u values depend ONLY on the
    five fixed priority strings — corpus-independent — so
    tests/test_quantization_margin.py can pin their distance from
    every fround boundary once and for all (the integer true count
    shifts noisy_count by whole units, leaving the fractional part,
    and hence the rounding decision, fixed at every scale factor).

    Scale: one map-side-combined count per priority (bounded domain);
    the noise attaches as a scalar expression — nothing here grows
    with the corpus.
    """
    cat = Catalog(spark, sf_dir)
    counts = (cat.orders
              .select(F.col("o_orderpriority").alias("g"))
              .groupBy("g")
              .agg(F.count("*").cast("long").alias("n_true")))
    u = _dp_uniform()
    noise = (F.lit(-_DP_SCALE) * F.signum(u - F.lit(0.5))
             * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5))))
    return (counts
            .select(F.col("g").alias("priority"),
                    F.lit(_DP_EPSILON).alias("epsilon"),
                    F.lit(_DP_SCALE).alias("scale"),
                    fround(noise, 6).alias("noise"),
                    fround(F.col("n_true").cast("double") + noise, 6)
                    .alias("noisy_count"))
            .orderBy("priority"))


def _dp_sql() -> str:
    h32 = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1)"
        f" * {16 ** (_DP_HEX - 1 - i)}"
        for i in range(_DP_HEX))
    u = f"(({h32}) + 0.5) / 4294967296.0"
    noise = (f"(-{_DP_SCALE} * SIGN({u} - 0.5)"
             f" * LN(1 - 2 * ABS({u} - 0.5)))")
    return f"""
WITH counts AS (
    SELECT o_orderpriority AS g, CAST(COUNT(*) AS BIGINT) AS n_true
    FROM orders GROUP BY 1
),
seeded AS (
    SELECT g, n_true, sha256('{_DP_SALT}' || g) AS h FROM counts
)
SELECT g AS priority,
       {_DP_EPSILON} AS epsilon,
       {_DP_SCALE} AS scale,
       {sql_fround(noise, 6)} AS noise,
       {sql_fround(f'CAST(n_true AS DOUBLE) + {noise}', 6)}
           AS noisy_count
FROM seeded
ORDER BY priority
"""


register("orders_priority_dp_release", orders_priority_dp_release,
         _dp_sql())
