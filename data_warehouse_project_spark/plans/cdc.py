"""Change-data-capture & join-diagnostics operators — snapshot-diff
changelog extraction, join-key skew profiling, and the new-vs-
returning customer split (the load-pipeline instrumentation a
production warehouse runs around every incremental load; the
reference's MySQL portal overwrites rows in place — ref db.py's
UPDATE paths — and keeps no changelog, so diffing two stored
snapshots is the engine-side reconstruction of that lost history).

Scale design: the changelog is ONE co-partitioned full-outer join on
the snapshot key with the unchanged mass (the overwhelming majority
at 100 TB) filtered before anything downstream sees it — on a real
deployment both snapshots would be bucketed by the key and the join
becomes shuffle-free. The skew report is aggregate-first: each edge
reduces to a key-frequency frame (map-side combined), and every
statistic — including the deterministic top key — derives from that
reduced frame, never a second scan of the fact. The cohort split
groups the fact down to (customer, month) before the per-customer
window runs, so the window input is active-months-sized, not
fact-sized.

Determinism: comparisons run on exact integers (cents-quantized
money, month-truncated timestamps); the only doubles in output
columns are single IEEE ops on identical operands, fround-quantized
(functions/compat.py policy).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog


# --------------------------------------------------------------------------
# Snapshot-diff CDC: extract an I/U/D changelog from two table states
# --------------------------------------------------------------------------

#: deterministic next-snapshot simulation (the poststate idiom,
#: plans/poststate.py merge_upsert_post_state): keys %89==0 deleted,
#: %13==0 updated (status→'F', price +10.00), %101==0 re-inserted
#: under key + MAX(o_orderkey) — new keys land in (max, 2·max],
#: disjoint from every original key at ANY scale (a fixed additive
#: offset would collide once keys exceed it — review finding).
#: Delete wins over update (the kept-filter runs first), mirroring a
#: real load where the delete feed is applied before the update feed.
_CDC_DEL_MOD = 89
_CDC_UPD_MOD = 13
_CDC_INS_MOD = 101


def _cents(col: Column) -> Column:
    """Exact cents recovery: floor(x*100 + .5) as long — identical
    IEEE ops both engines (compat.py policy)."""
    return F.floor(col * F.lit(100.0) + F.lit(0.5)).cast("long")


def cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog extraction between two order snapshots: one row per
    insert/update/delete with before/after images, unchanged rows
    dropped — the diff a downstream incremental consumer (SCD2 apply,
    a search index, a replica) ingests instead of re-reading the full
    table.

    Scale: both snapshots hash-partition once on the key for a single
    full-outer join; change classification is a JVM-side exact-integer
    compare (cents + status), and the unchanged mass — at 100 TB,
    ~99% of rows — is filtered inside the same stage, so downstream
    operators only ever see the delta. Bucketing both snapshot roots
    by o_orderkey makes the join shuffle-free on a cluster."""
    cat = Catalog(spark, sf_dir)
    orders = cat.orders.select("o_orderkey", "o_orderstatus",
                               "o_totalprice")
    k = F.col("o_orderkey")
    upd = (k % _CDC_UPD_MOD) == 0
    new_snap = (
        orders.filter(k % _CDC_DEL_MOD != 0)
        .select(
            "o_orderkey",
            F.when(upd, F.lit("F")).otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            F.when(upd, F.col("o_totalprice") + F.lit(10.0))
            .otherwise(F.col("o_totalprice")).alias("o_totalprice"))
        .unionByName(
            orders.filter(k % _CDC_INS_MOD == 0)
            .join(orders.agg(F.max("o_orderkey").alias("__maxk")))
            .select((k + F.col("__maxk")).alias("o_orderkey"),
                    F.lit("O").alias("o_orderstatus"),
                    F.col("o_totalprice").alias("o_totalprice")))
    )
    old = orders.select(
        k.alias("key"), F.col("o_orderstatus").alias("old_status"),
        _cents(F.col("o_totalprice")).alias("old_price_cents"),
        F.lit(True).alias("__old"))
    new = new_snap.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("new_status"),
        _cents(F.col("o_totalprice")).alias("new_price_cents"),
        F.lit(True).alias("__new"))
    j = old.join(new, "key", "full_outer")
    changed = (
        (F.col("old_status") != F.col("new_status"))
        | (F.col("old_price_cents") != F.col("new_price_cents"))
    )
    op = (
        F.when(F.col("__new").isNull(), F.lit("D"))
        .when(F.col("__old").isNull(), F.lit("I"))
        .when(changed, F.lit("U"))
    )
    return (
        j.select(op.alias("op"), F.col("key").alias("o_orderkey"),
                 "old_status", "new_status",
                 "old_price_cents", "new_price_cents")
        .filter(F.col("op").isNotNull())
        .orderBy("o_orderkey")
    )


CDC_CHANGELOG_SQL = f"""
WITH old_snap AS (
    SELECT o_orderkey AS key, o_orderstatus AS old_status,
           CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
               AS old_price_cents
    FROM orders
),
new_snap AS (
    SELECT o_orderkey AS key,
           CASE WHEN o_orderkey % {_CDC_UPD_MOD} = 0 THEN 'F'
                ELSE o_orderstatus END AS new_status,
           CAST(FLOOR(
               (CASE WHEN o_orderkey % {_CDC_UPD_MOD} = 0
                     THEN o_totalprice + 10.0 ELSE o_totalprice END)
               * 100.0 + 0.5) AS BIGINT) AS new_price_cents
    FROM orders WHERE o_orderkey % {_CDC_DEL_MOD} <> 0
    UNION ALL
    SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM orders), 'O',
           CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
    FROM orders WHERE o_orderkey % {_CDC_INS_MOD} = 0
),
diff AS (
    SELECT COALESCE(o.key, n.key) AS o_orderkey,
           CASE WHEN n.key IS NULL THEN 'D'
                WHEN o.key IS NULL THEN 'I'
                WHEN o.old_status <> n.new_status
                     OR o.old_price_cents <> n.new_price_cents THEN 'U'
           END AS op,
           o.old_status, n.new_status,
           o.old_price_cents, n.new_price_cents
    FROM old_snap o FULL OUTER JOIN new_snap n ON o.key = n.key
)
SELECT op, o_orderkey, old_status, new_status,
       old_price_cents, new_price_cents
FROM diff WHERE op IS NOT NULL
ORDER BY o_orderkey
"""

register("cdc_changelog", cdc_changelog, CDC_CHANGELOG_SQL)


# --------------------------------------------------------------------------
# Join-key skew diagnostics
# --------------------------------------------------------------------------

#: profiled join edges: (edge label, table, key column). These are
#: the shuffle keys of every big join in the registry — the columns
#: whose hot keys decide whether a salted plan (operators/skew.py) is
#: needed.
_SKEW_EDGES = [
    ("events.user_id", "events", "user_id"),
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
]


def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per join edge of the star schema: row count, distinct
    keys, the hottest key and its frequency, and the skew ratio
    (max frequency over mean frequency) — the diagnostic that decides
    when a plain hash join must become a salted or AQE-skew join
    (operators/skew.py). NULL keys are excluded: they never match an
    inner join, so they are not shuffle load.

    Scale: each edge reduces the fact to a key-frequency frame in one
    map-side-combined groupBy; every statistic — including the
    deterministic top key (min key among the max-frequency ties) —
    derives from that reduced frame. The one-row stats join back to it,
    so nothing rescans the fact."""
    cat = Catalog(spark, sf_dir)
    rows = []
    for label, table, key in _SKEW_EDGES:
        g = (
            cat.table(table)
            .filter(F.col(key).isNotNull())
            .groupBy(F.col(key).alias("k"))
            .agg(F.count("*").cast("long").alias("freq")))
        stats = g.agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("freq").cast("long").alias("n_rows"),
            F.max("freq").cast("long").alias("max_freq"))
        top = (
            g.join(stats.select("max_freq"),
                   F.col("freq") == F.col("max_freq"))
            .agg(F.min("k").cast("long").alias("top_key"))
        )
        rows.append(
            stats.join(top)  # 1-row × 1-row
            .select(
                F.lit(label).alias("edge"), "n_rows", "n_keys",
                "max_freq", "top_key",
                fround(F.col("n_rows").cast("double") / F.col("n_keys"), 6)
                .alias("avg_freq"),
                fround(F.col("max_freq").cast("double") * F.col("n_keys")
                       / F.col("n_rows"), 6).alias("skew_ratio"))
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("edge")


def _skew_edge_sql(i: int, label: str, table: str, key: str) -> str:
    avg = sql_fround("CAST(n_rows AS DOUBLE) / n_keys", 6)
    ratio = sql_fround("CAST(max_freq AS DOUBLE) * n_keys / n_rows", 6)
    return f"""
SELECT '{label}' AS edge, n_rows, n_keys, max_freq,
       (SELECT CAST(MIN(k) AS BIGINT) FROM g{i}
        WHERE freq = s{i}.max_freq) AS top_key,
       {avg} AS avg_freq, {ratio} AS skew_ratio
FROM s{i}
"""


def _skew_sql() -> str:
    ctes, selects = [], []
    for i, (label, table, key) in enumerate(_SKEW_EDGES):
        ctes.append(
            f"g{i} AS (SELECT {key} AS k, CAST(COUNT(*) AS BIGINT) AS freq"
            f" FROM {table} WHERE {key} IS NOT NULL GROUP BY 1)")
        ctes.append(
            f"s{i} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,"
            f" CAST(SUM(freq) AS BIGINT) AS n_rows,"
            f" CAST(MAX(freq) AS BIGINT) AS max_freq FROM g{i})")
        selects.append(_skew_edge_sql(i, label, table, key))
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(selects) + "\nORDER BY edge")


JOIN_SKEW_SQL = _skew_sql()

register("join_skew_report", join_skew_report, JOIN_SKEW_SQL)


# --------------------------------------------------------------------------
# New-vs-returning customer split per order month
# --------------------------------------------------------------------------

def customer_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order month: orders placed by first-month customers vs
    returning customers, with the new-order share — the acquisition-
    vs-retention split every revenue dashboard leads with
    (complements customer_cohort_revenue's full cohort×month matrix
    with the headline time series).

    Scale: the fact first reduces to (customer, month) order counts —
    one map-side-combined groupBy sized customers × active months —
    and the per-customer first-month window runs over THAT frame,
    never the fact. The final month aggregate is months-sized. One
    fact shuffle total."""
    cat = Catalog(spark, sf_dir)
    cm = (
        cat.orders
        .groupBy(F.col("o_custkey"),
                 F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy("o_custkey")
    flagged = cm.withColumn("first_month", F.min("month").over(w))
    return (
        flagged.groupBy("month")
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.coalesce(
                F.sum(F.when(F.col("month") == F.col("first_month"),
                             F.col("n"))), F.lit(0))
            .cast("long").alias("n_new"))
        .select(
            "month", "n_orders", "n_new",
            (F.col("n_orders") - F.col("n_new")).cast("long")
            .alias("n_returning"),
            fround(F.col("n_new").cast("double") / F.col("n_orders"), 6)
            .alias("new_share"))
        .orderBy("month")
    )


NEW_VS_RETURNING_SQL = f"""
WITH cm AS (
    SELECT o_custkey, date_trunc('month', o_orderdate) AS month,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY 1, 2
),
flagged AS (
    SELECT month, n,
           MIN(month) OVER (PARTITION BY o_custkey) AS first_month
    FROM cm
),
monthly AS (
    SELECT month,
           CAST(SUM(n) AS BIGINT) AS n_orders,
           CAST(COALESCE(SUM(CASE WHEN month = first_month THEN n END), 0)
                AS BIGINT) AS n_new
    FROM flagged GROUP BY 1
)
SELECT month, n_orders, n_new,
       CAST(n_orders - n_new AS BIGINT) AS n_returning,
       {sql_fround('CAST(n_new AS DOUBLE) / n_orders', 6)} AS new_share
FROM monthly ORDER BY month
"""

register("customer_new_vs_returning", customer_new_vs_returning,
         NEW_VS_RETURNING_SQL)
