"""Write-path tests: surrogate keys (lastrowid semantics), append
sinks, soft delete / status flip conditional updates, the
record_payment insert+update pair, and swap-based overwrite."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from data_warehouse_project_spark import schemas, writes


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture()
def regs(spark):
    return spark.createDataFrame([
        (1, 1, 10, "Pending"),
        (2, 1, 11, "Pending"),
    ], schema=schemas.REGISTRATIONS)


def test_surrogate_keys_continue_from_max(spark, regs):
    new = spark.createDataFrame(
        [(1, 12, "Pending"), (2, 12, "Pending")],
        "user_id long, event_id long, payment_status string")
    keyed = writes.with_surrogate_keys(
        new, "registration_id", existing=regs,
        order_by=["user_id", "event_id"])
    ids = sorted(r["registration_id"] for r in keyed.collect())
    assert ids == [3, 4]          # gap-free continuation of max=2


def test_surrogate_keys_deterministic_order(spark):
    new = spark.createDataFrame(
        [("b",), ("a",), ("c",)], "name string")
    keyed = {r["name"]: r["id"] for r in writes.with_surrogate_keys(
        new, "id", order_by=["name"]).collect()}
    assert keyed == {"a": 1, "b": 2, "c": 3}


def test_surrogate_keys_bulk_gap_free_and_ordered(spark):
    # multi-partition bulk batch: ids must be a gap-free continuation
    # of max(existing) and follow the order_by sort order globally
    n = 10_000
    new = (spark.range(n)
           .select((F.col("id") * 37 % n).alias("k"),
                   F.col("id").alias("payload"))
           .repartition(16))
    existing = spark.createDataFrame([(100,)], "sk long")
    keyed = writes.with_surrogate_keys_bulk(
        new, "sk", existing=existing, order_by=["k"])
    rows = keyed.select("k", "sk").collect()
    ids = sorted(r["sk"] for r in rows)
    assert ids == list(range(101, 101 + n))
    by_k = sorted(rows, key=lambda r: r["k"])
    assert [r["sk"] for r in by_k] == ids    # key order == sort order


def test_surrogate_keys_bulk_no_single_task_stage(spark):
    new = spark.range(1000).select(
        F.col("id").alias("k"), F.lit("x").alias("v")).repartition(8)
    keyed = writes.with_surrogate_keys_bulk(new, "sk", order_by=["k"])
    plan = keyed._jdf.queryExecution().executedPlan().toString()
    # the numbering window is partitioned by __pid — no global-order
    # single-partition exchange anywhere in the plan
    assert "Exchange SinglePartition" not in plan
    # the legacy OLTP-batch path DOES have one (the documented trade)
    legacy = writes.with_surrogate_keys(new, "sk", order_by=["k"])
    lplan = legacy._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in lplan


def test_soft_delete_and_flip(spark, regs):
    ev = spark.createDataFrame(
        [(10, 1), (11, 1)], "event_id long, is_active int")
    out = {r["event_id"]: r["is_active"]
           for r in writes.soft_delete(ev, "event_id", 10).collect()}
    assert out == {10: 0, 11: 1}

    flipped = {r["registration_id"]: r["payment_status"]
               for r in writes.flip_status(regs, 2).collect()}
    assert flipped == {1: "Pending", 2: "Success"}


def test_record_payment_pair(spark, regs):
    payments = spark.createDataFrame(
        [(1, 1, 1, None, 5.0, "OneTime", "Success",
          ts("2026-08-01T00:00:00"))], schema=schemas.PAYMENTS)
    new_payment = spark.createDataFrame(
        [(1, 2, None, 25.0, "OneTime", "Success",
          ts("2026-08-02T00:00:00"))],
        "user_id long, registration_id long, card_id long, amount double,"
        "payment_type string, payment_status string, payment_date timestamp_ntz")
    new_pay, new_regs = writes.record_payment(payments, regs, new_payment)
    pay_ids = sorted(r["payment_id"] for r in new_pay.collect())
    assert pay_ids == [1, 2]                        # lastrowid continuation
    regs_out = {r["registration_id"]: r["payment_status"]
                for r in new_regs.collect()}
    assert regs_out == {1: "Pending", 2: "Success"}  # only reg 2 flipped


def test_record_payment_atomic_single_write(spark, regs):
    payments = spark.createDataFrame(
        [(1, 1, 1, None, 5.0, "OneTime", "Success",
          ts("2026-08-01T00:00:00"))], schema=schemas.PAYMENTS)
    new_payment = spark.createDataFrame(
        [(1, 2, None, 25.0, "OneTime", "Success",
          ts("2026-08-02T00:00:00"))],
        "user_id long, registration_id long, card_id long, amount double,"
        "payment_type string, payment_status string, payment_date timestamp_ntz")
    new_pay, new_regs = writes.record_payment_atomic(
        payments, regs, new_payment)
    assert sorted(r["payment_id"] for r in new_pay.collect()) == [1, 2]
    # registration status is DERIVED from payments (no second write):
    # reg 1 has a Success payment already, reg 2 gains one
    regs_out = {r["registration_id"]: r["payment_status"]
                for r in new_regs.collect()}
    assert regs_out == {1: "Success", 2: "Success"}


def test_derive_registration_status(spark, regs):
    payments = spark.createDataFrame([
        (1, 1, 1, None, 5.0, "OneTime", "Failed", ts("2026-08-01T00:00:00")),
        (2, 1, 1, None, 5.0, "OneTime", "Success", ts("2026-08-02T00:00:00")),
    ], schema=schemas.PAYMENTS)
    derived = {r["registration_id"]: r["payment_status"]
               for r in writes.derive_registration_status(regs, payments)
               .collect()}
    assert derived == {1: "Success", 2: "Pending"}   # latest payment / default


def test_append_and_overwrite_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    writes.append_rows(df1, path)
    writes.append_rows(spark.createDataFrame([(2, "b")], "id long, v string"),
                       path)
    assert spark.read.parquet(path).count() == 2

    updated = writes.conditional_update(
        spark.read.parquet(path), F.col("id") == 2, {"v": F.lit("B")})
    writes.overwrite_table(spark, updated, path)
    out = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert out == {1: "a", 2: "B"}


# --------------------------------------------------------------------------
# MERGE / SCD2
# --------------------------------------------------------------------------

@pytest.fixture()
def merge_target(spark):
    return spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", None)],
        "id long, name string, balance double")


def test_merge_update_insert_passthrough(spark, merge_target):
    source = spark.createDataFrame(
        [(2, "bob2", 25.0), (4, "dave", 40.0)],
        "id long, name string, balance double")
    out = {r["id"]: (r["name"], r["balance"])
           for r in writes.merge_upsert(merge_target, source, ["id"]).collect()}
    assert out == {
        1: ("alice", 10.0),      # target-only: unchanged
        2: ("bob2", 25.0),       # matched: updated from source
        3: ("carol", None),      # target-only with NULL payload: unchanged
        4: ("dave", 40.0),       # source-only: inserted
    }


def test_merge_partial_update_cols_keep_target_values(spark, merge_target):
    # only balance updates; name keeps the TARGET value on match —
    # including a target row whose non-updated value is NULL
    source = spark.createDataFrame(
        [(2, "ignored", 99.0), (3, "ignored", 33.0)],
        "id long, name string, balance double")
    out = {r["id"]: (r["name"], r["balance"])
           for r in writes.merge_upsert(
               merge_target, source, ["id"], update_cols=["balance"]).collect()}
    assert out[2] == ("bob", 99.0)
    assert out[3] == ("carol", 33.0)


def test_merge_when_matched_delete(spark, merge_target):
    source = spark.createDataFrame(
        [(1, "x", -1.0), (4, "dave", 40.0)],
        "id long, name string, balance double")
    out = writes.merge_upsert(
        merge_target, source, ["id"],
        delete_condition=F.col("s.balance") < 0)
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [2, 3, 4]      # id=1 deleted, id=4 inserted


def test_merge_single_shuffle_plan(spark, merge_target):
    # the MERGE plan must be ONE join, not a union of three joins
    source = spark.createDataFrame([(2, "b", 1.0)],
                                   "id long, name string, balance double")
    plan = writes.merge_upsert(
        merge_target, source, ["id"])._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 1


@pytest.fixture()
def scd_dim(spark):
    return spark.createDataFrame(
        [(1, "NY", ts("2020-01-01"), ts("9999-12-31"), 1),
         (2, "LA", ts("2020-01-01"), ts("9999-12-31"), 1),
         (2, "SF", ts("2019-01-01"), ts("2020-01-01"), 0)],
        "id long, city string, valid_from timestamp_ntz, "
        "valid_to timestamp_ntz, is_current int")


def test_scd2_close_insert_noop_newkey(spark, scd_dim):
    updates = spark.createDataFrame(
        [(1, "BOS"),   # changed → close + new version
         (2, "LA"),    # unchanged → no-op
         (3, "CHI")],  # new key → insert current
        "id long, city string")
    out = writes.scd2_apply(scd_dim, updates, "id", ["city"],
                            "2021-06-01 00:00:00")
    rows = sorted(((r["id"], r["city"], r["is_current"],
                    str(r["valid_to"])[:10]) for r in out.collect()))
    assert rows == [
        (1, "BOS", 1, "9999-12-31"),   # new current version
        (1, "NY", 0, "2021-06-01"),    # closed at batch ts
        (2, "LA", 1, "9999-12-31"),    # untouched current
        (2, "SF", 0, "2020-01-01"),    # history passes through
        (3, "CHI", 1, "9999-12-31"),   # brand-new key
    ]


def test_scd2_null_safe_change_detection(spark):
    dim = spark.createDataFrame(
        [(1, None, ts("2020-01-01"), ts("9999-12-31"), 1)],
        "id long, city string, valid_from timestamp_ntz, "
        "valid_to timestamp_ntz, is_current int")
    # NULL → NULL is NOT a change; NULL → value IS
    same = spark.createDataFrame([(1, None)], "id long, city string")
    out1 = writes.scd2_apply(dim, same, "id", ["city"], "2021-01-01 00:00:00")
    assert out1.count() == 1 and out1.first()["is_current"] == 1

    diff = spark.createDataFrame([(1, "NY")], "id long, city string")
    out2 = writes.scd2_apply(dim, diff, "id", ["city"], "2021-01-01 00:00:00")
    assert {(r["city"], r["is_current"]) for r in out2.collect()} \
        == {(None, 0), ("NY", 1)}


def test_scd2_as_of_and_temporal_lookup(spark, scd_dim):
    # point-in-time dim read: during 2019, key 2 was SF; in 2020+, LA
    as_2019 = {(r["id"], r["city"]) for r in
               writes.scd2_as_of(scd_dim, "2019-06-01 00:00:00").collect()}
    assert as_2019 == {(2, "SF")}                # key 1 didn't exist yet
    as_2021 = {(r["id"], r["city"]) for r in
               writes.scd2_as_of(scd_dim, "2021-06-01 00:00:00").collect()}
    assert as_2021 == {(1, "NY"), (2, "LA")}

    # temporal fact enrichment: each fact picks the version current at
    # ITS timestamp, not today's
    facts = spark.createDataFrame(
        [(100, 2, ts("2019-03-01")),     # while key 2 was SF
         (101, 2, ts("2020-07-01")),     # after the LA version opened
         (102, 9, ts("2020-07-01"))],    # unknown key → left-join null
        "fact_id long, id long, ts timestamp_ntz")
    got = {r["fact_id"]: r["city"] for r in
           writes.scd2_lookup(facts, scd_dim, "id", "ts").collect()}
    assert got == {100: "SF", 101: "LA", 102: None}


def test_surrogate_keys_bulk_layout_invariant(spark):
    # with a total order_by, the key assignment is a pure function of
    # the DATA — identical across input partitionings
    base = spark.range(5000).select(
        (F.col("id") * 131 % 5000).alias("k"),
        F.col("id").alias("payload"))
    a = {r["k"]: r["sk"] for r in writes.with_surrogate_keys_bulk(
        base.repartition(4), "sk", order_by=["k"]).collect()}
    b = {r["k"]: r["sk"] for r in writes.with_surrogate_keys_bulk(
        base.repartition(17), "sk", order_by=["k"]).collect()}
    assert a == b


def test_gdpr_erasure_cascade_invariants(spark, sf_dir):
    """Erasure post-state: deleted counts consistent with the cohort
    rule, all three tables report a clean (orphan-free) persisted
    post-state, and the cascade arithmetic balances."""
    from data_warehouse_project_spark.plans.poststate import (
        GDPR_MOD, GDPR_REM, gdpr_erasure_post_state)
    from data_warehouse_project_spark.sources.catalog import Catalog

    out = {r.tbl: r for r in
           gdpr_erasure_post_state(spark, sf_dir).collect()}
    assert set(out) == {"customer", "orders", "lineitem"}
    for r in out.values():
        assert r.n_before - r.n_deleted == r.n_after
        assert r.erasure_clean
    cat = Catalog(spark, sf_dir)
    from pyspark.sql import functions as F
    n_cohort = cat.customer.filter(
        F.col("c_custkey") % GDPR_MOD == GDPR_REM).count()
    assert out["customer"].n_deleted == n_cohort > 0
    # facts of the cohort actually existed (cascade is non-vacuous)
    assert out["orders"].n_deleted > 0
    assert out["lineitem"].n_deleted > 0


def test_versioned_write_retention_and_pointer(spark, tmp_path):
    """Snapshots accumulate with a keep-window, the pointer always
    follows the newest, pruned versions raise, and an orphan data
    dir without a pointer swap is invisible to the default reader."""
    import os

    from data_warehouse_project_spark.writes import (
        list_table_versions, overwrite_table_versioned,
        read_table_version)
    p = str(tmp_path / "t")
    dfs = [spark.range(n).withColumnRenamed("id", "k")
           for n in (1, 2, 3, 4)]
    assert overwrite_table_versioned(spark, dfs[0], p, keep=2) == 1
    assert overwrite_table_versioned(spark, dfs[1], p, keep=2) == 2
    assert read_table_version(spark, p).count() == 2      # pointer
    assert read_table_version(spark, p, 1).count() == 1   # time travel
    assert overwrite_table_versioned(spark, dfs[2], p, keep=2) == 3
    assert list_table_versions(p) == [2, 3]               # v1 pruned
    assert read_table_version(spark, p).count() == 3
    assert read_table_version(spark, p, 2).count() == 2
    try:
        read_table_version(spark, p, 1)
        assert False, "pruned version must raise"
    except ValueError:
        pass
    # crash window A (mid data write): a leftover staging dir is
    # never listed as a version and doesn't disturb numbering
    dfs[3].write.parquet(os.path.join(p, ".staging-deadbeef"))
    assert list_table_versions(p) == [2, 3]
    assert read_table_version(spark, p).count() == 3
    # crash window B (rename done, pointer swap missed): a COMPLETE
    # unpointed snapshot — reader stays on the pointer; next write
    # claims the following number
    dfs[3].write.parquet(os.path.join(p, ".staging-cafe"))
    os.rename(os.path.join(p, ".staging-cafe"), os.path.join(p, "v=4"))
    assert read_table_version(spark, p).count() == 3
    assert overwrite_table_versioned(spark, dfs[3], p, keep=2) == 5
    assert read_table_version(spark, p).count() == 4


def test_versioned_merge_rollback(spark, tmp_path):
    """Transactional-flavored composition: MERGE results land as a
    new snapshot; a bad batch is 'rolled back' by reading the prior
    version and re-snapshotting it — the plain-parquet equivalent of
    RESTORE TABLE ... VERSION AS OF."""
    from pyspark.sql import functions as F

    from data_warehouse_project_spark.writes import (
        merge_upsert, overwrite_table_versioned, read_table_version)
    p = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "A", 10), (2, "B", 20)], "k long, seg string, bal long")
    v1 = overwrite_table_versioned(spark, base, p)
    good = spark.createDataFrame(
        [(2, "B2", 25, False), (3, "C", 30, False)],
        "k long, seg string, bal long, do_delete boolean")
    merged = merge_upsert(read_table_version(spark, p), good,
                          keys=["k"], update_cols=["seg", "bal"],
                          delete_condition=F.col("s.do_delete"))
    v2 = overwrite_table_versioned(spark, merged, p)
    assert {(r.k, r.seg, r.bal) for r in
            read_table_version(spark, p).collect()} == \
        {(1, "A", 10), (2, "B2", 25), (3, "C", 30)}
    # "bad" batch deletes everything; lands as v3
    bad = spark.createDataFrame(
        [(1, "X", 0, True), (2, "X", 0, True), (3, "X", 0, True)],
        "k long, seg string, bal long, do_delete boolean")
    wrecked = merge_upsert(read_table_version(spark, p), bad,
                           keys=["k"], update_cols=["seg", "bal"],
                           delete_condition=F.col("s.do_delete"))
    overwrite_table_versioned(spark, wrecked, p)
    assert read_table_version(spark, p).count() == 0
    # rollback: restore v2 as a NEW version (history stays linear)
    restored = overwrite_table_versioned(
        spark, read_table_version(spark, p, v2), p)
    assert restored == 4
    assert {(r.k, r.seg, r.bal) for r in
            read_table_version(spark, p).collect()} == \
        {(1, "A", 10), (2, "B2", 25), (3, "C", 30)}
    assert v1 == 1 and v2 == 2


# ---------------------------------------------------------------------------
# SCD2 over random multi-batch change streams vs a sequential model
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings, strategies as st

_OPEN_END = "9999-12-31 00:00:00"

#: a batch = key-unique {key: value} (MERGE/SCD2 require key-unique
#: sources); values drawn tiny so changed/unchanged/new all occur
_scd_batches = st.lists(
    st.dictionaries(st.integers(1, 4), st.integers(0, 2), max_size=4),
    min_size=1, max_size=4)


def _scd2_reference(batches):
    """Sequential SCD2 model: per batch, a present key with a
    different value closes the current version at the batch ts and
    opens a new one; an equal value is a no-op; an absent key inserts
    as current. Returns the full version table."""
    versions = []          # [key, val, from, to, current]
    current = {}           # key -> index into versions
    for i, batch in enumerate(batches):
        bts = f"2024-01-{i + 1:02d} 00:00:00"
        for k, v in sorted(batch.items()):
            if k in current:
                cur = versions[current[k]]
                if cur[1] == v:
                    continue
                cur[3], cur[4] = bts, 0
            versions.append([k, v, bts, _OPEN_END, 1])
            current[k] = len(versions) - 1
    return versions


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(batches=_scd_batches)
def test_scd2_multi_batch_matches_sequential_model(spark, batches):
    """Random change streams applied batch-by-batch: the full-outer-
    join SCD2 (writes.py scd2_apply) must reproduce the sequential
    version table exactly, and after every batch the per-key
    invariants must hold — exactly one current row per live key and
    per-key validity intervals that chain without gap or overlap
    (each closed row's valid_to = the next version's valid_from)."""
    schema = ("id long, val long, valid_from timestamp_ntz, "
              "valid_to timestamp_ntz, is_current int")
    dim = spark.createDataFrame([], schema)
    for i, batch in enumerate(batches):
        bts = f"2024-01-{i + 1:02d} 00:00:00"
        updates = spark.createDataFrame(
            sorted(batch.items()), "id long, val long")
        dim = writes.scd2_apply(dim, updates, "id", ["val"], bts)
        rows = dim.collect()
        dim = spark.createDataFrame(rows, schema)  # materialize state
        per_key = {}
        for r in rows:
            per_key.setdefault(r["id"], []).append(r)
        for k, vs in per_key.items():
            assert sum(r["is_current"] for r in vs) == 1, (batches, k)
            vs = sorted(vs, key=lambda r: r["valid_from"])
            for a, b in zip(vs, vs[1:]):
                assert a["valid_to"] == b["valid_from"], (batches, k)
    got = sorted((r["id"], r["val"], str(r["valid_from"]),
                  str(r["valid_to"]), r["is_current"])
                 for r in dim.collect())
    expected = sorted((k, v, f, t, c)
                      for k, v, f, t, c in _scd2_reference(batches))
    assert got == expected, batches
