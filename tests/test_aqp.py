"""Semantic unit tests for the AQP sampling family (plans/aqp.py):
the deterministic sampler must pick exactly the rows the reference
hash computation picks, the HT scale-up must be the exact integer
weight, and the floor's error algebra must match a hand computation
on a planted corpus.
"""

from __future__ import annotations

import datetime as dt
import hashlib

from data_warehouse_project_spark.plans.aqp import (
    _AQP_NIBBLES, _AQP_SALT, _AQP_WEIGHT, aqp_error_floor,
    orders_aqp_monthly_revenue)
from data_warehouse_project_spark.streaming.state_fold import (
    BATCH_COL, fold_batch, run_maintainer)

_O_SCHEMA = ("o_orderkey long, o_custkey long, o_orderstatus string, "
             "o_totalprice double, o_orderdate timestamp_ntz, "
             "o_orderpriority string")


def _in_sample(key: int) -> bool:
    h = hashlib.sha256(f"{_AQP_SALT}{key}".encode()).hexdigest()
    return h[-1] in _AQP_NIBBLES


def _write_orders(spark, tmp_path, rows):
    """rows: (orderkey, price_dollars, month)."""
    df = spark.createDataFrame(
        [(k, 1, "O", float(p), dt.datetime(1995, m, 1), "3-MEDIUM")
         for k, p, m in rows], _O_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/orders.parquet")
    return str(tmp_path)


def test_sampler_matches_reference_hash_and_weight(spark, tmp_path):
    rows = [(k, 100 + k, 1 + (k % 3)) for k in range(1, 400)]
    sf = _write_orders(spark, tmp_path, rows)
    out = orders_aqp_monthly_revenue(spark, sf).collect()
    expect = {}
    for k, p, m in rows:
        if _in_sample(k):
            n, c = expect.get(m, (0, 0))
            expect[m] = (n + 1, c + p * 100)
    assert {r["month"].month for r in out} == set(expect)
    for r in out:
        n, c = expect[r["month"].month]
        assert r["n_sampled"] == n
        assert r["est_orders"] == n * _AQP_WEIGHT
        assert r["est_cents"] == c * _AQP_WEIGHT


def test_floor_error_algebra_hand_check(spark, tmp_path):
    rows = [(k, 50, 1) for k in range(1, 300)]
    sf = _write_orders(spark, tmp_path, rows)
    r = aqp_error_floor(spark, sf).collect()[0]
    n_s = sum(1 for k, _, _ in rows if _in_sample(k))
    assert r["n_exact"] == 299
    assert r["n_est"] == n_s * _AQP_WEIGHT
    assert r["cents_exact"] == 299 * 5000
    assert r["cents_est"] == n_s * _AQP_WEIGHT * 5000
    err = abs(n_s * _AQP_WEIGHT - 299) / 299
    assert abs(r["count_rel_err"] - err) < 1e-6
    # constant prices -> both errors identical
    assert r["count_rel_err"] == r["revenue_rel_err"]
    assert r["count_ok"] == (err <= 0.20)


def test_aqp_sample_fold_replay_restart_and_merge_lemma(spark, sf_dir,
                                                        tmp_path):
    """sample(A ∪ B) = sample(A) ∪ sample(B): the folded sample must
    equal the one-shot sample row-for-row, a replayed batch must not
    double-append, the streaming maintainer must survive a restart,
    and the estimates served FROM state must equal the batch query's."""
    from pyspark.sql import functions as F

    from data_warehouse_project_spark.plans import aqp as AQP
    from data_warehouse_project_spark.sources.catalog import Catalog

    init, merge = AQP.aqp_sample_state, AQP.merge_aqp_sample_state
    cat = Catalog(spark, sf_dir)
    orders = cat.orders.limit(400).cache()
    b1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    b2 = orders.filter(F.col("o_orderkey") % 2 == 1)

    state = str(tmp_path / "aqp_state")
    assert fold_batch(b1, 0, state, init, merge) is True
    assert fold_batch(b2, 1, state, init, merge) is True
    assert fold_batch(b2, 1, state, init, merge) is False     # replay
    folded = spark.read.parquet(state).drop(BATCH_COL)
    single = AQP.aqp_sample_state(orders)
    assert folded.exceptAll(single).count() == 0
    assert single.exceptAll(folded).count() == 0

    # estimates served from state == batch estimates over the sample
    served = AQP.estimates_from_sample(folded).collect()
    batch = AQP.estimates_from_sample(single).collect()
    assert served == batch

    # streaming restart on the same checkpoint
    landing = str(tmp_path / "landing")
    st2 = str(tmp_path / "st2")
    ck = str(tmp_path / "ck")
    b1.coalesce(1).write.mode("append").parquet(landing)
    sch = spark.read.parquet(landing).schema

    def run():
        stream = spark.readStream.schema(sch).parquet(landing)
        run_maintainer(stream, st2, ck, init, merge)

    run()
    b2.coalesce(1).write.mode("append").parquet(landing)
    run()
    got = spark.read.parquet(st2).drop(BATCH_COL)
    assert got.exceptAll(single).count() == 0
    assert single.exceptAll(got).count() == 0
    orders.unpersist()
