"""Semantic unit tests for the drift-monitoring family
(plans/drift.py) — invariants the parity suite can't express: TVD and
chi-square on hand-computable planted cohorts, zero drift on identical
distributions, the rolling detector's baseline pooling and alarm edge,
and the weekly mix drift's calendar (non-positional) join.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Row, functions as F

from data_warehouse_project_spark.plans.drift import (
    _ALARM_TVD, _BINS, cohort_drift, events_type_mix_weekly_drift,
    rolling_drift)
from data_warehouse_project_spark.streaming.state_fold import (
    fold_batch, run_maintainer)


def _cohort_frame(spark, early_cents, late_cents):
    rows = [Row(cents=c, early=True) for c in early_cents] + [
        Row(cents=c, early=False) for c in late_cents]
    return spark.createDataFrame(rows, "cents long, early boolean")


def test_cohort_drift_disjoint_bins_full_separation(spark):
    # early mass entirely in bin 0, late entirely in bin 15
    # (range 0..159 -> width ceil(160/16) = 10)
    df = cohort_drift(_cohort_frame(
        spark, early_cents=list(range(10)),
        late_cents=list(range(150, 160))))
    rows = {r["bin"]: r for r in df.collect()}
    assert set(rows) == {0, _BINS - 1}
    b0, b15 = rows[0], rows[_BINS - 1]
    assert (b0["n_early"], b0["n_late"]) == (10, 0)
    assert (b15["n_early"], b15["n_late"]) == (0, 10)
    # total TVD = 1.0 (maximal drift), split 0.5 + 0.5
    assert b0["tvd_term"] == 0.5 and b15["tvd_term"] == 0.5
    # chi2 term: (1-0)^2 / pooled(0.5) = 2.0 per bin
    assert b0["chi2_term"] == 2.0 and b15["chi2_term"] == 2.0
    assert b0["lo"] == 0.0 and b0["hi"] == 0.1  # cents -> currency


def test_cohort_drift_identical_distributions_zero(spark):
    cents = [5, 37, 99, 120, 155] * 4
    df = cohort_drift(_cohort_frame(spark, cents, cents))
    for r in df.collect():
        assert r["tvd_term"] == 0.0
        assert r["chi2_term"] == 0.0
        assert r["frac_early"] == r["frac_late"]


def test_cohort_drift_fraction_bookkeeping(spark):
    # early: 3 in low bin, 1 in high; late: 1 and 3 -> |p-q|/2 = 0.25
    df = cohort_drift(_cohort_frame(
        spark, [0, 1, 2, 159], [0, 157, 158, 159]))
    rows = {r["bin"]: r for r in df.collect()}
    assert rows[0]["frac_early"] == 0.75 and rows[0]["frac_late"] == 0.25
    assert rows[0]["tvd_term"] == 0.25
    assert rows[_BINS - 1]["tvd_term"] == 0.25


def _daily_frame(spark, day_to_vqs):
    base = datetime.date(2024, 1, 1)
    rows = [
        Row(day_idx=d, day=base + datetime.timedelta(days=d), vq=vq)
        for d, vqs in day_to_vqs.items() for vq in vqs
    ]
    return spark.createDataFrame(rows, "day_idx long, day date, vq long")


def test_rolling_drift_stable_then_shift_alarm(spark):
    # days 0-2: all mass in bin 0; day 3: all mass in bin 15
    stable = [0, 3, 7, 9]
    shifted = [150, 152, 155, 159]
    df = rolling_drift(_daily_frame(
        spark, {0: stable, 1: stable, 2: stable, 3: shifted}))
    rows = {r["day"].day: r for r in df.collect()}
    # day 0 excluded: empty baseline
    assert set(rows) == {2, 3, 4}
    assert rows[2]["tvd"] == 0.0 and not rows[2]["alarm"]
    assert rows[3]["baseline_n"] == 8  # pooled days 1+2
    assert rows[4]["tvd"] == 1.0 and rows[4]["alarm"]
    assert rows[4]["n_events"] == 4 and rows[4]["baseline_n"] == 12


def test_rolling_drift_baseline_window_is_seven_days(spark):
    # day 9's baseline must pool days 2..8 only (range -7..-1), so
    # day 0/1's outlier mass must have aged out
    days = {d: [0, 5] for d in range(10)}
    days[0] = [150, 155]
    days[1] = [150, 155]
    df = rolling_drift(_daily_frame(spark, days))
    rows = {r["day"].day: r for r in df.collect()}
    last = rows[10]  # day_idx 9 -> Jan 10
    assert last["baseline_n"] == 14  # 7 days x 2 events
    assert last["tvd"] == 0.0 and not last["alarm"]
    # day 2 (idx 1): baseline = day 0 (all shifted) vs current shifted
    assert rows[2]["tvd"] == 0.0
    # day 3 (idx 2): baseline days 0-1 all bin15, current bin0 -> full
    assert rows[3]["tvd"] == 1.0 and rows[3]["alarm"]
    assert _ALARM_TVD < 1.0


def test_weekly_mix_drift_hand_frame(spark, tmp_path):
    # two Mondays apart: mix flips 3:1 -> 1:3 => per-type term 0.25,
    # week TVD 0.5; first week has NULL prev/drift/mix
    w1 = datetime.datetime(2024, 1, 1)
    w2 = datetime.datetime(2024, 1, 8)
    rows = (
        [Row(ts=w1, event_type="a", event_id=i, user_id=1, value=1.0,
             props="{}") for i in range(3)]
        + [Row(ts=w1, event_type="b", event_id=9, user_id=1, value=1.0,
               props="{}")]
        + [Row(ts=w2, event_type="a", event_id=10, user_id=1, value=1.0,
               props="{}")]
        + [Row(ts=w2, event_type="b", event_id=11 + i, user_id=1,
               value=1.0, props="{}") for i in range(3)]
    )
    df = spark.createDataFrame(rows)
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/events.parquet")
    out = {(r["week"].day, r["event_type"]): r
           for r in events_type_mix_weekly_drift(spark, sf).collect()}
    assert out[(1, "a")]["prev_frac"] is None
    assert out[(1, "a")]["week_mix_tvd"] is None
    assert out[(8, "a")]["frac"] == 0.25
    assert out[(8, "a")]["prev_frac"] == 0.75
    assert out[(8, "a")]["drift_term"] == 0.25
    assert out[(8, "a")]["week_mix_tvd"] == 0.5
    assert out[(8, "b")]["week_mix_tvd"] == 0.5


# --- incremental drift maintainer (streaming/drift_state.py) ---

_EV_SCHEMA = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")


def _events(spark, rows):
    import datetime as dt
    return spark.createDataFrame(
        [(eid, dt.datetime(2024, 1, day, 12, 0), 1, "click", val, "{}")
         for eid, day, val in rows], _EV_SCHEMA)


def test_drift_fold_replay_is_idempotent(spark, tmp_path):
    """At-least-once crash window: a replayed batch id is skipped —
    cell counts must not double."""
    from data_warehouse_project_spark.streaming import drift_state as D

    init, merge = D.drift_state, D.merge_drift_state
    state = str(tmp_path / "state")
    b0 = _events(spark, [(1, 1, 5.0), (2, 1, 9.0)])
    b1 = _events(spark, [(3, 2, 100.0)])
    assert fold_batch(b0, 0, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is False
    assert fold_batch(b0, 0, state, init, merge) is False
    cells = {(r["day"].day, r["bin"]): r["n"]
             for r in spark.read.parquet(state).collect()}
    # 5.0 and 9.0 -> vq 500/900 -> bin 0; 100.0 -> vq 10000 -> bin 4
    assert cells == {(1, 0): 2, (2, 4): 1}


def test_drift_maintainer_restart_matches_full_recompute(spark, tmp_path):
    """Checkpoint-restart parity: two maintainer runs over chunked
    arrivals converge to exactly the state a single full build
    produces, and the served report equals the batch detector's
    output over the same data."""
    from data_warehouse_project_spark.streaming import drift_state as D

    init, merge = D.drift_state, D.merge_drift_state
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    def feed(rows):
        _events(spark, rows).coalesce(1).write.mode("append") \
            .parquet(landing)

    def run():
        stream = spark.readStream.schema(_EV_SCHEMA).parquet(landing)
        run_maintainer(stream, state, ck, init, merge)

    feed([(1, 1, 5.0), (2, 1, 9.0), (3, 2, 5.5)])
    run()
    feed([(4, 2, 300.0), (5, 3, 5.0), (6, 3, 5.0)])
    run()  # restart

    served = {r["day"].day: (r["n_events"], r["baseline_n"], r["tvd"])
              for r in D.drift_report_from_state(
                  spark.read.parquet(state)).collect()}
    full = {r["day"].day: (r["n_events"], r["baseline_n"], r["tvd"])
            for r in D.drift_report_from_state(
                D.drift_state(spark.read.parquet(landing))).collect()}
    assert served == full and set(served) == {2, 3}
    # restart with no new data changes nothing
    run()
    again = {r["day"].day: (r["n_events"], r["baseline_n"], r["tvd"])
             for r in D.drift_report_from_state(
                 spark.read.parquet(state)).collect()}
    assert again == served


def test_drift_merge_associativity_and_clamp(spark):
    """Merging batch-by-batch equals one-shot build (mergeable sums),
    and out-of-spec values clamp into the edge bins instead of
    corrupting the bin range."""
    from data_warehouse_project_spark.plans.drift import _BINS
    from data_warehouse_project_spark.streaming import drift_state as D

    a = _events(spark, [(1, 1, 5.0), (2, 1, 999999.0)])   # clamp high
    b = _events(spark, [(3, 1, -4.0), (4, 2, 7.0)])       # clamp low
    merged = D.merge_drift_state(D.drift_state(a), b)
    oneshot = D.drift_state(a.unionByName(b))
    as_map = lambda df: {(r["day"].day, r["bin"]): r["n"]
                         for r in df.collect()}
    assert as_map(merged) == as_map(oneshot)
    bins = {bin for (_, bin) in as_map(merged)}
    assert bins <= set(range(_BINS))
    assert (1, _BINS - 1) in as_map(merged)  # the excursion, clamped
    assert (1, 0) in as_map(merged)          # the negative, clamped


def test_cusum_prefix_min_identity_matches_recurrence(spark, sf_dir):
    # the windowed prefix-min form must equal the literal Page
    # recurrence S_t = max(0, S_{t-1} + x_t*nb - tot - tot//20)
    from data_warehouse_project_spark.plans.drift import (
        _CUSUM_BASELINE_END, _CUSUM_H_MULT, _CUSUM_K_DEN,
        orders_revenue_cusum)
    from data_warehouse_project_spark.sources.catalog import Catalog

    daily = (Catalog(spark, sf_dir).orders
             .select(F.col("o_orderdate").alias("day"),
                     F.floor(F.col("o_totalprice") * F.lit(100.0)
                             + F.lit(0.5)).cast("long").alias("cents"))
             .groupBy("day").agg(F.sum("cents").alias("cents"))
             .orderBy("day").collect())
    cut = datetime.date.fromisoformat(_CUSUM_BASELINE_END)

    def d(v):  # o_orderdate may load as date or naive timestamp
        return v.date() if isinstance(v, datetime.datetime) else v

    base = [int(r["cents"]) for r in daily if d(r["day"]) < cut]
    nb, tot = len(base), sum(base)
    k = tot // _CUSUM_K_DEN
    s = 0
    expect = {}
    for r in daily:
        if d(r["day"]) < cut:
            continue
        s = max(0, s + int(r["cents"]) * nb - tot - k)
        expect[d(r["day"])] = (s, s > _CUSUM_H_MULT * tot)
    got = {d(r["day"]): (r["cusum_scaled"], r["alarm"])
           for r in orders_revenue_cusum(spark, sf_dir).collect()}
    assert got == expect


def test_cusum_planted_shift_fires_after_onset_only(spark):
    # flat in-control series, then a +50% level shift at day 60: the
    # alarm must stay off before the shift and latch on within the
    # expected ramp (h / (shift - k) days) after it
    from data_warehouse_project_spark.plans.drift import (
        _CUSUM_BASELINE_END, cusum_fold)

    cut = datetime.date.fromisoformat(_CUSUM_BASELINE_END)
    rows = []
    for i in range(60):  # baseline year, flat 1000 cents/day
        rows.append(Row(day=cut - datetime.timedelta(days=60 - i),
                        cents=1000))
    for i in range(120):  # monitored: flat, then +50% from day 60
        rows.append(Row(day=cut + datetime.timedelta(days=i),
                        cents=1000 if i < 60 else 1500))
    out = (cusum_fold(spark.createDataFrame(rows)
                      .withColumn("day", F.col("day").cast("date"))
                      .withColumn("cents", F.col("cents").cast("long")))
           .collect())
    onset = cut + datetime.timedelta(days=60)
    # mu0 = 1000, k = 50, h = 5*mu0 (scaled h = 300000): excess
    # accrues 450/day scaled 27000/day after the shift, so
    # S = 27000*(delta+1) first EXCEEDS h at delta = 11 (324000;
    # delta = 10 gives 297000) — pin the exact latch day both ways
    for r in out:
        delta = (r["day"] - onset).days
        if r["day"] < onset:
            assert r["cusum_scaled"] == 0 and not r["alarm"], r
        elif delta <= 10:
            assert not r["alarm"], r
        else:
            assert r["alarm"], r
    assert any(r["alarm"] for r in out)


_ORD_SCHEMA = "o_orderkey long, o_orderdate date, o_totalprice double"


def _orders(spark, rows):
    # rows: (key, iso_date, price_dollars)
    return spark.createDataFrame(
        [Row(o_orderkey=int(k),
             o_orderdate=datetime.date.fromisoformat(d),
             o_totalprice=float(p))
         for k, d, p in rows], _ORD_SCHEMA)


def test_cusum_fold_replay_is_idempotent(spark, tmp_path):
    from data_warehouse_project_spark.streaming import cusum_state as C

    init, merge = C.cusum_state, C.merge_cusum_state
    state = str(tmp_path / "state")
    b0 = _orders(spark, [(1, "1995-01-01", 10.0), (2, "1995-01-01", 5.0)])
    b1 = _orders(spark, [(3, "1995-01-02", 7.0)])
    assert fold_batch(b0, 0, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is False
    assert fold_batch(b0, 0, state, init, merge) is False
    daily = {str(r["day"])[:10]: r["cents"]
             for r in spark.read.parquet(state).collect()}
    assert daily == {"1995-01-01": 1500, "1995-01-02": 700}


def test_cusum_merge_absorbs_late_days(spark):
    # the design argument in cusum_state.py: a late order for an OLD
    # day folds into that day's total, and the served trajectory is
    # identical to a one-shot build over everything
    from data_warehouse_project_spark.streaming import cusum_state as C

    early = _orders(spark, [(k, f"1995-01-{k:02d}", 100.0)
                            for k in range(1, 20)]
                    + [(100 + k, f"1996-01-{k:02d}", 100.0)
                       for k in range(1, 20)])
    late = _orders(spark, [(999, "1995-01-05", 250.0),   # late baseline day
                           (998, "1996-01-10", 999.0)])  # late monitored day
    merged = C.merge_cusum_state(C.cusum_state(early), late)
    oneshot = C.cusum_state(early.unionByName(late))
    as_map = lambda df: {str(r["day"])[:10]: r["cents"]
                         for r in df.collect()}
    assert as_map(merged) == as_map(oneshot)
    served = [r.asDict() for r in C.cusum_report_from_state(merged)
              .collect()]
    full = [r.asDict() for r in C.cusum_report_from_state(oneshot)
            .collect()]
    assert served == full
    assert as_map(merged)["1995-01-05"] == 35000  # 100 + 250 dollars


def test_cusum_maintainer_restart_matches_full_recompute(spark, tmp_path):
    from data_warehouse_project_spark.streaming import cusum_state as C

    init, merge = C.cusum_state, C.merge_cusum_state
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    def feed(rows):
        _orders(spark, rows).coalesce(1).write.mode("append") \
            .parquet(landing)

    def run():
        stream = spark.readStream.schema(_ORD_SCHEMA).parquet(landing)
        run_maintainer(stream, state, ck, init, merge)

    feed([(k, f"1995-0{1 + k % 3}-{1 + k % 9:02d}", 50.0 + k)
          for k in range(30)])
    run()
    feed([(100 + k, f"1996-0{1 + k % 3}-{1 + k % 9:02d}", 80.0 + k)
          for k in range(30)])
    run()  # restart

    served = [r.asDict() for r in C.cusum_report_from_state(
        spark.read.parquet(state)).collect()]
    full = [r.asDict() for r in C.cusum_report_from_state(
        C.cusum_state(spark.read.parquet(landing))).collect()]
    assert served == full and len(served) > 0
    run()  # restart with no new data changes nothing
    again = [r.asDict() for r in C.cusum_report_from_state(
        spark.read.parquet(state)).collect()]
    assert again == served


def test_acf_served_from_folded_state_equals_oneshot(spark):
    # the second consumer of the daily-sums state: the ACF served
    # from a late-day-absorbing merge must equal the one-shot build's
    from data_warehouse_project_spark.streaming import cusum_state as C

    early = _orders(spark, [(k, f"1995-01-{k:02d}", 100.0 + 7 * k)
                            for k in range(1, 25)])
    late = _orders(spark, [(999, "1995-01-05", 250.0)])
    merged = C.merge_cusum_state(C.cusum_state(early), late)
    oneshot = C.cusum_state(early.unionByName(late))
    served = [r.asDict() for r in C.acf_report_from_state(merged)
              .collect()]
    full = [r.asDict() for r in C.acf_report_from_state(oneshot)
            .collect()]
    assert served == full
    assert len(served) == 14 and served[0]["lag"] == 1


def test_cohort_drift_empty_cohort_yields_null(spark):
    # an entirely-empty early cohort: frac_early and the drift terms
    # must be NULL, not NaN/Inf (the ADVICE-r7 degenerate-divide
    # class); frac_late stays well-defined
    rows = cohort_drift(_cohort_frame(
        spark, early_cents=[], late_cents=list(range(20)))).collect()
    assert rows
    for r in rows:
        assert r["frac_early"] is None
        assert r["tvd_term"] is None
        assert r["chi2_term"] is None
        assert r["frac_late"] is not None


# ---------------------------------------------------------------------------
# Cohort drift vs a sequential binned-histogram replay
# ---------------------------------------------------------------------------

import math

from hypothesis import HealthCheck, given, settings, strategies as st


def _drift_reference(rows):
    """Sequential replay of cohort_drift: shared bounds, ceil-width
    16-bin histogram, per-bin fractions with empty-cohort NULL
    guards, TVD and pooled chi-square terms, all 9dp-quantized."""
    from data_warehouse_project_spark.plans.drift import _BINS

    def fr(x, s):
        return (math.floor(x * 10.0 ** s + 0.5) / 10.0 ** s
                if x is not None else None)

    cents = [c for c, _ in rows]
    mn, mx = min(cents), max(cents)
    width = int(math.ceil((mx - mn + 1) / float(_BINS)))
    bins = {}
    for c, early in rows:
        b = (c - mn) // width
        e, l = bins.get(b, (0, 0))
        bins[b] = (e + 1, l) if early else (e, l + 1)
    te = sum(e for e, _ in bins.values())
    tl = sum(l for _, l in bins.values())
    out = {}
    for b, (e, l) in bins.items():
        p = e / te if te > 0 else None
        q = l / tl if tl > 0 else None
        pooled = (e + l) / (te + tl)
        tvd = abs(p - q) / 2.0 if None not in (p, q) else None
        chi2 = ((p - q) * (p - q) / pooled
                if None not in (p, q) else None)
        out[b] = (fr((mn + b * width) / 100.0, 2),
                  fr((mn + (b + 1) * width) / 100.0, 2),
                  e, l, fr(p, 9), fr(q, 9), fr(tvd, 9), fr(chi2, 9))
    return out


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(st.tuples(st.integers(-500, 50_000), st.booleans()),
                     min_size=1, max_size=30))
def test_cohort_drift_matches_python_reference(spark, rows):
    """Random two-cohort value draws (single-cohort corpora — the
    NULL-fraction guard path — ranges narrower and wider than the
    bin count, negative cents): the binned drift report must match
    the sequential replay bin for bin."""
    from data_warehouse_project_spark.plans.drift import cohort_drift
    c = spark.createDataFrame(
        [Row(cents=int(v), early=bool(e)) for v, e in rows],
        "cents long, early boolean")
    got = {r["bin"]: (r["lo"], r["hi"], r["n_early"], r["n_late"],
                      r["frac_early"], r["frac_late"], r["tvd_term"],
                      r["chi2_term"])
           for r in cohort_drift(c).collect()}
    assert got == _drift_reference(rows), rows


def _rolling_reference(rows):
    """Sequential replay of rolling_drift: global ceil-width bins,
    per-(day, bin) counts over the completed 16-bin grid, trailing
    [-7, -1] day_idx baseline per bin, quantized per-day TVD and the
    0.08 alarm."""
    from data_warehouse_project_spark.plans.drift import (
        _ALARM_TVD, _BINS, _TQ)
    vqs = [v for _, v in rows]
    mn, mx = min(vqs), max(vqs)
    width = int(math.ceil((mx - mn + 1) / float(_BINS)))
    counts = {}
    for d, v in rows:
        b = (v - mn) // width
        counts[(d, b)] = counts.get((d, b), 0) + 1
    days = sorted({d for d, _ in rows})
    out = {}
    for d in days:
        day_n = sum(n for (dd, _), n in counts.items() if dd == d)
        tvd_q = 0
        base_n = sum(n for (dd, _), n in counts.items()
                     if d - 7 <= dd <= d - 1)
        if base_n == 0:
            continue
        for b in range(_BINS):
            n = counts.get((d, b), 0)
            bb = sum(counts.get((dd, b), 0)
                     for dd in days if d - 7 <= dd <= d - 1)
            tvd_q += math.floor(
                abs(n / day_n - bb / base_n) / 2.0 * _TQ + 0.5)
        out[d] = (day_n, base_n,
                  math.floor(tvd_q / _TQ * 1e9 + 0.5) / 1e9,
                  tvd_q / _TQ > _ALARM_TVD)
    return out


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(st.tuples(st.integers(0, 10),
                               st.integers(0, 5000)),
                     min_size=1, max_size=30))
def test_rolling_drift_matches_python_reference(spark, rows):
    """Random (day, value) streams — gapped days, single-day corpora
    (no baseline → no row), bins empty today but present in the
    baseline: the windowed rolling drift detector must match the
    sequential replay day for day."""
    import datetime as dt

    from data_warehouse_project_spark.plans.drift import rolling_drift
    base = dt.date(2024, 1, 1)
    v = spark.createDataFrame(
        [Row(day_idx=int(d), day=base + dt.timedelta(days=d), vq=int(q))
         for d, q in rows],
        "day_idx long, day date, vq long")
    got = {(r["day"].date() - base).days:
           (r["n_events"], r["baseline_n"], r["tvd"], r["alarm"])
           for r in rolling_drift(v).collect()}
    assert got == _rolling_reference(rows), rows


def _weekly_mix_reference(events):
    """Sequential replay: per-(week, type) fractions, calendar
    week-minus-one join (absent types yield NULL terms), quantized
    per-week TVD only where any type has a previous-week row."""
    per, wk_n = {}, {}
    for w, t in events:
        per[(w, t)] = per.get((w, t), 0) + 1
        wk_n[w] = wk_n.get(w, 0) + 1
    frac = {k: n / wk_n[k[0]] for k, n in per.items()}

    def fr9(x):
        return math.floor(x * 1e9 + 0.5) / 1e9 if x is not None else None

    out = {}
    for w in sorted(wk_n):
        terms_q, has_prev = 0, False
        for (ww, t) in per:
            if ww != w:
                continue
            pf = frac.get((w - 1, t))
            if pf is not None:
                has_prev = True
                terms_q += math.floor(
                    abs(frac[(w, t)] - pf) / 2.0 * 1e9 + 0.5)
        for (ww, t) in per:
            if ww != w:
                continue
            pf = frac.get((w - 1, t))
            term = abs(frac[(w, t)] - pf) / 2.0 if pf is not None \
                else None
            out[(w, t)] = (per[(w, t)], fr9(frac[(w, t)]), fr9(pf),
                           fr9(term),
                           fr9(terms_q / 1e9) if has_prev else None)
    return out


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=st.lists(st.tuples(st.integers(0, 4),
                                 st.sampled_from(["view", "click"])),
                       min_size=1, max_size=25))
def test_weekly_mix_drift_matches_python_reference(spark, events):
    """Random (week, type) streams — types vanishing for whole weeks
    (NULL terms that still contribute 0 to the quantized TVD),
    gapped weeks whose calendar join must NOT pick up the last
    observed week: the weekly mix drift must match the sequential
    replay row for row."""
    from data_warehouse_project_spark.plans.drift import (
        events_type_mix_weekly_drift)
    from unittest import mock

    import data_warehouse_project_spark.plans.drift as D
    base = datetime.datetime(2024, 1, 1)  # a Monday
    ev = spark.createDataFrame(
        [Row(event_id=i, ts=base + datetime.timedelta(weeks=w, hours=3),
             user_id=1, event_type=t, value=1.0, props="{}")
         for i, (w, t) in enumerate(events)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")

    class FakeCat:
        def __init__(self, *a):
            self.events = ev

    with mock.patch.object(D, "Catalog", FakeCat):
        got = {((r["week"] - base).days // 7, r["event_type"]):
               (r["n"], r["frac"], r["prev_frac"], r["drift_term"],
                r["week_mix_tvd"])
               for r in events_type_mix_weekly_drift(spark, "x")
               .collect()}
    assert got == _weekly_mix_reference(events), events
