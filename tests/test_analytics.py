"""Semantic unit tests for the behavioral-analytics and
distribution-statistics operators (plans/analytics.py,
llm/distributions.py) — invariants the DuckDB parity suite can't
express: windowed funnel ordering, the basket-size guard, the Zipf
slope on an exact power law, and moment math vs numpy."""

from __future__ import annotations

import math

from pyspark.sql import Row, functions as F

from data_warehouse_project_spark.llm.distributions import (
    doc_zipf_fit, embedding_dim_stats)
from data_warehouse_project_spark.plans.analytics import (
    events_funnel_conversion, part_market_basket)
from data_warehouse_project_spark.plans.graph import MAX_BASKET

T0 = "2024-01-01 00:00:00"


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [Row(event_id=i, ts=ts, user_id=u, event_type=t,
             value=1.0, props="{}")
         for i, (u, t, ts) in enumerate(rows)],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_funnel_windowed_first_touch_semantics(spark, tmp_path):
    """user 1 converts fully in-window; user 2's click is past the
    24h window (excluded, and so is the later purchase); user 3's
    pre-view click is ignored but the post-view one counts; user 4's
    purchase BEFORE the first qualifying click doesn't count."""
    rows = [
        (1, "view", "2024-01-01 00:00:00"),
        (1, "click", "2024-01-01 01:00:00"),
        (1, "purchase", "2024-01-01 02:00:00"),
        (2, "view", "2024-01-01 00:00:00"),
        (2, "click", "2024-01-02 06:00:00"),      # 30h later: too late
        (2, "purchase", "2024-01-02 07:00:00"),
        (3, "click", "2024-01-01 00:00:00"),      # before any view
        (3, "view", "2024-01-01 01:00:00"),
        (3, "click", "2024-01-01 03:00:00"),
        (3, "purchase", "2024-01-01 04:00:00"),
        (4, "view", "2024-01-01 00:00:00"),
        (4, "purchase", "2024-01-01 00:30:00"),   # before the click
        (4, "click", "2024-01-01 01:00:00"),
    ]
    d = _write_events(spark, tmp_path, rows)
    out = {r["event_type"]: r for r in
           events_funnel_conversion(spark, d).collect()}
    assert out["view"]["n_users"] == 4
    assert out["click"]["n_users"] == 3          # users 1, 3, 4
    assert out["purchase"]["n_users"] == 2       # users 1, 3
    assert out["click"]["step_conversion"] == 0.75
    assert abs(out["purchase"]["step_conversion"] - 2 / 3) < 1e-6
    assert out["purchase"]["overall_conversion"] == 0.5


def test_market_basket_guard_and_lift(spark, tmp_path):
    """An oversized basket is dropped whole BEFORE the pair join
    (none of its parts appear in any pair or in the denominators);
    support/lift are pinned on a hand-computable fixture."""
    def li(ok, pk, ln):
        return Row(l_orderkey=ok, l_partkey=pk, l_suppkey=1,
                   l_linenumber=ln, l_quantity=1.0, l_extendedprice=1.0,
                   l_discount=0.0, l_tax=0.0, l_returnflag="N",
                   l_linestatus="O", l_shipdate="2024-01-01 00:00:00")

    rows = [li(1, 1, 1), li(1, 2, 2),
            li(2, 1, 1), li(2, 2, 2),
            li(3, 1, 1), li(3, 3, 2),
            # a duplicated (order, part) line must count once
            li(3, 3, 3)]
    # one pathological basket with MAX_BASKET+1 distinct parts
    rows += [li(4, 100 + i, i + 1) for i in range(MAX_BASKET + 1)]
    df = spark.createDataFrame(rows).withColumn(
        "l_shipdate", F.to_timestamp("l_shipdate"))
    df.write.parquet(str(tmp_path / "lineitem.parquet"))

    out = part_market_basket(spark, str(tmp_path)).collect()
    pairs = {(r["part_a"], r["part_b"]): r for r in out}
    assert set(pairs) == {(1, 2), (1, 3)}        # no part ≥ 100 anywhere
    r12 = pairs[(1, 2)]
    assert r12["pair_orders"] == 2
    # kept orders: 1,2,3 → total 3; p1 in 3, p2 in 2, p3 in 1
    assert abs(r12["support"] - 2 / 3) < 1e-6
    assert r12["lift"] == 1.0                    # 2*3/(3*2)
    r13 = pairs[(1, 3)]
    assert r13["pair_orders"] == 1
    assert r13["lift"] == 1.0                    # 1*3/(3*1)


def test_zipf_slope_on_exact_power_law(spark, tmp_path):
    """A corpus whose term counts follow C/r must fit slope ≈ -1;
    the quantized OLS must agree with a numpy float fit to ~1e-4."""
    counts = {f"t{r:03d}": 1000 // r for r in range(1, 21)}
    text = " ".join(" ".join([t] * n) for t, n in counts.items())
    spark.createDataFrame(
        [Row(doc_id=1, text=text, lang="en", source="s", n_chars=len(text))]
    ).write.parquet(str(tmp_path / "documents.parquet"))

    row = doc_zipf_fit(spark, str(tmp_path)).collect()[0]
    assert row["n_terms"] == 20
    xs = [math.log(r) for r in range(1, 21)]
    ys = [math.log(counts[f"t{r:03d}"]) for r in range(1, 21)]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    exp_slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert abs(row["zipf_slope"] - exp_slope) < 1e-4
    assert abs(row["zipf_slope"] + 1.0) < 0.02
    exp_icpt = sy / n - exp_slope * sx / n
    assert abs(row["zipf_intercept"] - exp_icpt) < 1e-4


def test_embedding_dim_stats_match_numpy(spark, tmp_path):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(scale=0.5, size=(40, 4)).astype("float32")
    spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v], label=0)
         for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    rows = embedding_dim_stats(spark, str(tmp_path)).collect()
    assert [r["dim"] for r in rows] == [0, 1, 2, 3]
    arr = vecs.astype("float64")
    for r in rows:
        d = r["dim"]
        assert r["n_vecs"] == 40
        assert abs(r["mean_val"] - arr[:, d].mean()) < 1e-5
        assert abs(r["std_val"] - arr[:, d].std()) < 1e-5


def test_pmi_ranks_perfect_collocation_first(spark, tmp_path):
    """'xq zq' co-occur always and only together (perfect association);
    'aa bb' co-occur at chance. The PMI of the former must equal the
    hand-computed value and rank first."""
    from data_warehouse_project_spark.llm.textstats import token_bigram_pmi

    # 6 docs each "xq zq" (12 tokens), 20 docs "aa bb aa bb ..." mix
    rows = [Row(doc_id=i, text="xq zq", lang="en", source="s", n_chars=5)
            for i in range(6)]
    rows += [Row(doc_id=100 + i, text="aa bb cc dd ee ff gg hh",
                 lang="en", source="s", n_chars=23) for i in range(20)]
    spark.createDataFrame(rows).write.parquet(str(tmp_path / "documents.parquet"))

    out = token_bigram_pmi(spark, str(tmp_path)).collect()
    assert out[0]["w1"] == "xq" and out[0]["w2"] == "zq"
    n_tokens = 6 * 2 + 20 * 8
    n_bigrams = 6 * 1 + 20 * 7
    exp = math.log((6 * n_tokens * n_tokens) / (n_bigrams * 6 * 6))
    assert abs(out[0]["pmi"] - exp) < 1e-5
    # chance-level pairs must score strictly lower
    assert all(r["pmi"] < out[0]["pmi"] for r in out[1:])


def test_centroid_separation_orthogonal_and_identical(spark, tmp_path):
    from data_warehouse_project_spark.llm.distributions import (
        label_centroid_separation)

    rows = []
    for i in range(10):   # label 0: e0, label 1: e1 (orthogonal)
        rows.append(Row(vec_id=i, embedding=[1.0, 0.0, 0.0, 0.0], label=0))
        rows.append(Row(vec_id=100 + i, embedding=[0.0, 1.0, 0.0, 0.0],
                        label=1))
        rows.append(Row(vec_id=200 + i, embedding=[1.0, 0.0, 0.0, 0.0],
                        label=2))   # identical direction to label 0
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    out = {(r["label_a"], r["label_b"]): r["centroid_cosine"]
           for r in label_centroid_separation(spark, str(tmp_path)).collect()}
    assert set(out) == {(0, 1), (0, 2), (1, 2)}
    assert abs(out[(0, 1)]) < 1e-6
    assert abs(out[(0, 2)] - 1.0) < 1e-6
    assert abs(out[(1, 2)]) < 1e-6


def test_rolling_7d_is_calendar_range_not_rows(spark, tmp_path):
    """Gap days must age out: with orders on Jan 1, 2, and 10 only,
    the Jan 10 rolling sum covers Jan 4-10 = just Jan 10 itself. A
    ROWS frame would wrongly drag Jan 1-2 in."""
    from data_warehouse_project_spark.plans.warehouse import (
        orders_rolling_7d_revenue)

    def o(k, day, price):
        return Row(o_orderkey=k, o_custkey=1, o_orderstatus="F",
                   o_totalprice=price, o_orderdate=day, o_orderpriority="1")

    df = spark.createDataFrame([
        o(1, "2024-01-01 00:00:00", 100.0),
        o(2, "2024-01-02 00:00:00", 10.0),
        o(3, "2024-01-10 00:00:00", 1.0),
    ]).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    df.write.parquet(str(tmp_path / "orders.parquet"))

    rows = {str(r["day"])[:10]: r for r in
            orders_rolling_7d_revenue(spark, str(tmp_path)).collect()}
    assert rows["2024-01-01"]["rolling_7d_revenue"] == 100.0
    assert rows["2024-01-02"]["rolling_7d_revenue"] == 110.0
    assert rows["2024-01-10"]["rolling_7d_revenue"] == 1.0


# ---------------------------------------------------------------------------
# property-based tests (hypothesis) vs Python reference models
# ---------------------------------------------------------------------------

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings, strategies as st

from data_warehouse_project_spark.plans.analytics import (
    FUNNEL_WINDOW_HOURS, funnel_report)
from data_warehouse_project_spark.plans.warehouse import rolling_7d_report

_BASE = datetime(2024, 1, 1)

_funnel_events = st.lists(
    st.tuples(st.integers(0, 3),                          # user
              st.sampled_from(["view", "click", "purchase", "error"]),
              st.integers(0, 100)),                       # hour offset
    min_size=0, max_size=50,
)


def _funnel_model(events):
    """Reference walk: first view; first click in [t_view, +W]; first
    purchase in [t_click, +W]."""
    by_user = {}
    for u, t, h in events:
        by_user.setdefault(u, []).append((t, h))
    n = [0, 0, 0]
    for evs in by_user.values():
        views = sorted(h for t, h in evs if t == "view")
        if not views:
            continue
        tv = views[0]
        n[0] += 1
        clicks = sorted(h for t, h in evs
                        if t == "click" and tv <= h <= tv + FUNNEL_WINDOW_HOURS)
        if not clicks:
            continue
        tc = clicks[0]
        n[1] += 1
        purch = [h for t, h in evs
                 if t == "purchase" and tc <= h <= tc + FUNNEL_WINDOW_HOURS]
        if purch:
            n[2] += 1
    return n


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=_funnel_events)
def test_funnel_matches_reference_model(spark, events):
    rows = [(i, u, t, _BASE + timedelta(hours=h))
            for i, (u, t, h) in enumerate(events)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp")
    got = [r["n_users"] for r in funnel_report(df).collect()]
    assert got == _funnel_model(events)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=_funnel_events, split=st.integers(0, 100))
def test_funnel_incremental_any_ordered_split_matches_model(
        spark, events, split):
    """Incremental funnel fold over ANY ts-ordered two-batch split
    (the maintainer's documented arrival contract —
    streaming/funnel_state.py module docstring) must serve exactly
    the reference-model counts: the within-contract sweep analog of
    the strict transition miner's
    (test_transitions_incremental_matches_python_model). The split
    threshold lands anywhere in the hour range, including before all
    events (empty first batch) and after all (empty second)."""
    from data_warehouse_project_spark.streaming import funnel_state as FS

    rows = [(i, u, t, _BASE + timedelta(hours=h))
            for i, (u, t, h) in enumerate(events)]
    df = spark.createDataFrame(
        rows or [(0, 0, "view", _BASE)],
        "event_id long, user_id long, event_type string, ts timestamp")
    if not rows:
        df = df.filter(F.lit(False))
    cut = _BASE + timedelta(hours=split)
    state = FS.merge_funnel_state(
        FS.funnel_state(df.filter(F.col("ts") <= F.lit(cut))),
        df.filter(F.col("ts") > F.lit(cut)))
    got = [r["n_users"] for r in FS.state_to_report(state).collect()]
    assert got == _funnel_model(events), (events, split)


_order_days = st.lists(
    st.tuples(st.integers(0, 30),                         # day offset
              st.integers(1, 10_000)),                    # price in cents
    min_size=1, max_size=40,
)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(orders=_order_days)
def test_rolling_7d_matches_reference_model(spark, orders):
    rows = [(i, _BASE + timedelta(days=d), cents / 100.0)
            for i, (d, cents) in enumerate(orders)]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate timestamp, o_totalprice double")
    got = {str(r["day"])[:10]: (r["n_orders"], r["rolling_7d_revenue"])
           for r in rolling_7d_report(df).collect()}

    daily = {}
    for d, cents in orders:
        n, c = daily.get(d, (0, 0))
        daily[d] = (n + 1, c + cents)
    exp = {}
    for d, (n, _) in daily.items():
        roll = sum(c for dd, (_, c) in daily.items() if d - 6 <= dd <= d)
        key = str(_BASE + timedelta(days=d))[:10]
        exp[key] = (n, roll / 100.0)
    assert got == exp


def test_approx_quantile_gate_true_on_driver_data(spark, sf_dir):
    from data_warehouse_project_spark.plans.warehouse import (
        approx_quantile_accuracy_floor)
    row = approx_quantile_accuracy_floor(spark, sf_dir).collect()[0]
    assert row["has_rows"]
    assert row["p500_in_bracket"] and row["p900_in_bracket"] \
        and row["p990_in_bracket"]


def test_approx_quantile_bracket_holds_under_heavy_ties(spark, tmp_path):
    """A mass point at one value (90% ties) is exactly the case where
    a naive |approx-exact| value compare breaks; the rank-bracket
    form must stay true."""
    from data_warehouse_project_spark.plans.warehouse import (
        approx_quantile_accuracy_floor)

    rows = [Row(l_orderkey=i, l_partkey=1, l_suppkey=1, l_linenumber=1,
                l_quantity=1.0, l_extendedprice=(42.0 if i < 900
                                                 else 1000.0 + i),
                l_discount=0.0, l_tax=0.0, l_returnflag="N",
                l_linestatus="O", l_shipdate="2024-01-01 00:00:00")
            for i in range(1000)]
    spark.createDataFrame(rows).withColumn(
        "l_shipdate", F.to_timestamp("l_shipdate")
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    row = approx_quantile_accuracy_floor(spark, str(tmp_path)).collect()[0]
    assert row["has_rows"]
    assert row["p500_in_bracket"] and row["p900_in_bracket"] \
        and row["p990_in_bracket"]


def test_backlog_sweep_line_counts_overlaps(spark, tmp_path):
    """Orders A [Jan1..Jan3-ship] and B [Jan2..Jan5-ship]: backlog is
    1 on Jan1, 2 on Jan2, drops to 1 the day after A's last ship
    (Jan4), 0 the day after B's (Jan6)."""
    from data_warehouse_project_spark.plans.warehouse import (
        orders_backlog_timeseries)

    orders = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-02 09:00:00")],
        "o_orderkey long, o_orderdate string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate")) \
     .withColumn("o_custkey", F.lit(1)) \
     .withColumn("o_orderstatus", F.lit("O")) \
     .withColumn("o_totalprice", F.lit(1.0)) \
     .withColumn("o_orderpriority", F.lit("1"))
    def li(ok, ship, ln):
        return Row(l_orderkey=ok, l_partkey=1, l_suppkey=1, l_linenumber=ln,
                   l_quantity=1.0, l_extendedprice=1.0, l_discount=0.0,
                   l_tax=0.0, l_returnflag="N", l_linestatus="O",
                   l_shipdate=ship)

    lines = spark.createDataFrame(
        [li(1, "2024-01-02 00:00:00", 1), li(1, "2024-01-03 00:00:00", 2),
         li(2, "2024-01-05 00:00:00", 1)],
    ).withColumn("l_shipdate", F.to_timestamp("l_shipdate"))
    orders.write.parquet(str(tmp_path / "orders.parquet"))
    lines.write.parquet(str(tmp_path / "lineitem.parquet"))

    rows = {str(r["day"])[:10]: r["backlog"] for r in
            orders_backlog_timeseries(spark, str(tmp_path)).collect()}
    assert rows == {"2024-01-01": 1, "2024-01-02": 2,
                    "2024-01-04": 1, "2024-01-06": 0}


def test_backlog_invariants_on_driver_data(spark, sf_dir):
    """The sweep must balance: backlog ends at 0 and never dips
    negative (every open has exactly one close)."""
    from data_warehouse_project_spark.plans.warehouse import (
        orders_backlog_timeseries)
    rows = orders_backlog_timeseries(spark, sf_dir).collect()
    assert rows[-1]["backlog"] == 0
    assert all(r["backlog"] >= 0 for r in rows)
    assert sum(r["n_opened"] for r in rows) == sum(r["n_closed"]
                                                   for r in rows)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=_funnel_events, split=st.integers(0, 100))
def test_funnel_state_fold_matches_batch(spark, events, split):
    """Folding a ts-ordered two-batch arrival through the incremental
    state must equal the batch funnel over the full history, for
    arbitrary event sets and split points."""
    from data_warehouse_project_spark.streaming.funnel_state import (
        funnel_state, merge_funnel_state, state_to_report)

    schema = "event_id long, user_id long, event_type string, ts timestamp"
    rows = [(i, u, t, _BASE + timedelta(hours=h))
            for i, (u, t, h) in enumerate(events)]
    cut = _BASE + timedelta(hours=split)
    b1 = spark.createDataFrame([r for r in rows if r[3] <= cut], schema)
    b2 = spark.createDataFrame([r for r in rows if r[3] > cut], schema)
    got = [r["n_users"] for r in
           state_to_report(merge_funnel_state(funnel_state(b1), b2)).collect()]
    assert got == _funnel_model(events)


def test_source_length_kl_zero_for_identical_distribution(spark, tmp_path):
    """A source whose length distribution equals the corpus's has
    KL = 0; a shifted source scores strictly positive; KL is never
    negative (Gibbs)."""
    from data_warehouse_project_spark.llm.langmix import source_length_kl

    def doc(i, src, n_tokens):
        return Row(doc_id=i, text=" ".join(["w"] * n_tokens), lang="en",
                   source=src, n_chars=2 * n_tokens)

    rows = []
    # sources a and b: identical length mix (5 docs of 15 tokens,
    # 5 of 35 each) → each equals the a∪b marginal as long as c is
    # excluded... include c and a/b stay mutually identical but not
    # equal to the corpus — so build ONLY a and b for the zero case
    for i in range(5):
        rows.append(doc(100 + i, "a", 15))
        rows.append(doc(200 + i, "a", 35))
        rows.append(doc(300 + i, "b", 15))
        rows.append(doc(400 + i, "b", 35))
    spark.createDataFrame(rows).write.parquet(
        str(tmp_path / "documents.parquet"))
    out = {r["source"]: r["kl_vs_corpus"]
           for r in source_length_kl(spark, str(tmp_path)).collect()}
    assert out == {"a": 0.0, "b": 0.0}

    # now add a shifted source c (all 95-token docs): a/b rise above
    # zero, c scores strictly higher, and everything stays >= 0
    rows += [doc(500 + i, "c", 95) for i in range(10)]
    d2 = tmp_path / "v2"
    d2.mkdir()
    spark.createDataFrame(rows).write.parquet(str(d2 / "documents.parquet"))
    out2 = {r["source"]: r["kl_vs_corpus"]
            for r in source_length_kl(spark, str(d2)).collect()}
    assert all(v >= 0 for v in out2.values())
    assert out2["c"] > out2["a"] > 0
    assert out2["a"] == out2["b"]


def test_embedding_covariance_matches_numpy_and_is_psd(spark, tmp_path):
    """The exact quantized covariance must agree with numpy's
    population covariance to ~1e-4, and the reconstructed symmetric
    matrix must be PSD (eigenvalues >= -1e-6) — the PCA-health
    consumer this query feeds."""
    import numpy as np

    from data_warehouse_project_spark.llm.distributions import (
        embedding_covariance_matrix)

    rng = np.random.default_rng(11)
    vecs = (rng.normal(size=(60, 6)) @ np.diag([2, 1, 1, .5, .2, .1])) \
        .astype("float32")
    spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v], label=0)
         for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    rows = embedding_covariance_matrix(spark, str(tmp_path)).collect()
    assert len(rows) == 6 * 7 // 2
    exp = np.cov(vecs.astype("float64").T, bias=True)
    M = np.zeros((6, 6))
    for r in rows:
        i, j = r["dim_i"], r["dim_j"]
        assert r["n_vecs"] == 60
        assert abs(r["covariance"] - exp[i, j]) < 1e-4, (i, j)
        M[i, j] = M[j, i] = r["covariance"]
    eig = np.linalg.eigvalsh(M)
    assert eig.min() >= -1e-6
    # the planted spectrum ordering survives: top eigenvalue ~4x² of
    # the second-largest scale
    assert eig.max() > 2.0


def test_hll_gate_true_on_driver_data_and_detects_broken_sketch(spark, sf_dir):
    """The HLL gate passes on real data; the bracket logic itself is
    exercised by checking a deliberately-impossible tolerance fails
    (proving the booleans are computed, not constants)."""
    from data_warehouse_project_spark.plans import warehouse
    row = warehouse.hll_distinct_accuracy_floor(spark, sf_dir).collect()[0]
    assert all(row.asDict().values())

    # with the gate forced to 0% tolerance at least one column's
    # approximate count differs from exact (HLL is approximate),
    # so a boolean flips — the gate is a live computation
    orig = warehouse.HLL_GATE_PCT
    try:
        warehouse.HLL_GATE_PCT = 0
        row0 = warehouse.hll_distinct_accuracy_floor(spark, sf_dir) \
            .collect()[0].asDict()
        assert not all(row0.values())
    finally:
        warehouse.HLL_GATE_PCT = orig


_order_intervals = st.lists(
    st.tuples(st.integers(0, 15),                 # order day
              st.integers(0, 10)),                # ship lag (days)
    min_size=1, max_size=25,
)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(orders=_order_intervals)
def test_backlog_matches_bruteforce_interval_count(spark, orders):
    """The sweep-line backlog must equal the brute-force 'how many
    intervals cover this day' count at every change day, for
    arbitrary order/ship interval sets."""
    from data_warehouse_project_spark.plans.warehouse import (
        orders_backlog_timeseries)

    orows, lrows = [], []
    for k, (d, lag) in enumerate(orders):
        orows.append((k, _BASE + timedelta(days=d), 1.0))
        # last ship = order day + lag (single line per order)
        lrows.append((k, _BASE + timedelta(days=d + lag)))
    odf = spark.createDataFrame(
        orows, "o_orderkey long, o_orderdate timestamp, o_totalprice double")
    ldf = spark.createDataFrame(
        lrows, "l_orderkey long, l_shipdate timestamp")
    # bypass Catalog (schema projection) by calling the core on views
    import data_warehouse_project_spark.plans.warehouse as wh
    from unittest import mock

    class _Cat:
        def __init__(self, *_a, **_k):
            self.orders, self.lineitem = odf, ldf

    with mock.patch.object(wh, "Catalog", _Cat):
        got = {str(r["day"])[:10]: r["backlog"] for r in
               orders_backlog_timeseries(spark, "ignored").collect()}

    days = sorted({d for d, _ in orders} |
                  {d + lag + 1 for d, lag in orders})
    exp = {}
    for day in days:
        exp[str(_BASE + timedelta(days=day))[:10]] = sum(
            1 for d, lag in orders if d <= day <= d + lag)
    assert got == exp


def test_pca_variance_matches_numpy(spark, sf_dir):
    """Spectrum from the quantized distributed covariance matches
    numpy's eig of the exact covariance; shares sum to 1; trace
    identity holds."""
    import numpy as np
    from data_warehouse_project_spark.llm.distributions import (
        embedding_pca_variance)
    from data_warehouse_project_spark.sources.catalog import Catalog

    rows = embedding_pca_variance(spark, sf_dir).collect()
    V = np.stack([np.array(r.embedding, dtype=float) for r in
                  Catalog(spark, sf_dir).embeddings.collect()])
    cov = np.cov(V.T, bias=True)
    eig = np.sort(np.linalg.eigvalsh(cov))[::-1]
    got = np.array([r.eigenvalue for r in rows])
    assert len(rows) == V.shape[1]
    assert np.abs(eig - got).max() < 1e-4          # quantization tol
    assert abs(sum(r.var_share for r in rows) - 1.0) < 1e-3
    assert rows[-1].cum_share == 1.0
    assert abs(got.sum() - np.trace(cov)) < 1e-3   # trace identity
    # descending order + 1-based components
    assert [r.component for r in rows] == list(range(1, len(rows) + 1))
    assert all(a.eigenvalue >= b.eigenvalue
               for a, b in zip(rows, rows[1:]))


def test_pca_variance_report_hand_matrix():
    """Known 2x2 covariance: eigenvalues 3 and 1."""
    from data_warehouse_project_spark.llm.distributions import (
        pca_variance_report)
    rows = [{"dim_i": 0, "dim_j": 0, "covariance": 2.0},
            {"dim_i": 0, "dim_j": 1, "covariance": 1.0},
            {"dim_i": 1, "dim_j": 1, "covariance": 2.0}]
    out = pca_variance_report(rows)
    assert [r[1] for r in out] == [3.0, 1.0]
    assert [r[2] for r in out] == [0.75, 0.25]
    assert out[-1][3] == 1.0


def test_stickiness_hand_computed(spark, tmp_path):
    """2 days: day1 users {1,2}, day2 users {1}; MAU=2, avg_dau=1.5,
    stickiness=0.75. A second month with one user pins per-month
    isolation."""
    from data_warehouse_project_spark.plans.analytics import (
        events_stickiness_monthly)
    rows = [(1, "view", "2024-01-01 10:00:00"),
            (2, "view", "2024-01-01 11:00:00"),
            (1, "view", "2024-01-02 10:00:00"),
            (1, "click", "2024-01-02 10:05:00"),   # same user+day: no-op
            (9, "view", "2024-02-03 09:00:00")]
    d = _write_events(spark, tmp_path, [(u, t, ts) for u, t, ts in rows])
    out = {r.month.month: r for r in
           events_stickiness_monthly(spark, d).collect()}
    jan, feb = out[1], out[2]
    # calendar-days denominator: 31 for January, 29 for Feb 2024
    assert (jan.n_days, jan.mau) == (31, 2)
    assert jan.avg_dau == round(3 / 31, 4)
    assert jan.stickiness == round(3 / 62 * 1e6) / 1e6
    assert (feb.n_days, feb.mau) == (29, 1)
    assert feb.avg_dau == round(1 / 29, 4)
    assert feb.stickiness == round(1 / 29 * 1e6) / 1e6


def test_conversion_latency_hand_cohort(spark, tmp_path):
    # A converts in 45.5 min -> 45 whole minutes; B never purchases;
    # C purchases BEFORE the first click (not a conversion); D
    # purchases outside the window -> excluded
    import datetime as dt

    from pyspark.sql import Row

    from data_warehouse_project_spark.plans.analytics import (
        FUNNEL_WINDOW_HOURS, conversion_latency_quantiles)

    t0 = dt.datetime(2024, 1, 5, 10, 0, 0)

    def ev(eid, uid, typ, minutes, seconds=0.0):
        return Row(event_id=eid, ts=t0 + dt.timedelta(minutes=minutes,
                                                      seconds=seconds),
                   user_id=uid, event_type=typ, value=1.0, props="{}")

    rows = [
        ev(1, 1, "click", 0), ev(2, 1, "purchase", 45, 30.5),
        ev(3, 2, "click", 0),
        ev(4, 3, "purchase", -10), ev(5, 3, "click", 0),
        ev(6, 4, "click", 0),
        ev(7, 4, "purchase", FUNNEL_WINDOW_HOURS * 60 + 1),
    ]
    spark.createDataFrame(rows).write.mode("overwrite") \
        .parquet(str(tmp_path / "events.parquet"))
    out = conversion_latency_quantiles(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_converters"] == 1
    assert r["p50_min"] == r["p90_min"] == r["p99_min"] == 45
    assert r["max_min"] == 45


def _stickiness_reference(visits):
    """Sequential DAU/MAU replay: visits = (user, month 1..2,
    day 1..5) in Jan/Feb 2024 — calendar-day denominators (31/29),
    exact distincts, quantized single divisions."""
    days_in = {1: 31, 2: 29}
    by_month = {}
    for u, m, d in visits:
        by_month.setdefault(m, {"days": {}, "users": set()})
        by_month[m]["days"].setdefault(d, set()).add(u)
        by_month[m]["users"].add(u)
    out = {}
    for m, s in by_month.items():
        sum_dau = sum(len(us) for us in s["days"].values())
        n_days, mau = days_in[m], len(s["users"])
        out[m] = (n_days, mau,
                  math.floor(sum_dau / n_days * 1e4 + 0.5) / 1e4,
                  math.floor(sum_dau / (n_days * mau) * 1e6 + 0.5) / 1e6)
    return out


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(visits=st.lists(st.tuples(st.integers(1, 4), st.integers(1, 2),
                                 st.integers(1, 5)),
                       min_size=1, max_size=20))
def test_stickiness_matches_python_reference(spark, tmp_path_factory,
                                             visits):
    """Random (user, month, day) visit patterns (repeat visits the
    distincts must collapse, single-user months, users active in both
    months): the two-distinct-shuffle stickiness report must match
    the sequential DAU/MAU replay per month."""
    from data_warehouse_project_spark.plans.analytics import (
        events_stickiness_monthly)
    rows = [(u, "view", f"2024-{m:02d}-{d:02d} 10:00:00")
            for u, m, d in visits]
    d = _write_events(spark, tmp_path_factory.mktemp("stick"), rows)
    got = {r["month"].month: (r["n_days"], r["mau"], r["avg_dau"],
                              r["stickiness"])
           for r in events_stickiness_monthly(spark, d).collect()}
    assert got == _stickiness_reference(visits), visits


def _latency_reference(events):
    """Sequential first-touch latency replay: per user the earliest
    click, earliest in-window purchase at or after it, whole-minute
    floor, then the integer-rank histogram quantiles."""
    clicks, purch = {}, {}
    for u, t, m in events:
        (clicks if t == "click" else purch).setdefault(u, []).append(m)
    lats = []
    for u, cs in clicks.items():
        c = min(cs)
        inwin = [p for p in purch.get(u, [])
                 if c <= p <= c + 24 * 60]
        if inwin:
            lats.append(min(inwin) - c)
    if not lats:
        return (0, None, None, None, None)
    s = sorted(lats)
    n = len(s)

    def q(num, den):
        cum = 0
        for v in sorted(set(s)):
            cum += s.count(v)
            if cum * den >= n * num:
                return v

    return (n, q(1, 2), q(9, 10), q(99, 100), max(s))


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=st.lists(
    st.tuples(st.integers(1, 3),
              st.sampled_from(["click", "purchase"]),
              st.integers(0, 2000)),
    max_size=18))
def test_conversion_latency_matches_python_reference(
        spark, tmp_path_factory, events):
    """Random click/purchase streams (purchases before any click,
    outside the 24 h window, multi-click users where only the FIRST
    click anchors, zero-converter corpora): the windowed first-touch
    latency report must match the sequential replay in count and all
    integer-rank quantiles."""
    from data_warehouse_project_spark.plans.analytics import (
        conversion_latency_quantiles)
    evs = [(u, t,
            f"2024-01-{1 + m // 1440:02d} "
            f"{(m % 1440) // 60:02d}:{m % 60:02d}:00")
           for u, t, m in events]
    d = _write_events(spark, tmp_path_factory.mktemp("lat"), evs)
    r = conversion_latency_quantiles(spark, d).collect()[0]
    got = (r["n_converters"], r["p50_min"], r["p90_min"],
           r["p99_min"], r["max_min"])
    assert got == _latency_reference(events), events


def _basket_reference(orders):
    """Sequential market-basket replay: distinct guarded items, pair
    counts, deterministic (count desc, a, b) top-K, support and
    lift."""
    from data_warehouse_project_spark.plans.analytics import BASKET_TOP_K
    kept = {}
    for ok, parts in enumerate(orders):
        ps = sorted(set(parts))
        if 0 < len(ps) <= MAX_BASKET:
            kept[ok] = ps
    pairs = {}
    for ps in kept.values():
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pairs[(ps[i], ps[j])] = pairs.get((ps[i], ps[j]), 0) + 1
    per_part = {}
    for ps in kept.values():
        for p in ps:
            per_part[p] = per_part.get(p, 0) + 1
    total = len(kept)
    top = sorted(pairs, key=lambda k: (-pairs[k], k))[:BASKET_TOP_K]
    return {(a, b): (pairs[(a, b)], per_part[a], per_part[b],
                     math.floor(pairs[(a, b)] / total * 1e6 + 0.5) / 1e6,
                     math.floor(pairs[(a, b)] * total
                                / (per_part[a] * per_part[b])
                                * 1e6 + 0.5) / 1e6)
            for a, b in top}


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(orders=st.lists(st.lists(st.integers(1, 7), max_size=5),
                       min_size=1, max_size=10))
def test_market_basket_matches_python_reference(spark, orders):
    """Random baskets (duplicate items the distinct must collapse,
    pairless corpora): the self-join market-basket report must match
    the sequential replay — pair counts, per-part denominators,
    support and lift quantization."""
    from unittest import mock

    import data_warehouse_project_spark.plans.analytics as A
    li = spark.createDataFrame(
        [Row(l_orderkey=ok, l_partkey=p)
         for ok, parts in enumerate(orders) for p in parts]
        or [Row(l_orderkey=0, l_partkey=0)],
        "l_orderkey long, l_partkey long")
    if not any(parts for parts in orders):
        li = li.filter("l_orderkey < 0")

    class FakeCat:
        def __init__(self, *a):
            self.lineitem = li

    with mock.patch.object(A, "Catalog", FakeCat):
        rows = A.part_market_basket(spark, "ignored").collect()
    got = {(r["part_a"], r["part_b"]):
           (r["pair_orders"], r["orders_a"], r["orders_b"],
            r["support"], r["lift"])
           for r in rows}
    assert got == _basket_reference(orders), orders


def _retention_reference(visits):
    """Sequential replay: per-user first active day, distinct active
    days, per-(cohort, offset) distinct-user counts."""
    first = {}
    for u, d in visits:
        first[u] = min(first.get(u, d), d)
    cells = {}
    for u, d in set(visits):
        cells.setdefault((first[u], d - first[u]), set()).add(u)
    return {k: len(us) for k, us in cells.items()}


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(visits=st.lists(st.tuples(st.integers(1, 4), st.integers(0, 8)),
                       min_size=1, max_size=25))
def test_retention_cohorts_match_python_reference(
        spark, tmp_path_factory, visits):
    """Random (user, day) activity (repeat same-day visits the
    distinct must collapse, users returning across cohort
    boundaries): the cohort triangle must match the sequential
    replay cell for cell."""
    from data_warehouse_project_spark.streaming.batch_parity import (
        events_retention_cohorts)
    rows = [(u, "view", f"2024-01-{1 + d:02d} 10:00:00")
            for u, d in visits]
    d = _write_events(spark, tmp_path_factory.mktemp("ret"), rows)
    got = {(r["cohort_day"].day - 1, r["day_offset"]): r["n_users"]
           for r in events_retention_cohorts(spark, d).collect()}
    assert got == _retention_reference(visits), visits
