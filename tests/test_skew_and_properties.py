"""Skew utilities (salted agg/join must be algebraically exact) and
hypothesis property tests for the custom operators (SURVEY.md §5:
property-based coverage of tricky semantics)."""

from __future__ import annotations

import pytest
from hypothesis import (HealthCheck, example, given, settings,
                        strategies as st)
from pyspark.sql import functions as F

from data_warehouse_project_spark.operators.asof import asof_join
from data_warehouse_project_spark.operators.skew import salted_agg, salted_join
from data_warehouse_project_spark.operators.windows import (
    disc_quantiles, top_k_per_group)
from data_warehouse_project_spark.streaming.state_fold import (
    dropped_late_count)


def test_salted_agg_equals_plain_agg(spark, sf_dir):
    from data_warehouse_project_spark.sources.catalog import Catalog
    li = Catalog(spark, sf_dir).lineitem
    plain = {
        (r["l_returnflag"],): (r["n"], r["q"])
        for r in li.groupBy("l_returnflag").agg(
            F.count("l_quantity").alias("n"),
            F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).alias("q"),
        ).collect()
    }
    salted = {
        (r["l_returnflag"],): (r["n"], r["q"])
        for r in salted_agg(
            li.withColumn("qs",
                          F.floor(F.col("l_quantity") * 100).cast("long")),
            ["l_returnflag"],
            {"n": "count:qs", "q": "sum:qs"},
            salt_col="l_orderkey", n_salts=8,
        ).collect()
    }
    assert plain == salted


def test_salted_join_equals_plain_join(spark, sf_dir):
    from data_warehouse_project_spark.sources.catalog import Catalog
    cat = Catalog(spark, sf_dir)
    orders = cat.orders.select("o_orderkey", "o_custkey", "o_totalprice")
    cust = cat.customer.select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    plain = orders.join(cust, "o_custkey").count()
    salted = salted_join(orders, cust, key="o_custkey",
                         salt_source="o_orderkey", n_salts=4).count()
    assert plain == salted


# ---------------------------------------------------------------------------
# property-based tests (hypothesis)
# ---------------------------------------------------------------------------

rows_strategy = st.lists(
    st.tuples(st.integers(0, 3),                      # key
              st.integers(0, 50),                     # ts
              st.integers(-100, 100)),                # value
    min_size=0, max_size=40,
)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left=rows_strategy, right=rows_strategy)
def test_asof_join_matches_bruteforce(spark, left, right):
    # deduplicate right on (key, ts): asof_join's documented contract
    rmap = {}
    for k, ts, v in right:
        rmap[(k, ts)] = v
    right_rows = [(k, ts, v) for (k, ts), v in rmap.items()]

    ldf = spark.createDataFrame(
        [(k, ts, v, i) for i, (k, ts, v) in enumerate(left)],
        "k long, ts long, v long, row_id long") if left else None
    if ldf is None:
        return
    rdf = spark.createDataFrame(right_rows or [(999, 999, 0)],
                                "k long, ts long, rv long")
    if not right_rows:
        rdf = rdf.filter(F.lit(False))

    got = {r["row_id"]: (r["rv"], r["asof_ts"]) for r in asof_join(
        ldf, rdf, on=["k"], ts_col="ts", value_cols=["rv"]).collect()}

    for i, (k, ts, _v) in enumerate(left):
        matches = [(rts, rv) for (rk, rts), rv in rmap.items()
                   if rk == k and rts <= ts]
        expected = max(matches) if matches else None
        if expected is None:
            assert got[i] == (None, None), (i, got[i])
        else:
            assert got[i] == (expected[1], expected[0]), (i, got[i])


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=rows_strategy, k=st.integers(1, 4))
def test_top_k_per_group_matches_python(spark, rows, k):
    if not rows:
        return
    df = spark.createDataFrame(
        [(g, ts, v, i) for i, (g, ts, v) in enumerate(rows)],
        "g long, ts long, v long, row_id long")
    got = sorted(
        (r["g"], r["row_id"]) for r in top_k_per_group(
            df, ["g"], [F.col("ts"), F.col("v"), F.col("row_id")], k=k
        ).collect())
    by_group: dict[int, list] = {}
    for i, (g, ts, v) in enumerate(rows):
        by_group.setdefault(g, []).append((ts, v, i))
    expected = sorted(
        (g, i)
        for g, items in by_group.items()
        for (_ts, _v, i) in sorted(items, reverse=True)[:k])
    assert got == expected


@pytest.mark.parametrize("n_parts", [1, 7, 32])
def test_dsum_invariant_under_partitioning(spark, sf_dir, n_parts):
    """The compat-layer guarantee: identical output for any physical
    partitioning (raw double sums would differ in the last ulp)."""
    from data_warehouse_project_spark.functions.compat import dsum
    from data_warehouse_project_spark.sources.catalog import Catalog
    li = Catalog(spark, sf_dir).lineitem.repartition(n_parts)
    out = {r["l_returnflag"]: r["s"] for r in li.groupBy("l_returnflag").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("s")
    ).collect()}
    expected = {r["l_returnflag"]: r["s"]
                for r in Catalog(spark, sf_dir).lineitem
                .groupBy("l_returnflag").agg(
                    dsum(F.col("l_extendedprice")
                         * (1 - F.col("l_discount"))).alias("s")).collect()}
    assert out == expected


def test_aqe_splits_skewed_join(spark):
    """AQE's skew-join handling must engage on a hot-key join when the
    skewed partition crosses the thresholds — the runtime complement
    to the explicit salting operators (at 100 TB, AQE is the first
    line of defense and salting the fallback for pathological keys)."""
    import contextlib
    import io

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        fact = spark.range(300_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(7))
            .otherwise(F.col("id") % 97).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id")).alias("pad"))
        dim = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = fact.join(dim, "k")
        rows = j.count()
        _ = j.collect()          # materialize j's own QueryExecution
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert rows == 300_000
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan       # AQE split the hot partition
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# MERGE property test: Spark merge_upsert vs a Python reference model
# ---------------------------------------------------------------------------

#: target: key-unique dim rows (key, seg, bal); source: key-unique change
#: rows (key, seg, bal, do_delete)
_merge_target = st.lists(
    st.tuples(st.integers(0, 9), st.sampled_from(["A", "B"]),
              st.integers(-5, 5)),
    min_size=0, max_size=12, unique_by=lambda r: r[0])
_merge_source = st.lists(
    st.tuples(st.integers(0, 12), st.sampled_from(["X", "Y"]),
              st.integers(-5, 5), st.booleans()),
    min_size=0, max_size=12, unique_by=lambda r: r[0])


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(target=_merge_target, source=_merge_source)
def test_merge_upsert_matches_reference_model(spark, target, source):
    # ANSI/Delta MERGE reference semantics, modeled in plain Python:
    # matched+delete → drop; matched → update update_cols; unmatched
    # source → insert; target-only rows pass through
    from data_warehouse_project_spark.writes import merge_upsert

    if not target and not source:
        return
    tdf = spark.createDataFrame(
        target or [(999, "Z", 0)], "k long, seg string, bal long")
    if not target:
        tdf = tdf.filter(F.lit(False))
    sdf = spark.createDataFrame(
        source or [(999, "Z", 0, False)],
        "k long, seg string, bal long, do_delete boolean")
    if not source:
        sdf = sdf.filter(F.lit(False))

    got = sorted(
        (r["k"], r["seg"], r["bal"])
        for r in merge_upsert(tdf, sdf, keys=["k"],
                              update_cols=["seg", "bal"],
                              delete_condition=F.col("s.do_delete"))
        .collect())

    model = {k: (seg, bal) for k, seg, bal in target}
    for k, seg, bal, dodel in source:
        if k in model:
            if dodel:
                del model[k]
            else:
                model[k] = (seg, bal)
        else:
            model[k] = (seg, bal)            # insert (delete flag of an
                                             # unmatched key is a no-op:
                                             # WHEN MATCHED ... DELETE)
    expected = sorted((k, seg, bal) for k, (seg, bal) in model.items())
    assert got == expected, (target, source)


# ---------------------------------------------------------------------------
# incremental transition miner vs a plain-Python reference model
# ---------------------------------------------------------------------------

#: random per-user event sequences: (user, minute, type) — minutes
#: unique per draw so (ts, event_id) ordering is unambiguous
_trans_events = st.lists(
    st.tuples(st.integers(1, 4), st.integers(0, 120),
              st.sampled_from(["a", "b", "c"])),
    min_size=0, max_size=25,
    unique_by=lambda r: (r[0], r[1]))


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=_trans_events, split=st.integers(0, 120))
def test_transitions_incremental_matches_python_model(spark, events, split):
    """State-build + merge over ANY ts-ordered two-batch split of ANY
    event sequence must equal the transition counts of a plain-Python
    walk over each user's time-ordered events (the batch-twin
    semantics), including empty batches on either side — and so must
    the shared batch counter over the whole frame."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import transitions as T
    from data_warehouse_project_spark.streaming.batch_parity import (
        transition_counts)

    schema = "user_id long, event_id long, ts timestamp, event_type string"
    rows = [(u, m, dt.datetime(2024, 1, 1, m // 60, m % 60), et)
            for u, m, et in events]
    df = spark.createDataFrame(rows or [(0, 0, dt.datetime(2024, 1, 1), "a")],
                               schema)
    if not rows:
        df = df.filter(F.lit(False))
    first = df.filter(F.col("event_id") <= split)
    second = df.filter(F.col("event_id") > split)
    state = T.merge_transitions_state(T.transitions_state(first), second)
    got = {(r["prev_type"], r["next_type"]): r["n"]
           for r in state.filter(F.col("kind") == "c").collect()}

    model: dict[tuple[str, str], int] = {}
    by_user: dict[int, list] = {}
    for u, m, et in sorted(events, key=lambda r: (r[0], r[1])):
        by_user.setdefault(u, []).append(et)
    for seq in by_user.values():
        for a, b in zip(seq, seq[1:]):
            model[(a, b)] = model.get((a, b), 0) + 1
    assert got == model, (events, split)
    batch = {(r["prev_type"], r["next_type"]): r["n"]
             for r in transition_counts(df, None).collect()}
    assert batch == model, events


# ---------------------------------------------------------------------------
# discrete-quantile rank rule vs a Python reference model
# ---------------------------------------------------------------------------

#: (num, den) pairs the rank model checks: the tails the sites use,
#: the quartiles, and (1, 1), the maximum
_RANK_QS = {"p05": (1, 20), "q1": (1, 4), "q2": (1, 2), "q3": (3, 4),
            "p95": (19, 20), "p99": (99, 100), "top": (1, 1)}


def _rank_model(vals: list[int]) -> dict:
    s = sorted(vals)
    n = len(s)
    return {"n": n, **{out: s[-(-num * n // den) - 1]
                       for out, (num, den) in _RANK_QS.items()}}


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 30)),
                     min_size=1, max_size=40),
       v=st.sampled_from(["x", "n"]))
@example(rows=[(0, 7), (2, 3), (2, 3), (2, 0)], v="n")
def test_disc_quantiles_match_rank_model(spark, rows, v):
    """operators.windows.disc_quantiles, per group and over all rows
    (``by=[]``), must return the group's row count n and the value at
    sorted rank ceil(num·n/den) for every (num, den), for ANY
    multiset: ties, skew and single-value groups included, and a
    value column named ``n`` like the count it outputs."""
    df = spark.createDataFrame(rows, f"g long, {v} long")
    got = {r["g"]: r.asDict()
           for r in disc_quantiles(df, ["g"], v, _RANK_QS).collect()}
    expect = {g: {"g": g, **_rank_model([x for k, x in rows if k == g])}
              for g in {g for g, _ in rows}}
    assert got == expect, (rows, v)
    (whole,) = disc_quantiles(df, [], v, _RANK_QS).collect()
    assert whole.asDict() == _rank_model([x for _, x in rows]), (rows, v)


# ---------------------------------------------------------------------------
# TTL'd window maintainer vs a plain-Python reference model
# ---------------------------------------------------------------------------

#: (event_id-disambiguated) random events: (id, hour-offset, type, cents)
_ttl_events = st.lists(
    st.tuples(st.integers(0, 200), st.integers(0, 120),
              st.sampled_from(["x", "y"]), st.integers(0, 500)),
    min_size=0, max_size=25,
    unique_by=lambda r: r[0])


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=_ttl_events, split=st.integers(0, 200))
def test_ttl_window_fold_matches_python_model(spark, events, split):
    """Fold over ANY two-batch split (including time-disordered
    splits, late data, and empty batches) must equal a Python model
    computing per-(hour, type) aggregates over the union and keeping
    windows within TTL of the global max hour — the eviction
    monotonicity argument, exercised adversarially."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import ttl_window as W

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    base = dt.datetime(2024, 1, 1, 0, 0)
    rows = [(e, base + dt.timedelta(hours=h), 1, et, c / 100.0)
            for e, h, et, c in events]
    df = spark.createDataFrame(
        rows or [(0, base, 1, "x", 0.0)], schema)
    if not rows:
        df = df.filter(F.lit(False))
    first = df.filter(F.col("event_id") <= split)
    second = df.filter(F.col("event_id") > split)
    state = W.merge_window_state(W.window_state(first), second) \
        if rows else W.window_state(df)
    got = {(r["window_hour"], r["event_type"]):
           (r["n_events"], r["sum_value"])
           for r in W.state_to_report(state).collect()}

    model: dict = {}
    h0 = int(base.timestamp() // 3600)
    for _e, h, et, c in events:
        key = (h0 + h, et)
        n, s = model.get(key, (0, 0))
        model[key] = (n + 1, s + c)
    if model:
        hwm = max(h for h, _ in model)
        model = {k: v for k, v in model.items()
                 if k[0] > hwm - W.TTL_HOURS}
    want = {k: (n, round(s / 100.0, 2)) for k, (n, s) in model.items()}
    assert got == want, (events, split)


# ---------------------------------------------------------------------------
# incremental sessionizer vs a plain-Python gaps-and-islands model
# ---------------------------------------------------------------------------

#: random per-user event streams: (user, minute, cents) — minutes
#: unique per user so (ts, event_id) ordering is unambiguous; minute
#: range spans many 30-min gap boundaries
_sess_events = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 600),
              st.integers(0, 500)),
    min_size=0, max_size=25,
    unique_by=lambda r: (r[0], r[1]))


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=_sess_events, split=st.integers(0, 600))
def test_sessions_incremental_matches_python_model(spark, events, split):
    """State-build + merge over ANY ts-ordered two-batch split of ANY
    event stream must equal a plain-Python gaps-and-islands walk
    (session numbering, bounds, counts, and dsum-exact value sums),
    including empty batches on either side."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import sessions as S
    from data_warehouse_project_spark.streaming.batch_parity import (
        SESSION_GAP_S)

    schema = ("user_id long, event_id long, ts timestamp, "
              "event_type string, value double")
    rows = [(u, m, dt.datetime(2024, 1, 1, m // 60, m % 60), "e", c / 100.0)
            for u, m, c in events]
    df = spark.createDataFrame(
        rows or [(0, 0, dt.datetime(2024, 1, 1), "e", 0.0)], schema)
    if not rows:
        df = df.filter(F.lit(False))
    first = df.filter(F.col("event_id") <= split)
    second = df.filter(F.col("event_id") > split)
    got = {(r["user_id"], r["session_seq"]):
           (r["session_start"], r["session_end"], r["n_events"],
            r["session_value"])
           for r in S.state_to_view(S.merge_sessions_state(
               S.sessions_state(first), second)).collect()}

    model = {}
    by_user: dict[int, list] = {}
    for u, m, c in sorted(events, key=lambda r: (r[0], r[1])):
        by_user.setdefault(u, []).append((m, c))
    for u, seq in by_user.items():
        sid, start, vq, n = 0, None, 0, 0
        prev_m = None
        for i, (m, c) in enumerate(seq):
            if prev_m is None or (m - prev_m) * 60 > SESSION_GAP_S:
                if start is not None:
                    model[(u, sid)] = (start, prev_m, n,
                                       ((vq + 50) // 100) / 100.0)
                sid, start, vq, n = sid + 1, m, 0, 0
            # cents scale exactly to the GUARD=4 grid: c/100*1e4 = c*100
            vq += c * 100
            n += 1
            prev_m = m
        model[(u, sid)] = (start, prev_m, n, ((vq + 50) // 100) / 100.0)
    t = lambda m: dt.datetime(2024, 1, 1, m // 60, m % 60)  # noqa: E731
    expected = {(u, s): (t(a), t(b), n, v)
                for (u, s), (a, b, n, v) in model.items()}
    assert got == expected, (events, split)


# ---------------------------------------------------------------------------
# degree-oriented triangle counting vs a brute-force Python model
# ---------------------------------------------------------------------------

#: random small order baskets: (order, part) pairs
_basket_rows = st.lists(
    st.tuples(st.integers(1, 8), st.integers(1, 12)),
    min_size=0, max_size=40,
    unique_by=lambda r: (r[0], r[1]))


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_basket_rows)
def test_triangles_match_bruteforce_model(spark, rows):
    """Degree-oriented wedge enumeration over ANY random basket set
    must count each triangle exactly once per corner — checked
    against a brute-force Python iteration over all id-ordered node
    triples of the co-purchase graph (the orientation/apex argument
    verified by exhaustion, not trusted)."""
    from data_warehouse_project_spark.plans.graph import (
        triangle_participation)

    li = spark.createDataFrame(
        rows or [(0, 0)], "l_orderkey long, l_partkey long")
    if not rows:
        li = li.filter(F.lit(False))
    parts = sorted({p for _, p in rows})
    part = spark.createDataFrame(
        [(p, f"p{p}") for p in parts] or [(0, "x")],
        "p_partkey long, p_name string")

    got = {(r["p_partkey"], r["n_triangles"])
           for r in triangle_participation(li, part).collect()}

    # brute force: undirected co-purchase edges, then all triples
    edges = set()
    by_order: dict[int, set] = {}
    for o, p in rows:
        by_order.setdefault(o, set()).add(p)
    for basket in by_order.values():
        for a in basket:
            for b in basket:
                if a < b:
                    edges.add((a, b))
    count: dict[int, int] = {}
    ps = sorted({x for e in edges for x in e})
    for i, a in enumerate(ps):
        for b in ps[i + 1:]:
            if (a, b) not in edges:
                continue
            for c in ps:
                if c > b and (a, c) in edges and (b, c) in edges:
                    for n in (a, b, c):
                        count[n] = count.get(n, 0) + 1
    expected = set(sorted(count.items(),
                          key=lambda t: (-t[1], t[0]))[:15])
    assert got == expected, (rows,)


# ---------------------------------------------------------------------------
# CMS inner-product never-underestimates under forced collisions
# ---------------------------------------------------------------------------

@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(a=st.lists(st.tuples(st.integers(1, 3000), st.integers(1, 50)),
                  min_size=1, max_size=60, unique_by=lambda t: t[0]),
       b=st.lists(st.tuples(st.integers(1, 3000), st.integers(1, 50)),
                  min_size=1, max_size=60, unique_by=lambda t: t[0]))
def test_cms_inner_product_never_underestimates(spark, a, b):
    """For ANY pair of non-negative key-count vectors (keys drawn
    from a range wider than the bucket count, so collisions DO
    occur), every seed's Σ cell_a·cell_b must be ≥ the exact
    Σ_k a_k·b_k — the structural one-sided-error guarantee both join
    estimators' floors gate on, exercised here beyond the planted
    collision-free fixture."""
    from data_warehouse_project_spark.llm.sketches import cms_table

    da = spark.createDataFrame([(str(k), v) for k, v in a],
                               "token string, n_exact long")
    db = spark.createDataFrame([(str(k), v) for k, v in b],
                               "token string, n_exact long")
    per_seed = (cms_table(da).withColumnRenamed("n", "na")
                .join(cms_table(db).withColumnRenamed("n", "nb"),
                      ["seed", "bucket"])
                .groupBy("seed")
                .agg(F.sum(F.col("na") * F.col("nb")).alias("ip")))
    ips = [r["ip"] for r in per_seed.collect()]
    bd = dict(b)
    exact = sum(v * bd[k] for k, v in a if k in bd)
    assert len(ips) == 4 or exact == 0
    assert all(ip >= exact for ip in ips), (a, b, ips, exact)


# ---------------------------------------------------------------------------
# allowed-lateness transition maintainer vs the Python model, under
# ARBITRARY disorder (no ordering contract at all when span < LATENESS)
# ---------------------------------------------------------------------------

@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=_trans_events, mask=st.integers(0, 2**25 - 1))
def test_late_transitions_any_split_matches_model(spark, events, mask):
    """With every event inside the lateness window (2 h span < 6 h
    LATENESS), ANY two-batch partition — selected by an arbitrary
    bitmask, so batch 2 freely interleaves below batch 1 — must serve
    exactly the Python full-recompute transition counts. This is the
    property the strict maintainer provably lacks (its contract
    requires per-user ts-ordered arrival)."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import late_transitions as L

    schema = "user_id long, event_id long, ts timestamp, event_type string"
    rows = [(u, m, dt.datetime(2024, 1, 1, m // 60, m % 60), et)
            for u, m, et in events]
    df = spark.createDataFrame(rows or [(0, 0, dt.datetime(2024, 1, 1), "a")],
                               schema)
    if not rows:
        df = df.filter(F.lit(False))
    pick = F.pmod(F.col("event_id") * 2654435761 + mask, 3) == 0
    first, second = df.filter(pick), df.filter(~pick)
    state = L.merge_late_transitions_state(
        L.late_transitions_state(first), second)
    got = {(r["prev_type"], r["next_type"]): r["n"]
           for r in L.state_to_report(state).collect()}

    model: dict[tuple[str, str], int] = {}
    by_user: dict[int, list] = {}
    for u, m, et in sorted(events, key=lambda r: (r[0], r[1])):
        by_user.setdefault(u, []).append(et)
    for seq in by_user.values():
        for a, b in zip(seq, seq[1:]):
            model[(a, b)] = model.get((a, b), 0) + 1
    assert got == model, (events, mask)
    assert dropped_late_count(state) == 0


# ---------------------------------------------------------------------------
# allowed-lateness sessionizer vs the Python model under ARBITRARY disorder
# ---------------------------------------------------------------------------

@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=_sess_events, mask=st.integers(0, 2**25 - 1))
def test_late_sessions_any_split_matches_model(spark, events, mask):
    """With every event inside the lateness window (minutes capped
    at 340 < LATENESS's 6 h, so no draw can be dropped as too-late),
    ANY bitmask split must serve exactly the Python gaps-and-islands
    model: numbering, bounds, counts, dsum-exact sums. Spans several
    30-min gap boundaries, so splits routinely deliver bridging and
    back-extending events out of order."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import late_sessions as L
    from data_warehouse_project_spark.streaming.batch_parity import (
        SESSION_GAP_S)

    # cap disorder inside LATENESS: minutes 0..340 (< 6 h)
    events = [(u, m % 341, c) for u, m, c in events]
    seen = set(); dedup = []
    for u, m, c in events:
        if (u, m) not in seen:
            seen.add((u, m)); dedup.append((u, m, c))
    events = dedup

    schema = ("user_id long, event_id long, ts timestamp, "
              "event_type string, value double")
    rows = [(u, m, dt.datetime(2024, 1, 1, m // 60, m % 60), "e", c / 100.0)
            for u, m, c in events]
    df = spark.createDataFrame(
        rows or [(0, 0, dt.datetime(2024, 1, 1), "e", 0.0)], schema)
    if not rows:
        df = df.filter(F.lit(False))
    pick = F.pmod(F.col("event_id") * 2654435761 + mask, 3) == 0
    first, second = df.filter(pick), df.filter(~pick)
    state = L.merge_late_sessions_state(L.late_sessions_state(first), second)
    got = {(r["user_id"], r["session_seq"]):
           (r["session_start"], r["session_end"], r["n_events"],
            r["session_value"])
           for r in L.state_to_view(state).collect()}

    model = {}
    by_user: dict[int, list] = {}
    for u, m, c in sorted(events, key=lambda r: (r[0], r[1])):
        by_user.setdefault(u, []).append((m, c))
    for u, seq in by_user.items():
        sid, start, vq, n, prev_m = 0, None, 0, 0, None
        for m, c in seq:
            if prev_m is None or (m - prev_m) * 60 > SESSION_GAP_S:
                if start is not None:
                    model[(u, sid)] = (start, prev_m, n,
                                       ((vq + 50) // 100) / 100.0)
                sid, start, vq, n = sid + 1, m, 0, 0
            vq += c * 100
            n += 1
            prev_m = m
        model[(u, sid)] = (start, prev_m, n, ((vq + 50) // 100) / 100.0)
    t = lambda m: dt.datetime(2024, 1, 1, m // 60, m % 60)  # noqa: E731
    expected = {(u, s): (t(a), t(b), n, v)
                for (u, s), (a, b, n, v) in model.items()}
    assert got == expected, (events, mask)
    assert dropped_late_count(state) == 0


def test_bloom_probe_planted_membership(spark):
    """The probe must pass EXACTLY the rows whose k positions are all
    set in the (w, bits) word bitmap — verified against a manual
    lane check for present and absent keys alike (catches hash,
    mask and lane-shift drift and any accidental false negative).
    The 1 024-bit filter admits some false positives, so the
    comparison also covers absent keys that pass."""
    from data_warehouse_project_spark.operators import bloom as B

    dim = spark.createDataFrame([(k,) for k in range(0, 50)],
                                "p_partkey long")
    fact = spark.createDataFrame([(k,) for k in range(0, 200)],
                                 "l_partkey long")
    for nbits in (1 << 10, B.BLOOM_M):
        bits = B.bloom_bits(dim, ["p_partkey"], nbits)
        bitmap = {r["w"]: r["bits"] for r in bits.collect()}
        assert len(bitmap) <= B.bloom_bytes(nbits, 50) // 16
        got = {r["l_partkey"] for r in
               B.bloom_probe(fact, ["l_partkey"], bits, nbits).collect()}
        # manual expectation from the same engine-computed positions
        pos = fact.select(
            "l_partkey",
            *[p.alias(f"p{i}") for i, p in
              enumerate(B._positions(["l_partkey"], nbits))]).collect()
        want = {r["l_partkey"] for r in pos
                if all(bitmap.get(r[f"p{i}"] >> 6, 0) >> (r[f"p{i}"] & 63)
                       & 1 for i in range(B.BLOOM_K))}
        assert got == want, nbits
        # zero false negatives: every present key passes
        assert set(range(0, 50)) <= got, nbits


def test_bloom_floor_and_exactness(spark, sf_dir):
    from data_warehouse_project_spark.operators import bloom as B

    row = B.bloom_filter_floor(spark, sf_dir).collect()[0]
    assert row["no_false_negatives"] is True
    assert row["fpr_le_gate"] is True
    assert row["prunes_to_gate"] is True


@settings(max_examples=200, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(mask_a=st.integers(0, 2 ** 120 - 1),
       mask_b=st.integers(0, 2 ** 120 - 1))
def test_kmv_bottom_k_merge_lemma(kmv_hash_universe, mask_a, mask_b):
    """The lemma both the KMV maintainer and the pair estimator rest
    on: bottom-k(bottom-k(A) ∪ bottom-k(B)) == bottom-k(A ∪ B), for
    ARBITRARY overlapping key subsets A, B. Hashes come from the
    engine once (session fixture); the property itself is pure
    set arithmetic, so hundreds of examples are cheap."""
    from data_warehouse_project_spark.llm.sketches import KMV_K

    hashes = kmv_hash_universe
    a = {h for i, h in enumerate(hashes) if mask_a >> i & 1}
    b = {h for i, h in enumerate(hashes) if mask_b >> i & 1}
    sk_a = sorted(a)[:KMV_K]
    sk_b = sorted(b)[:KMV_K]
    merged = sorted(set(sk_a) | set(sk_b))[:KMV_K]
    direct = sorted(a | b)[:KMV_K]
    assert merged == direct


# ---------------------------------------------------------------------------
# allowed-lateness interval-join maintainer vs the Python model under
# ARBITRARY disorder
# ---------------------------------------------------------------------------

_ij_events = st.lists(
    st.tuples(st.integers(0, 3),          # user
              st.integers(0, 340),        # minute (< 6 h LATENESS)
              st.booleans()),             # click?
    min_size=0, max_size=24)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=_ij_events, mask=st.integers(0, 2**25 - 1))
def test_interval_join_any_split_matches_model(spark, events, mask):
    """With every event inside the lateness window, ANY bitmask
    two-batch split — late clicks under already-arrived purchases and
    vice versa — must serve exactly the Python full-recompute pair
    set for the 1 h window, with nothing dropped."""
    import datetime as dt

    from pyspark.sql import functions as F

    from data_warehouse_project_spark.streaming import interval_join as IJ

    rows = [(u, i, dt.datetime(2024, 1, 1, m // 60, m % 60),
             "click" if c else "purchase", float(i))
            for i, (u, m, c) in enumerate(events)]
    schema = ("user_id long, event_id long, ts timestamp, "
              "event_type string, value double")
    df = spark.createDataFrame(
        rows or [(0, 0, dt.datetime(2024, 1, 1), "click", 0.0)], schema)
    if not rows:
        df = df.filter(F.lit(False))
    pick = F.pmod(F.col("event_id") * 2654435761 + mask, 3) == 0
    first, second = df.filter(pick), df.filter(~pick)
    state = IJ.merge_interval_join_state(
        IJ.interval_join_state(first), second)
    got = {(r["user_id"], r["click_id"], r["purchase_id"])
           for r in IJ.state_to_matches(state).collect()}

    model = set()
    for ci, (cu, cm, cc) in enumerate(events):
        if not cc:
            continue
        for pi, (pu, pm, pc) in enumerate(events):
            if pc or pu != cu:
                continue
            if 0 <= pm - cm <= 60:
                model.add((cu, ci, pi))
    assert got == model, (events, mask)
    assert dropped_late_count(state) == 0


# ---------------------------------------------------------------------------
# Property tests for the round-8-window stats family: kw_fold and
# theilsen_fold vs plain-Python references over arbitrary small inputs
# (ties, absent groups, constants — the shapes hand fixtures miss)
# ---------------------------------------------------------------------------

_kw_rows = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 6)),
    min_size=1, max_size=30)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_kw_rows)
def test_kruskal_fold_matches_python_reference(spark, rows):
    from data_warehouse_project_spark.plans.rankcorr import (_PRIORITIES,
                                                             kw_fold)
    data = [(_PRIORITIES[g], v) for g, v in rows]
    r = kw_fold(
        spark.createDataFrame(data, "g string, v long"),
        _PRIORITIES).collect()[0]
    vals = [v for _, v in data]
    n = len(vals)
    # doubled midranks
    dr = {}
    for v in set(vals):
        below = sum(1 for u in vals if u < v)
        dr[v] = 2 * below + vals.count(v) + 1
    rg = {g: sum(dr[v] for gg, v in data if gg == g)
          for g in _PRIORITIES}
    ng = {g: sum(1 for gg, _ in data if gg == g) for g in _PRIORITIES}
    assert r["n"] == n
    for i, g in enumerate(_PRIORITIES):
        assert r[f"n_{i}"] == ng[g]
        assert r[f"r_{i}_d"] == rg[g]
    ties = {v: vals.count(v) for v in set(vals)}
    t = sum(c ** 3 - c for c in ties.values())
    assert r["tie_term"] == t
    h = (3.0 / (n * (n + 1))
         * sum(rg[g] ** 2 / ng[g] for g in _PRIORITIES if ng[g])
         - 3.0 * (n + 1))
    assert abs(r["h"] - h) < 1e-5
    if t == n ** 3 - n:                      # all values tied
        assert r["h_tie_corrected"] is None
        assert r["significant"] is None
    else:
        h_tc = h / (1 - t / (n ** 3 - n)) if n > 1 else h
        assert abs(r["h_tie_corrected"] - h_tc) < 1e-5


_ts_rows = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 8),
              st.integers(-1000, 1000)),
    min_size=1, max_size=20,
    unique_by=lambda r: (r[0], r[1]))


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_ts_rows)
def test_theilsen_fold_matches_python_reference(spark, rows):
    import math

    from data_warehouse_project_spark.plans.robust import (_TS_Q,
                                                           theilsen_fold)
    cells = spark.createDataFrame(
        [(f"g{g}", t, y) for g, t, y in rows], "grp string, t long, y long")
    got = {r["grp"]: r for r in theilsen_fold(cells, "grp").collect()}
    for g in {r[0] for r in rows}:
        pts = [(t, y) for gg, t, y in rows if gg == g]
        slopes = sorted(
            math.floor((y2 - y1) * _TS_Q / (t2 - t1))
            for i, (t1, y1) in enumerate(pts)
            for (t2, y2) in pts[i + 1:] if t2 != t1)
        key = f"g{g}"
        if not slopes:
            assert key not in got       # single-point group: no pairs
            continue
        n = len(slopes)
        # exact lower discrete median: smallest s with rank*2 >= n
        med = slopes[(n - 1) // 2]
        assert got[key]["n_pairs"] == n
        assert abs(got[key]["sen_slope"] - med / _TS_Q) < 1e-6


# ---------------------------------------------------------------------------
# TTL'd window maintainer under ARBITRARY bitmask splits, THREE folds
# (VERDICT r8 #9: extend the late-family bitmask sweep to the TTL
# maintainer — the r7-era sweep above splits on an event_id
# threshold; this one partitions by hashed bitmask into three batches
# folded sequentially, so mid-stream eviction + late revival of
# already-evicted windows both occur and must cancel by the
# monotonicity argument in streaming/ttl_window.py's docstring)
# ---------------------------------------------------------------------------

@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=_ttl_events, mask=st.integers(0, 2**25 - 1))
def test_ttl_window_any_bitmask_split_matches_model(spark, events, mask):
    """ANY three-batch bitmask partition of ANY event multiset, folded
    through window_state + merge_window_state twice, must serve
    exactly the Python full-recompute model (per-(hour,type)
    aggregates over the union, windows within TTL of the global max
    hour). Hour offsets span 0..120 > TTL_HOURS = 72, so draws
    routinely evict mid-stream and deliver late data into evicted
    windows; a surviving window must still carry COMPLETE aggregates."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import ttl_window as W

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    base = dt.datetime(2024, 1, 1, 0, 0)
    rows = [(e, base + dt.timedelta(hours=h), 1, et, c / 100.0)
            for e, h, et, c in events]
    df = spark.createDataFrame(
        rows or [(0, base, 1, "x", 0.0)], schema)
    if not rows:
        df = df.filter(F.lit(False))
    part = F.pmod(F.col("event_id") * 2654435761 + mask, 3)
    state = W.window_state(df.filter(part == 0))
    state = W.merge_window_state(state, df.filter(part == 1))
    state = W.merge_window_state(state, df.filter(part == 2))
    got = {(r["window_hour"], r["event_type"]):
           (r["n_events"], r["sum_value"])
           for r in W.state_to_report(state).collect()}

    model: dict = {}
    h0 = int(base.timestamp() // 3600)
    for _e, h, et, c in events:
        key = (h0 + h, et)
        n, s = model.get(key, (0, 0))
        model[key] = (n + 1, s + c)
    if model:
        hwm = max(h for h, _ in model)
        model = {k: v for k, v in model.items()
                 if k[0] > hwm - W.TTL_HOURS}
    want = {k: (n, round(s / 100.0, 2)) for k, (n, s) in model.items()}
    assert got == want, (events, mask)


# ---------------------------------------------------------------------------
# Mergeable-fold identity under ARBITRARY bitmask partitions (round 9):
# for every additive maintainer, build + merge over ANY three-batch
# partition of ANY input must equal the ONE-SHOT state built from the
# union — the algebraic property ("merge ∘ build = build ∘ union")
# every state-served = full-rescan oracle identity rests on. The
# registered queries exercise ONE fixed split (parity); these sweeps
# exercise the whole split space, Spark-vs-Spark, no model needed.
# ---------------------------------------------------------------------------

def _three_fold(df, keycol, mask, build, merge):
    part = F.pmod(F.col(keycol) * 2654435761 + mask, 3)
    state = build(df.filter(part == 0))
    state = merge(state, df.filter(part == 1))
    return merge(state, df.filter(part == 2))


def _rows(df):
    return sorted([tuple(r) for r in df.collect()], key=repr)


_fold_orders = st.lists(
    st.tuples(st.integers(0, 60), st.integers(0, 500),
              st.integers(0, 10**6)),
    min_size=0, max_size=25, unique_by=lambda r: r[0])


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(orders=_fold_orders, mask=st.integers(0, 2**25 - 1))
def test_cusum_fold_any_bitmask_split_equals_oneshot(spark, orders, mask):
    """CUSUM daily-sums state: any split (day offsets span 1995-1996,
    so late-day absorption occurs routinely) must yield the exact
    one-shot (day, cents) table — hence an identical served CUSUM
    trajectory, since serving is shared code over this table."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import cusum_state as C

    rows = [(k, dt.date(1995, 1, 1) + dt.timedelta(days=d), c / 100.0)
            for k, d, c in orders]
    df = spark.createDataFrame(
        rows or [(0, dt.date(1995, 1, 1), 0.0)],
        "o_orderkey long, o_orderdate date, o_totalprice double")
    if not rows:
        df = df.filter(F.lit(False))
    folded = _three_fold(df, "o_orderkey", mask,
                         C.cusum_state, C.merge_cusum_state)
    assert _rows(folded) == _rows(C.cusum_state(df)), (orders, mask)


_fold_events = st.lists(
    st.tuples(st.integers(0, 200), st.integers(0, 72),
              st.sampled_from(["x", "y"]), st.integers(0, 40000)),
    min_size=0, max_size=25, unique_by=lambda r: r[0])


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=_fold_events, mask=st.integers(0, 2**25 - 1))
def test_drift_fold_any_bitmask_split_equals_oneshot(spark, events, mask):
    """Fixed-spec drift histogram state: any split must yield the
    exact one-shot (day_idx, day, bin, n) cell table (value range
    0..400 spans several spec bins AND exceeds the clamp edge, so
    edge-bin clamping is exercised)."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import drift_state as D

    base = dt.datetime(2024, 1, 1, 0, 0)
    rows = [(e, base + dt.timedelta(hours=h), 1, et, c / 100.0)
            for e, h, et, c in events]
    df = spark.createDataFrame(
        rows or [(0, base, 1, "x", 0.0)],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double")
    if not rows:
        df = df.filter(F.lit(False))
    folded = _three_fold(df, "event_id", mask,
                         D.drift_state, D.merge_drift_state)
    assert _rows(folded) == _rows(D.drift_state(df)), (events, mask)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=_fold_events, mask=st.integers(0, 2**25 - 1))
def test_rollup_fold_any_bitmask_split_equals_oneshot(spark, events, mask):
    """Hourly rollup state (counts + scaled sums + HLL user sketches):
    any split's served report must equal the one-shot report — counts
    and sums are additive, and HLL register-max union is associative
    and commutative, so even the approx_users estimates must agree
    exactly (user_id varies so sketches are non-trivial)."""
    import datetime as dt

    from data_warehouse_project_spark.plans import incremental as I

    base = dt.datetime(2024, 1, 1, 0, 0)
    rows = [(e, base + dt.timedelta(hours=h), e % 7, et, c / 100.0)
            for e, h, et, c in events]
    df = spark.createDataFrame(
        rows or [(0, base, 1, "x", 0.0)],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double")
    if not rows:
        df = df.filter(F.lit(False))
    folded = _three_fold(df, "event_id", mask,
                         I.hourly_rollup_state, I.merge_hourly_state)
    assert (_rows(I.state_to_report(folded))
            == _rows(I.state_to_report(I.hourly_rollup_state(df)))), (
        events, mask)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=_fold_events, mask=st.integers(0, 2**25 - 1))
def test_distinct_users_fold_any_bitmask_split_equals_oneshot(
        spark, events, mask):
    """Per-(type, day) HLL distinct-user state: any split's estimates
    must equal the one-shot sketch of all history (the module's
    'bit-identical to sketching all at once' claim, swept)."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import distinct_users as U

    base = dt.datetime(2024, 1, 1, 0, 0)
    rows = [(e, base + dt.timedelta(hours=h), e % 11, et, c / 100.0)
            for e, h, et, c in events]
    df = spark.createDataFrame(
        rows or [(0, base, 1, "x", 0.0)],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double")
    if not rows:
        df = df.filter(F.lit(False))
    folded = _three_fold(df, "event_id", mask,
                         U.distinct_state, U.merge_distinct_state)
    assert (_rows(U.state_to_estimates(folded))
            == _rows(U.state_to_estimates(U.distinct_state(df)))), (
        events, mask)


# ---------------------------------------------------------------------------
# Connected components (llm/clusters.py) vs plain union-find
# ---------------------------------------------------------------------------


def _union_find_clusters(edges, nodes):
    """min-id cluster per node via textbook union-find."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), set()).add(n)
    return {n: min(members)
            for members in comp.values() for n in members}


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=st.lists(st.tuples(st.integers(1, 12), st.integers(1, 12)),
                      max_size=25),
       extra_nodes=st.sets(st.integers(1, 15), max_size=4))
def test_connected_components_matches_union_find(spark, edges,
                                                 extra_nodes):
    """Random graphs (self-loops, parallel edges, isolated nodes
    included) — the min-label-propagation loop (llm/clusters.py:33)
    must assign every node the minimum id reachable through the edge
    set, exactly as union-find does; isolated nodes keep their own
    id. Convergence must land inside MAX_ROUNDS (path graphs here
    have diameter < 15 < 20)."""
    from data_warehouse_project_spark.llm.clusters import (
        connected_components)
    nodes = sorted({n for e in edges for n in e} | extra_nodes)
    if not nodes:
        return
    edf = spark.createDataFrame(list(edges), "a long, b long") if edges \
        else spark.createDataFrame([], "a long, b long")
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    got = {r["node"]: r["cluster"]
           for r in connected_components(edf, ndf).collect()}
    assert got == _union_find_clusters(edges, nodes), (edges, nodes)


# ---------------------------------------------------------------------------
# CMS heavy hitters vs a full python replay (engine hashes pulled once)
# ---------------------------------------------------------------------------

@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_cms_heavy_hitters_match_python_replay(spark, tmp_path_factory,
                                               data):
    """The rows-only cms_heavy_hitters query, exactly replayed: the
    ONLY engine-defined ingredient is xxhash64(token, seed), pulled
    from the engine once per vocabulary token (the kmv_hash_universe
    pattern); bucketing, the d×w cell table, the top-K probe and the
    min-over-seeds estimate are recomputed in plain Python and must
    agree on EVERY output column and row. A 12-token vocabulary over
    w=2048 buckets keeps real collisions possible across the 4 seeds
    while the replay stays O(vocab)."""
    from collections import Counter

    from data_warehouse_project_spark.llm import sketches as S

    vocab = [f"tok{i}" for i in range(12)]
    docs = data.draw(st.lists(
        st.lists(st.sampled_from(vocab), min_size=1, max_size=12),
        min_size=1, max_size=8))

    tmp = tmp_path_factory.mktemp("cmsrep")
    rows = [(i, " ".join(ts), "en", "src", len(" ".join(ts)))
            for i, ts in enumerate(docs)]
    (spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
     .write.mode("overwrite").parquet(f"{tmp}/documents.parquet"))
    got = [(r["token"], r["n_exact"], r["n_est"], r["overestimate"])
           for r in S.cms_heavy_hitters(spark, str(tmp)).collect()]

    counts = Counter(t for ts in docs for t in ts)
    hrows = (spark.createDataFrame([(t,) for t in sorted(counts)],
                                   "token string")
             .select("token",
                     *[F.xxhash64(F.col("token"), F.lit(s)).alias(f"h{s}")
                       for s in range(S.CMS_D)])
             .collect())
    # python % matches Spark pmod for positive modulus on signed hashes
    bucket = {(r["token"], s): r[f"h{s}"] % S.CMS_W
              for r in hrows for s in range(S.CMS_D)}
    cells: dict = {}
    for t, n in counts.items():
        for s in range(S.CMS_D):
            key = (s, bucket[(t, s)])
            cells[key] = cells.get(key, 0) + n
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:S.CMS_TOP_K]
    expected = []
    for t, n in top:
        est = min(cells[(s, bucket[(t, s)])] for s in range(S.CMS_D))
        expected.append((t, n, est, est - n))
    assert got == expected


# ---------------------------------------------------------------------------
# MinHash+LSH pipeline vs a full python replay (engine hashes pulled once)
# ---------------------------------------------------------------------------

@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_minhash_lsh_matches_python_replay(spark, tmp_path_factory, data):
    """The rows-only dedup_minhash_lsh query, exactly replayed end to
    end: shingling, the 32-lane signature (min over per-seed rehash),
    8x4 banding, bucket grouping, in-bucket pair generation and the
    fround-quantized exact-Jaccard verification are all recomputed in
    plain Python; only the three xxhash64 evaluations (shingle
    string, (pre-hash, seed) lane, 4-lane band bucket) are pulled
    from the engine — with argument TYPES matching the plan exactly,
    since Spark's xxhash64 is type-sensitive. Near-dup pairs are
    planted by cloning drawn docs with a one-token tweak, so the
    threshold branch is exercised in both directions."""
    from data_warehouse_project_spark.llm import dedup as D
    from tests.helpers import minhash_replay

    vocab = [f"w{i}" for i in range(6)]
    base = data.draw(st.lists(
        st.lists(st.sampled_from(vocab), min_size=5, max_size=12),
        min_size=1, max_size=4))
    docs = list(base)
    for ts in base:
        if data.draw(st.booleans()):
            clone = list(ts)
            pos = data.draw(st.integers(0, len(clone) - 1))
            clone[pos] = data.draw(st.sampled_from(vocab))
            docs.append(clone)

    tmp = tmp_path_factory.mktemp("mhrep")
    rows = [(i, " ".join(ts), "en", "src", len(" ".join(ts)))
            for i, ts in enumerate(docs)]
    (spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
     .write.mode("overwrite").parquet(f"{tmp}/documents.parquet"))
    got = sorted((r["doc_a"], r["doc_b"], r["jaccard"])
                 for r in D.dedup_minhash_lsh(spark, str(tmp)).collect())

    _, _, expected = minhash_replay(spark, docs)
    assert got == expected


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_lsh_threshold_sweep_matches_python_replay(spark,
                                                   tmp_path_factory, data):
    """The rows-only lsh_threshold_sweep query, exactly replayed on
    top of the shared minhash_replay helper: per threshold, the
    1e6-quantized exact/estimate admission counts, their overlap and
    the fround-quantized precision/recall are recomputed in plain
    Python over the same verified-pair population and compared on
    every row."""
    import math

    from data_warehouse_project_spark.llm import dedup as D
    from tests.helpers import fround_half_up, minhash_replay

    vocab = [f"w{i}" for i in range(6)]
    base = data.draw(st.lists(
        st.lists(st.sampled_from(vocab), min_size=5, max_size=12),
        min_size=1, max_size=3))
    docs = list(base)
    for ts in base:
        if data.draw(st.booleans()):
            clone = list(ts)
            clone[data.draw(st.integers(0, len(clone) - 1))] = \
                data.draw(st.sampled_from(vocab))
            docs.append(clone)

    tmp = tmp_path_factory.mktemp("sweeprep")
    rows = [(i, " ".join(ts), "en", "src", len(" ".join(ts)))
            for i, ts in enumerate(docs)]
    (spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
     .write.mode("overwrite").parquet(f"{tmp}/documents.parquet"))
    got = [tuple(r) for r in
           D.lsh_threshold_sweep(spark, str(tmp)).collect()]

    _, sig, pairs = minhash_replay(spark, docs)
    scored = []
    for a, b, jac in pairs:
        agree = sum(1 for x, y in zip(sig[a], sig[b]) if x == y)
        est = agree / D.NUM_HASHES
        scored.append((int(math.floor(jac * 1e6 + 0.5)),
                       int(math.floor(est * 1e6 + 0.5))))
    expected = []
    for t in D.SWEEP_THRESHOLDS:
        q = int(t * 1e6)
        n_exact = sum(1 for jq, _ in scored if jq >= q)
        n_est = sum(1 for _, eq in scored if eq >= q)
        n_both = sum(1 for jq, eq in scored if jq >= q and eq >= q)
        expected.append((
            t, n_exact, n_est, n_both,
            fround_half_up(n_both / max(n_est, 1), 6),
            fround_half_up(n_both / max(n_exact, 1), 6)))
    assert got == expected


# ---------------------------------------------------------------------------
# SimHash pipeline vs a full python replay (engine hashes pulled once)
# ---------------------------------------------------------------------------

@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_simhash_matches_python_replay(spark, tmp_path_factory, data):
    """The rows-only dedup_simhash query, exactly replayed: token
    hashes pulled from the engine (xxhash64 over strings), then the
    64-lane multiplicity-weighted bit vote, the strict votes>0 sign,
    the 4x16-bit banding, bucket pair generation and the full-64-bit
    hamming verification recomputed in plain Python. Near-dups are
    planted by cloning docs with a one-token tweak; repeated tokens
    in a doc exercise the multiplicity weighting the Arrow kernel
    applies."""
    from data_warehouse_project_spark.llm import dedup as D

    vocab = [f"w{i}" for i in range(8)]
    base = data.draw(st.lists(
        st.lists(st.sampled_from(vocab), min_size=1, max_size=10),
        min_size=1, max_size=4))
    docs = list(base)
    for ts in base:
        if data.draw(st.booleans()):
            clone = list(ts)
            pos = data.draw(st.integers(0, len(clone) - 1))
            clone[pos] = data.draw(st.sampled_from(vocab))
            docs.append(clone)

    tmp = tmp_path_factory.mktemp("shrep")
    rows = [(i, " ".join(ts), "en", "src", len(" ".join(ts)))
            for i, ts in enumerate(docs)]
    (spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
     .write.mode("overwrite").parquet(f"{tmp}/documents.parquet"))
    got = sorted((r["doc_a"], r["doc_b"], r["hamming"])
                 for r in D.dedup_simhash(spark, str(tmp)).collect())

    # --- replay ---
    toks = sorted({t for ts in docs for t in ts})
    h = {r["t"]: r["h"] & ((1 << 64) - 1) for r in
         spark.createDataFrame([(t,) for t in toks], "t string")
         .selectExpr("t", "xxhash64(t) AS h").collect()}
    bands = {}
    for i, ts in enumerate(docs):
        votes = [0] * 64
        for t in ts:                      # multiplicity counts
            hv = h[t]
            for b in range(64):
                votes[b] += 1 if (hv >> b) & 1 else -1
        sig = [v > 0 for v in votes]
        bands[i] = [sum(1 << j for j in range(16) if sig[b * 16 + j])
                    for b in range(4)]
    buckets: dict = {}
    for i, bk in bands.items():
        for b in range(4):
            buckets.setdefault((b, bk[b]), []).append(i)
    expected = set()
    for ds in buckets.values():
        ds = sorted(set(ds))
        if 1 < len(ds) <= D.MAX_BUCKET:
            for ai, a in enumerate(ds):
                for b in ds[ai + 1:]:
                    ham = sum(bin(x ^ y).count("1")
                              for x, y in zip(bands[a], bands[b]))
                    if ham <= D.SIMHASH_HAMMING_MAX:
                        expected.add((a, b, ham))
    assert got == sorted(expected)


# ---------------------------------------------------------------------------
# KMV year-overlap report vs a full python replay (engine hashes pulled)
# ---------------------------------------------------------------------------

def test_kmv_customer_overlap_matches_python_replay(spark, sf_dir):
    """The rows-only kmv_customer_overlap query, exactly replayed on
    the real sf0.001 orders: the engine supplies only the distinct
    (year, xxhash64(custkey)) pairs; the bottom-k truncation (the
    salt level is a partition-size device — bottom-k per group is
    bottom-k regardless), the (k-1)/u_k estimator, the union
    re-truncation, the rho-hat intersection estimator and the HALF-UP
    long rounding are recomputed in plain Python with the same IEEE
    double dag and compared on every output column."""
    import math

    from data_warehouse_project_spark.llm import sketches as S
    from data_warehouse_project_spark.sources.catalog import Catalog

    got = [tuple(r) for r in S.kmv_customer_overlap(spark, sf_dir)
           .collect()]

    rows = (Catalog(spark, sf_dir).orders
            .select(F.year("o_orderdate").alias("y"),
                    F.xxhash64(F.col("o_custkey").cast("string"))
                    .alias("h"))
            .distinct().collect())
    years: dict = {}
    for r in rows:
        years.setdefault(r["y"], set()).add(r["h"])
    k = S.KMV_K

    def u(h):
        return (float(h) + (float(2 ** 63) + 2048.0)) / float(2 ** 64)

    def est_of(hs):
        kk = min(k, len(hs))
        return (float(kk) if len(hs) < k
                else float(k - 1) / u(sorted(hs)[k - 1]))

    def half_up(x):
        return int(math.floor(x + 0.5))

    sketch = {y: set(sorted(hs)[:k]) for y, hs in years.items()}
    expected = []
    for p in sorted(years):
        if p + 1 not in years:
            continue
        merged = sorted(sketch[p] | sketch[p + 1])[:k]
        kk = len(merged)
        n_both = sum(1 for h in merged
                     if h in sketch[p] and h in sketch[p + 1])
        est_union = (float(kk) if kk < k
                     else float(k - 1) / u(merged[k - 1]))
        est_inter = n_both / kk * est_union
        expected.append((
            p, p + 1,
            half_up(est_of(years[p])), half_up(est_of(years[p + 1])),
            half_up(est_union), half_up(est_inter),
            half_up(n_both / kk * 1e6)))
    assert got == expected and len(expected) >= 5


# ---------------------------------------------------------------------------
# CMS join-size estimators vs full python replays on real sf0.001 data
# ---------------------------------------------------------------------------

def test_join_size_estimates_match_python_replay(spark, sf_dir):
    """The rows-only join_size_estimate and equijoin_size_estimate
    queries, exactly replayed: raw key columns are collected and
    counted in Python, the engine supplies only xxhash64(token, seed)
    per distinct key, and the d x w cell tables, per-seed inner
    products, min-over-seeds estimates and exact join sizes are all
    integer arithmetic recomputed in Python and compared on every
    output column."""
    from collections import Counter

    from data_warehouse_project_spark.llm import sketches as S
    from data_warehouse_project_spark.sources.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    oc = Counter(str(r["o_custkey"])
                 for r in cat.orders.select("o_custkey").collect())
    ec = Counter(str(r["user_id"])
                 for r in cat.events.select("user_id").collect())

    toks = sorted(set(oc) | set(ec))
    hr = (spark.createDataFrame([(t,) for t in toks], "token string")
          .selectExpr("token",
                      *[f"pmod(xxhash64(token, {s}), {S.CMS_W}) AS b{s}"
                        for s in range(S.CMS_D)])
          .collect())
    bucket = {(r["token"], s): r[f"b{s}"] for r in hr
              for s in range(S.CMS_D)}

    def cells(counts):
        out: dict = {}
        for t, n in counts.items():
            for s in range(S.CMS_D):
                key = (s, bucket[(t, s)])
                out[key] = out.get(key, 0) + n
        return out

    co, ce = cells(oc), cells(ec)

    # self-join on o_custkey
    est_self = min(sum(v * v for (s2, _), v in co.items() if s2 == s)
                   for s in range(S.CMS_D))
    exact_self = sum(n * n for n in oc.values())
    got = S.join_size_estimate(spark, sf_dir).collect()[0]
    assert tuple(got) == (sum(oc.values()), len(oc), exact_self,
                          est_self, est_self - exact_self)

    # two-relation orders x events on custkey = user_id
    est_eq = min(sum(co[key] * ce[key]
                     for key in co.keys() & ce.keys() if key[0] == s)
                 for s in range(S.CMS_D))
    exact_eq = sum(oc[t] * ec[t] for t in oc.keys() & ec.keys())
    got2 = S.equijoin_size_estimate(spark, sf_dir).collect()[0]
    assert tuple(got2) == (sum(oc.values()), sum(ec.values()),
                           exact_eq, est_eq, est_eq - exact_eq)
