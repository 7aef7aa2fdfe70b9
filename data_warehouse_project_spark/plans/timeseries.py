"""Exact time-series smoothing over the event stream — a trailing
12-hour dyadic-weighted moving average (WMA) per event type on the
dense hour spine, with an integer-exact spike flag comparing each
hour to its trailing baseline.

The reference has no time-series surface (its `events` table is CRUD
rows, `app.py` renders lists); this extends the §2.11 analytics family
next to `events_anomaly_mad` (robust level) and `events_gap_report`
(missing rows). The WMA is the *trend* detector between those two: a
deterministic short-horizon baseline each hour is compared against.
The baseline is strictly TRAILING (lags 1..12, current hour excluded)
— the standard anomaly formulation, and the one where a spike can
actually exceed its own baseline.

Determinism design (why this exact formulation): an EWMA's infinite
recursion is FP-order-sensitive across engines, so we truncate to a
12-lag window with DYADIC weights w_j = 2^(12-j) for lag j — every
term x_{t-j} * 2^(12-j) is an exact BIGINT, the numerator is an
order-independent integer sum, and the single final division
num / 4095.0 is one IEEE-correctly-rounded op both engines agree on
bit-for-bit (unlike transcendental-fed pipelines — see
functions/compat.py's policy note). The spike test is pure integer
arithmetic (x_t * 4095 > 2 * num), so the boolean can never flip on
rounding.

Scale design (100 TB): the corpus is reduced to (event_type, hour)
counts FIRST — one map-side-combined aggregation, the only shuffle
that sees raw events. The dense spine (sequence() over a one-row
min/max aggregate × the tiny type dim, same shape as
plans/audits.events_gap_report) and the 12 LAGs run over that bounded
hourly aggregate: the window partition is per-type hours (~10^4 rows
per year-type), never the corpus. Missing hours are zero-filled by
the spine so LAG distances are true wall-clock hours, not
"previous observed row".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compat import fround, sql_fround
from ..operators.windows import disc_quantiles
from ..registry import register
from ..sources.catalog import Catalog

#: trailing lags in the moving average (hours t-1 .. t-12).
WMA_LAGS = 12

#: sum of dyadic weights 2^0 .. 2^11 — the exact integer denominator.
WMA_DENOM = (1 << WMA_LAGS) - 1  # 4095


def dense_from_hourly(hourly: DataFrame) -> DataFrame:
    """Zero-fill an (event_type, h, x) hourly frame onto the dense
    global hour spine (spine bounds = the frame's own min/max hour —
    identical to the raw-events bounds since date_trunc commutes
    with min/max). Shared by the events-scan path and the
    rollup-state-served path."""
    spine = (hourly
             .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
             .select(F.explode(F.expr(
                 "sequence(lo, hi, interval 1 hour)")).alias("h")))
    types = hourly.select("event_type").distinct()
    expected = spine.join(F.broadcast(types))
    return (expected.join(hourly, ["event_type", "h"], "left")
            .select("event_type", "h",
                    F.coalesce("x", F.lit(0)).cast("long").alias("x")))


def hourly_dense_counts(events: DataFrame) -> DataFrame:
    """(event_type, h, x): per-type event counts on the dense global
    hour spine, zero-filled where a type had no events that hour."""
    hourly = (events
              .select(F.date_trunc("hour", F.col("ts")).alias("h"),
                      "event_type")
              .groupBy("event_type", "h")
              .agg(F.count("*").cast("long").alias("x")))
    return dense_from_hourly(hourly)


def wma_hourly(events: DataFrame) -> DataFrame:
    """Trailing 12-hour dyadic WMA per (event_type, hour) + spike flag.

    Rows start at the 13th spine hour of each type (all 12 trailing
    lags present, so the weight denominator is the constant 4095 and
    no partial-window estimate ever mixes into the baseline).
    """
    return wma_from_dense(hourly_dense_counts(events))


def wma_from_dense(dense: DataFrame) -> DataFrame:
    """The WMA detector half over ANY dense (event_type, h, x) frame
    — fed by the events scan (wma_hourly) or the maintained rollup
    state (plans/incremental.wma_from_rollup_state)."""
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = dense.select(
        "event_type", "h", "x",
        F.row_number().over(w).alias("rn"),
        *[F.lag("x", j).over(w).alias(f"x{j}")
          for j in range(1, WMA_LAGS + 1)],
    ).filter(F.col("rn") >= WMA_LAGS + 1)
    # integer numerator: x1*2^11 + x2*2^10 + ... + x12*2^0 (exact).
    num = F.col("x1") * F.lit(1 << (WMA_LAGS - 1))
    for j in range(2, WMA_LAGS + 1):
        num = num + F.col(f"x{j}") * F.lit(1 << (WMA_LAGS - j))
    return (lagged
            .withColumn("wma_num", num.cast("long"))
            .select(
                "event_type", "h",
                F.col("x").alias("n_events"),
                fround(F.col("wma_num") / F.lit(float(WMA_DENOM)), 6)
                .alias("wma"),
                (F.col("x") * WMA_DENOM > 2 * F.col("wma_num"))
                .alias("is_spike"),
            )
            .orderBy("event_type", "h"))


def events_wma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event volume vs its trailing 12-hour dyadic-WMA baseline."""
    cat = Catalog(spark, sf_dir)
    return wma_hourly(cat.events)


_LAG_TERMS_SQL = " + ".join(
    f"LAG(x, {j}) OVER w * {1 << (WMA_LAGS - j)}"
    for j in range(1, WMA_LAGS + 1))

EVENTS_WMA_SQL = f"""
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS h,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1, 2
),
spine AS (
    SELECT UNNEST(generate_series((SELECT MIN(date_trunc('hour', ts))
                                   FROM events),
                                  (SELECT MAX(date_trunc('hour', ts))
                                   FROM events),
                                  INTERVAL 1 HOUR)) AS h
),
types AS (SELECT DISTINCT event_type FROM events),
dense AS (
    SELECT t.event_type, s.h, COALESCE(o.x, 0) AS x
    FROM spine s CROSS JOIN types t
    LEFT JOIN hourly o ON o.event_type = t.event_type AND o.h = s.h
),
lagged AS (
    SELECT event_type, h, x,
           ROW_NUMBER() OVER w AS rn,
           CAST({_LAG_TERMS_SQL} AS BIGINT) AS wma_num
    FROM dense
    WINDOW w AS (PARTITION BY event_type ORDER BY h)
)
SELECT event_type, h,
       CAST(x AS BIGINT) AS n_events,
       {sql_fround(f'wma_num / {float(WMA_DENOM)}', 6)} AS wma,
       (x * {WMA_DENOM} > 2 * wma_num) AS is_spike
FROM lagged
WHERE rn >= {WMA_LAGS + 1}
ORDER BY event_type, h
"""

register("events_wma_hourly", events_wma_hourly, EVENTS_WMA_SQL)


# --------------------------------------------------------------------------
# Seasonal (hour-of-week) median baseline
# --------------------------------------------------------------------------

def seasonal_baseline(events: DataFrame) -> DataFrame:
    """Per-hour event volume vs its SEASONAL baseline — the exact
    discrete median of the same hour-of-week across all observed
    weeks. Completes the anomaly triad: events_anomaly_mad (global
    level), wma_hourly (trailing trend), and this (weekly shape) —
    a Monday-9am spike is judged against Monday-9am history, not
    against 3am hours.

    Hour-of-week is epoch-hours mod 168 — pure integer arithmetic,
    engine-neutral (dayofweek() numbering differs across engines and
    never enters the plan). Medians use the quantile_disc rank rule
    (rank ceil(n/2) in sorted order) from events_anomaly_mad, exact
    on integer counts. Zero-filled spine hours join the sample like
    any other — a silent week-long outage drags its hours' baselines
    down instead of vanishing from them.

    Scale: everything after the first map-side-combined hourly count
    runs on the (hours × types) aggregate; the median window
    partitions it ~168-ways per type. Output is one row per spine
    hour per type with the baseline and an integer-exact spike flag
    (n > 2·max(med, 1) — the greatest() guard for hyper-stable keys,
    same rationale as the MAD detector's).
    """
    return seasonal_from_dense(hourly_dense_counts(events))


def seasonal_from_dense(dense: DataFrame) -> DataFrame:
    """The seasonal-median detector half over ANY dense frame (same
    dual feeding as wma_from_dense)."""
    keyed = dense.withColumn(
        "how", (F.floor(F.unix_timestamp("h") / 3600) % 168)
        .cast("long"))
    w = Window.partitionBy("event_type", "how").orderBy("x", "h")
    ranked = keyed.select(
        "event_type", "how", "x",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(
            Window.partitionBy("event_type", "how")).alias("c"))
    med = (ranked.filter(F.col("rn") >= F.ceil(F.col("c") / 2))
           .groupBy("event_type", "how")
           .agg(F.min("x").cast("long").alias("seasonal_med")))
    return (keyed.join(med, ["event_type", "how"])
            .select("event_type", "h",
                    F.col("x").alias("n_events"),
                    "seasonal_med",
                    (F.col("x") > 2 * F.greatest(F.col("seasonal_med"),
                                                 F.lit(1)))
                    .alias("is_spike"))
            .orderBy("event_type", "h"))


def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event volume vs its hour-of-week median baseline."""
    cat = Catalog(spark, sf_dir)
    return seasonal_baseline(cat.events)


EVENTS_SEASONAL_SQL = """
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS h,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1, 2
),
spine AS (
    SELECT UNNEST(generate_series((SELECT MIN(date_trunc('hour', ts))
                                   FROM events),
                                  (SELECT MAX(date_trunc('hour', ts))
                                   FROM events),
                                  INTERVAL 1 HOUR)) AS h
),
types AS (SELECT DISTINCT event_type FROM events),
dense AS (
    SELECT t.event_type, s.h, COALESCE(o.x, 0) AS x,
           CAST(FLOOR(date_part('epoch', s.h) / 3600) AS BIGINT) % 168
               AS how
    FROM spine s CROSS JOIN types t
    LEFT JOIN hourly o ON o.event_type = t.event_type AND o.h = s.h
),
ranked AS (
    SELECT event_type, how, x,
           ROW_NUMBER() OVER (PARTITION BY event_type, how
                              ORDER BY x, h) AS rn,
           COUNT(*) OVER (PARTITION BY event_type, how) AS c
    FROM dense
),
med AS (
    SELECT event_type, how, CAST(MIN(x) AS BIGINT) AS seasonal_med
    FROM ranked WHERE rn >= CEIL(c / 2.0)
    GROUP BY 1, 2
)
SELECT d.event_type, d.h, CAST(d.x AS BIGINT) AS n_events,
       m.seasonal_med,
       (d.x > 2 * GREATEST(m.seasonal_med, 1)) AS is_spike
FROM dense d JOIN med m ON d.event_type = m.event_type AND d.how = m.how
ORDER BY d.event_type, d.h
"""

register("events_seasonal_baseline", events_seasonal_baseline,
         EVENTS_SEASONAL_SQL)


# --------------------------------------------------------------------------
# Linear revenue trend (OLS over the daily aggregate) + projection
# --------------------------------------------------------------------------

def orders_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row OLS fit of daily order revenue vs day index, with a
    7-day forward projection — the capacity-planning forecast next to
    monthly_revenue_growth's period-over-period LAG (that one reads
    history; this one extrapolates it).

    Determinism (the doc_zipf_fit OLS discipline, but with NO
    transcendentals at all): x = integer day index, y = exact revenue
    cents, so n, Σx, Σy, Σxy, Σx² are all order-independent BIGINT
    sums; slope and intercept are single IEEE divisions of identical
    integer operands — bit-identical across engines. Overflow bound:
    ΣxΣy stays < 2^63 while days·max_daily_cents < ~1.3e14 (three
    orders of magnitude above this corpus at sf0.1); a 100 TB
    deployment rescales y to whole dollars before fitting.

    Scale: ONE map-side-combined groupBy reduces the fact to ≤
    calendar-days rows; every moment is aggregated from that bounded
    frame; min-day attaches as a broadcast one-row scalar.
    """
    cat = Catalog(spark, sf_dir)
    daily = (cat.orders
             .groupBy(F.date_trunc("day", F.col("o_orderdate"))
                      .alias("day"))
             .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                        .cast("long")).alias("cents")))
    d0 = daily.agg(F.min("day").alias("d0"))
    m = (daily.join(d0)
         .select(F.datediff("day", "d0").cast("long").alias("x"), "cents")
         .agg(F.count("*").cast("long").alias("n"),
              F.sum("x").cast("long").alias("sx"),
              F.max("x").cast("long").alias("mx"),
              F.sum("cents").cast("long").alias("sy"),
              F.sum(F.col("x") * F.col("cents")).cast("long").alias("sxy"),
              F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx")))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    denom = d("n") * d("sxx") - d("sx") * d("sx")
    # single-populated-day guard: the OLS denominator is 0 when only
    # one distinct day exists — fall back to slope 0 / intercept =
    # mean instead of an all-NaN forecast
    slope = F.when(denom == 0, F.lit(0.0)).otherwise(
        (d("n") * d("sxy") - d("sx") * d("sy")) / denom)
    intercept = (d("sy") - slope * d("sx")) / d("n")
    # 7-day projection over the days AFTER the last observed index mx
    # (NOT after the populated-day count n — gap days keep their x
    # index, so n < mx on sparse series and an n-based window lands
    # inside history): sum_{d=mx+1..mx+7} (a + b d) = 7a + b(7mx + 28)
    proj = 7 * intercept + slope * (7 * d("mx") + F.lit(28.0))
    return m.select(
        F.col("n").alias("n_days"),
        fround(slope, 4).alias("slope_cents_per_day"),
        fround(intercept, 4).alias("intercept_cents"),
        fround(proj, 4).alias("next_7d_cents"))


REVENUE_TREND_SQL = """
WITH daily AS (
    SELECT date_trunc('day', o_orderdate) AS day,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY 1
),
idx AS (
    SELECT CAST(date_diff('day', (SELECT MIN(day) FROM daily), day)
                AS BIGINT) AS x, cents
    FROM daily
),
m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(MAX(x) AS BIGINT) AS mx,
           CAST(SUM(cents) AS BIGINT) AS sy,
           CAST(SUM(x * cents) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM idx
)
SELECT n AS n_days,
       {slope} AS slope_cents_per_day,
       {intercept} AS intercept_cents,
       {proj} AS next_7d_cents
FROM (
    SELECT n, sx, mx, sy, sxy, sxx,
           CASE WHEN CAST(n AS DOUBLE) * sxx
                     - CAST(sx AS DOUBLE) * sx = 0 THEN 0.0
                ELSE (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * sx) END AS b
    FROM m
)
""".format(
    slope=sql_fround("b", 4),
    intercept=sql_fround(
        "(CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)",
        4),
    proj=sql_fround(
        "7 * ((CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE))"
        " / CAST(n AS DOUBLE)) + b * (7 * CAST(mx AS DOUBLE) + 28.0)", 4))

register("orders_revenue_trend", orders_revenue_trend, REVENUE_TREND_SQL)


# --------------------------------------------------------------------------
# Event-time disorder (watermark sizing report)
# --------------------------------------------------------------------------

#: simulated ingest shards: a real feed carries (kafka partition,
#: offset); the synthetic feed has only a global event_id, so shard
#: = event_id % N stands in for the partition key. Lateness is
#: measured against the SHARD's high-watermark — exactly the
#: granularity Structured Streaming tracks event-time progress at.
DISORDER_SHARDS = 16


def events_disorder_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How out-of-order is the event feed? For every event, lateness
    = (highest event-time already seen on its ingest shard at its
    arrival) − (its own event-time), arrival order = event_id within
    shard event_id % DISORDER_SHARDS. One row per event type with
    the late-event count and the exact discrete p50/p95/max lateness
    in seconds — THE empirical input for choosing the streaming
    jobs' watermark (`withWatermark` holds state for max expected
    lateness: too small drops these events, too large bloats state;
    streaming/jobs.py currently uses fixed literals).

    Finding on the driver feed (recorded, not a bug): the synthetic
    events arrive perfectly event-time-ordered, so every lateness is
    0 and the report certifies an in-order feed — the planted-
    disorder unit test (tests/test_graph_timeseries.py) keeps the
    measurement path non-vacuous, the dedup_embedding_cosine_planted
    discipline.

    Exactness: lateness is integer seconds from a running MAX window
    (order-independent given the per-shard (event_id) arrival
    order); p50/p95 are `operators.windows.disc_quantiles` per type.

    Scale: the running-max window partitions by shard (a real feed's
    kafka partition — hundreds of ways parallel, never a global
    sort); everything downstream is histogram-sized.
    """
    cat = Catalog(spark, sf_dir)
    w = (Window.partitionBy("shard").orderBy("event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    late = (cat.events
            .select("event_id", "event_type",
                    (F.col("event_id") % DISORDER_SHARDS).alias("shard"),
                    F.unix_timestamp("ts").alias("sec"))
            .withColumn("hwm", F.max("sec").over(w))
            .select("event_type",
                    F.greatest(F.coalesce(F.col("hwm") - F.col("sec"),
                                          F.lit(0)), F.lit(0))
                    .cast("long").alias("late_s")))
    agg = (late.groupBy("event_type")
           .agg(F.count("*").cast("long").alias("n_events"),
                F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0))
                .cast("long").alias("n_late"),
                F.max("late_s").cast("long").alias("max_late_s")))
    qs = disc_quantiles(late, ["event_type"], "late_s",
                        {"p50_late_s": (1, 2), "p95_late_s": (19, 20)})
    return (agg.join(qs, "event_type")
            .select("event_type", "n_events", "n_late",
                    "p50_late_s", "p95_late_s", "max_late_s")
            .orderBy("event_type"))


EVENTS_DISORDER_SQL = f"""
WITH late AS (
    -- FLOOR(epoch()) before any arithmetic: DuckDB's epoch() is a
    -- fractional-second DOUBLE while Spark's unix_timestamp()
    -- truncates, and CAST(double AS BIGINT) rounds-to-nearest — on
    -- sub-second disorder the engines would otherwise disagree by 1 s
    SELECT event_type,
           GREATEST(COALESCE(
               MAX(CAST(FLOOR(epoch(ts)) AS BIGINT))
                   OVER (PARTITION BY event_id % {DISORDER_SHARDS}
                         ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING)
               - CAST(FLOOR(epoch(ts)) AS BIGINT), 0), 0) AS late_s
    FROM events
),
hist AS (
    SELECT event_type, late_s, CAST(COUNT(*) AS BIGINT) AS c
    FROM late GROUP BY 1, 2
),
ranked AS (
    SELECT event_type, late_s, c,
           SUM(c) OVER (PARTITION BY event_type ORDER BY late_s
                        ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(c) OVER (PARTITION BY event_type) AS n
    FROM hist
),
p50 AS (
    SELECT event_type, CAST(MIN(late_s) AS BIGINT) AS p50_late_s
    FROM ranked WHERE cum * 2 >= n GROUP BY 1
),
p95 AS (
    SELECT event_type, CAST(MIN(late_s) AS BIGINT) AS p95_late_s
    FROM ranked WHERE cum * 20 >= n * 19 GROUP BY 1
),
agg AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           CAST(MAX(late_s) AS BIGINT) AS max_late_s
    FROM late GROUP BY 1
)
SELECT a.event_type, a.n_events, a.n_late,
       p50.p50_late_s, p95.p95_late_s, a.max_late_s
FROM agg a
JOIN p50 ON a.event_type = p50.event_type
JOIN p95 ON a.event_type = p95.event_type
ORDER BY a.event_type
"""

register("events_disorder_report", events_disorder_report,
         EVENTS_DISORDER_SQL)


# --------------------------------------------------------------------------
# Event-type mix drift (month-over-month share deltas)
# --------------------------------------------------------------------------

def events_type_mix_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month event-type mix: each type's share of the
    month's volume and its delta vs the previous month — the
    composition-drift monitor (a rising error share or collapsing
    purchase share moves the MIX before it moves any single-type
    anomaly detector; the categorical complement of
    source_length_kl's numeric-distribution drift).

    Exactness: shares are single IEEE divides of exact month/type
    counts, fround-quantized BEFORE the LAG so the delta subtracts
    two already-quantized doubles — identical in both engines. The
    LAG window runs over the (months × types) aggregate only.
    """
    cat = Catalog(spark, sf_dir)
    per = (cat.events
           .groupBy(F.date_trunc("month", F.col("ts")).alias("month"),
                    "event_type")
           .agg(F.count("*").cast("long").alias("n_events")))
    tot = per.groupBy("month").agg(F.sum("n_events").alias("n_month"))
    shared = (per.join(tot, "month")
              .select("month", "event_type", "n_events",
                      fround(F.col("n_events") / F.col("n_month"), 6)
                      .alias("share")))
    w = Window.partitionBy("event_type").orderBy("month")
    return (shared
            .withColumn("prev_share", F.lag("share").over(w))
            .select("month", "event_type", "n_events", "share",
                    fround(F.col("share")
                           - F.coalesce("prev_share", F.col("share")), 6)
                    .alias("share_delta"))
            .orderBy("month", "event_type"))


EVENTS_TYPE_MIX_SQL = """
WITH per AS (
    SELECT date_trunc('month', ts) AS month, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
),
tot AS (
    SELECT month, SUM(n_events) AS n_month FROM per GROUP BY 1
),
shared AS (
    SELECT p.month, p.event_type, p.n_events,
           (FLOOR((p.n_events / CAST(t.n_month AS DOUBLE)) * 1000000.0
                  + 0.5) / 1000000.0) AS share
    FROM per p JOIN tot t ON p.month = t.month
)
SELECT month, event_type, n_events, share,
       (FLOOR((share - COALESCE(LAG(share) OVER w, share)) * 1000000.0
              + 0.5) / 1000000.0) AS share_delta
FROM shared
WINDOW w AS (PARTITION BY event_type ORDER BY month)
ORDER BY month, event_type
"""

register("events_type_mix_monthly", events_type_mix_monthly,
         EVENTS_TYPE_MIX_SQL)
