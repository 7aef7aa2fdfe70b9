"""Distribution-drift monitoring — the data-quality watchdog every
production training-data / warehouse pipeline runs beside ingestion
(reference scope: the portal's tables are append-mostly, so "did this
month's data change shape?" is the natural companion audit to
`plans/audits.py`; drift detection itself is standard practice — PSI /
TVD monitoring as in the dataset-shift literature, e.g. Rabanser et al.
"Failing Loudly", NeurIPS 2019).

One operator per monitoring shape (plus the cusum_identity_floor
cross-derivation gate):

* ``orders_price_drift`` — two-cohort numeric drift: fixed-width
  integer histogram of a money column, early vs late cohort, with
  per-bin total-variation and chi-square contributions.
* ``events_type_mix_weekly_drift`` — categorical mix drift
  week-over-week with a per-week TVD rollup (the "did the event mix
  shift?" alarm panel).
* ``events_value_drift_daily`` — rolling detector: each day's value
  histogram against the trailing-7-day baseline, per-day TVD and a
  threshold alarm — the batch twin of what a streaming monitor would
  maintain incrementally.
* ``orders_revenue_cusum`` — sequential mean-shift detector (one-sided
  upper CUSUM, Page 1954) over daily revenue vs a baseline-year mean,
  expressed as two stock window functions via the prefix-min identity.

Cross-engine determinism: every continuous value is first recovered
as an exact integer (cents / value-hundredths), so bin assignment is
pure integer arithmetic (``DIV`` / ``//``); fractions are single IEEE
divisions on identical long operands (correctly rounded per IEEE-754
in both engines — only libm transcendentals carry cross-engine risk,
compat.py policy), and every sum over double terms quantizes to a
long first (order-independent, compat.py hazard #1).

Scale design (100 TB): each operator is one linear scan that
collapses map-side to a bounded frame — bins (16), week x type
(weeks x 5), or day x bin (days x 16) — before any shuffle; the
global min/max bounds pass is a second linear scan collapsing to one
row (a production run folds it into ingestion footer stats). All
post-scan work is on monitoring-cardinality frames that never grow
with the corpus, only with the calendar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog

#: histogram bins for the numeric-drift operators
_BINS = 16

#: early/late cohort cutoff for the two-cohort order-price drift
_CUTOFF = "1998-01-01"

#: rolling-detector alarm threshold on per-day TVD
_ALARM_TVD = 0.08

#: quantization scale for summing double-valued drift terms
_TQ = 1e9


def cohort_drift(c: DataFrame) -> DataFrame:
    """Core of the two-cohort numeric drift report. ``c`` must have
    columns (cents: long, early: boolean); returns the per-bin report
    (see orders_price_drift). Factored out so planted unit tests can
    drive it with hand-computable frames."""
    bounds = c.agg(
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
    ).withColumn(
        "width",
        F.ceil((F.col("mx") - F.col("mn") + F.lit(1)).cast("double")
               / F.lit(float(_BINS))).cast("long"),
    )
    binned = (
        c.crossJoin(bounds)
        .select(F.expr("(cents - mn) DIV width").alias("bin"),
                "early", "mn", "width")
        .groupBy("bin", "mn", "width")
        .agg(F.sum(F.when(F.col("early"), 1).otherwise(0))
             .cast("long").alias("n_early"),
             F.sum(F.when(F.col("early"), 0).otherwise(1))
             .cast("long").alias("n_late"))
    )
    w = Window.partitionBy()
    t = (
        binned
        .withColumn("tot_early", F.sum("n_early").over(w))
        .withColumn("tot_late", F.sum("n_late").over(w))
    )
    # an entirely-empty cohort (all rows early or all late) would
    # divide by zero — NULL fractions/terms then, not NaN (the
    # ADVICE-r7 degenerate-input convention; observed bins always
    # have n_early + n_late >= 1, so pooled needs no guard)
    p = F.when(F.col("tot_early") > 0,
               F.col("n_early").cast("double")
               / F.col("tot_early").cast("double"))
    q = F.when(F.col("tot_late") > 0,
               F.col("n_late").cast("double")
               / F.col("tot_late").cast("double"))
    pooled = ((F.col("n_early") + F.col("n_late")).cast("double")
              / (F.col("tot_early") + F.col("tot_late")).cast("double"))
    return (
        t.select(
            F.col("bin").cast("long").alias("bin"),
            fround((F.col("mn") + F.col("bin") * F.col("width"))
                   .cast("double") / F.lit(100.0), 2).alias("lo"),
            fround((F.col("mn") + (F.col("bin") + 1) * F.col("width"))
                   .cast("double") / F.lit(100.0), 2).alias("hi"),
            "n_early", "n_late",
            fround(p, 9).alias("frac_early"),
            fround(q, 9).alias("frac_late"),
            fround(F.abs(p - q) / F.lit(2.0), 9).alias("tvd_term"),
            fround((p - q) * (p - q) / pooled, 9).alias("chi2_term"),
        )
        .orderBy("bin")
    )


def orders_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin drift report for o_totalprice, early (< 1998) vs late
    cohort: counts, fractions, |p-q|/2 TVD contribution and the
    chi-square contribution under the pooled expectation. The global
    TVD is the sum of ``tvd_term`` (each term already quantized-safe:
    callers sum the rounded column)."""
    cat = Catalog(spark, sf_dir)
    return cohort_drift(cat.orders.select(
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long").alias("cents"),
        (F.col("o_orderdate") < F.lit(_CUTOFF).cast("timestamp"))
        .alias("early"),
    ))


ORDERS_PRICE_DRIFT_SQL = f"""
WITH c AS (
    SELECT CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
           (o_orderdate < TIMESTAMP '{_CUTOFF}') AS early
    FROM orders
),
b AS (
    SELECT MIN(cents) AS mn, MAX(cents) AS mx,
           CAST(CEIL(CAST(MAX(cents) - MIN(cents) + 1 AS DOUBLE)
                     / {float(_BINS)}) AS BIGINT) AS width
    FROM c
),
binned AS (
    SELECT (c.cents - b.mn) // b.width AS bin, b.mn, b.width,
           CAST(SUM(CASE WHEN c.early THEN 1 ELSE 0 END) AS BIGINT)
               AS n_early,
           CAST(SUM(CASE WHEN c.early THEN 0 ELSE 1 END) AS BIGINT)
               AS n_late
    FROM c CROSS JOIN b
    GROUP BY 1, 2, 3
),
t AS (
    SELECT *, SUM(n_early) OVER () AS tot_early,
              SUM(n_late) OVER () AS tot_late
    FROM binned
)
SELECT CAST(bin AS BIGINT) AS bin,
       {sql_fround('CAST(mn + bin * width AS DOUBLE) / 100.0', 2)} AS lo,
       {sql_fround('CAST(mn + (bin + 1) * width AS DOUBLE) / 100.0', 2)}
           AS hi,
       n_early, n_late,
       {sql_fround('CASE WHEN tot_early > 0 THEN'
                   ' CAST(n_early AS DOUBLE) / CAST(tot_early AS DOUBLE)'
                   ' END', 9)}
           AS frac_early,
       {sql_fround('CASE WHEN tot_late > 0 THEN'
                   ' CAST(n_late AS DOUBLE) / CAST(tot_late AS DOUBLE)'
                   ' END', 9)}
           AS frac_late,
       {sql_fround('ABS(CASE WHEN tot_early > 0 THEN'
                   ' CAST(n_early AS DOUBLE) / CAST(tot_early AS DOUBLE) END'
                   ' - CASE WHEN tot_late > 0 THEN'
                   ' CAST(n_late AS DOUBLE) / CAST(tot_late AS DOUBLE) END)'
                   ' / 2.0', 9)} AS tvd_term,
       {sql_fround(
           '(CASE WHEN tot_early > 0 THEN'
           ' CAST(n_early AS DOUBLE) / CAST(tot_early AS DOUBLE) END'
           ' - CASE WHEN tot_late > 0 THEN'
           ' CAST(n_late AS DOUBLE) / CAST(tot_late AS DOUBLE) END)'
           ' * (CASE WHEN tot_early > 0 THEN'
           ' CAST(n_early AS DOUBLE) / CAST(tot_early AS DOUBLE) END'
           ' - CASE WHEN tot_late > 0 THEN'
           ' CAST(n_late AS DOUBLE) / CAST(tot_late AS DOUBLE) END)'
           ' / (CAST(n_early + n_late AS DOUBLE)'
           '    / CAST(tot_early + tot_late AS DOUBLE))', 9)} AS chi2_term
FROM t
ORDER BY bin
"""

register("orders_price_drift", orders_price_drift, ORDERS_PRICE_DRIFT_SQL)


def events_type_mix_weekly_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week categorical drift of the event-type mix: one row
    per (week, event_type) with this week's fraction, last week's
    fraction (calendar join on week - 7 days, NOT positional LAG, so a
    type absent for a week cannot silently shift frames), the |p-q|/2
    drift term, and the per-week mix TVD (terms quantized to longs
    before the window sum — order-independent)."""
    cat = Catalog(spark, sf_dir)
    wk = (
        cat.events
        .select(F.date_trunc("week", F.col("ts")).alias("week"),
                "event_type")
        .groupBy("week", "event_type")
        .agg(F.count("*").cast("long").alias("n"))
        .withColumn("week_n", F.sum("n").over(Window.partitionBy("week")))
        .withColumn("frac", F.col("n").cast("double")
                    / F.col("week_n").cast("double"))
    )
    prev = wk.select(
        (F.col("week") + F.expr("INTERVAL 7 DAYS")).alias("week"),
        F.col("event_type"),
        F.col("frac").alias("prev_frac"),
    )
    joined = (
        wk.join(prev, ["week", "event_type"], "left")
        .withColumn(
            "term",
            F.when(F.col("prev_frac").isNull(), F.lit(None).cast("double"))
            .otherwise(F.abs(F.col("frac") - F.col("prev_frac"))
                       / F.lit(2.0)))
        .withColumn(
            "term_q",
            F.floor(F.coalesce(F.col("term"), F.lit(0.0)) * F.lit(_TQ)
                    + F.lit(0.5)).cast("long"))
        .withColumn("week_tvd_q",
                    F.sum("term_q").over(Window.partitionBy("week")))
        .withColumn("has_prev",
                    F.max(F.when(F.col("prev_frac").isNotNull(), 1)
                          .otherwise(0))
                    .over(Window.partitionBy("week")))
    )
    return (
        joined.select(
            F.col("week").cast("timestamp").alias("week"),
            "event_type", "n",
            fround(F.col("frac"), 9).alias("frac"),
            fround(F.col("prev_frac"), 9).alias("prev_frac"),
            fround(F.col("term"), 9).alias("drift_term"),
            F.when(F.col("has_prev") == 1,
                   fround(F.col("week_tvd_q").cast("double") / F.lit(_TQ), 9))
            .alias("week_mix_tvd"),
        )
        .orderBy("week", "event_type")
    )


EVENTS_TYPE_MIX_WEEKLY_DRIFT_SQL = f"""
WITH wk AS (
    SELECT DATE_TRUNC('week', ts) AS week, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
fr AS (
    SELECT *, SUM(n) OVER (PARTITION BY week) AS week_n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY week)
                                    AS DOUBLE) AS frac
    FROM wk
),
j AS (
    SELECT a.week, a.event_type, a.n, a.frac, b.frac AS prev_frac,
           CASE WHEN b.frac IS NULL THEN NULL
                ELSE ABS(a.frac - b.frac) / 2.0 END AS term
    FROM fr a
    LEFT JOIN fr b
      ON b.event_type = a.event_type
     AND b.week + INTERVAL 7 DAY = a.week
),
t AS (
    SELECT *,
           SUM(CAST(FLOOR(COALESCE(term, 0.0) * {_TQ} + 0.5) AS BIGINT))
               OVER (PARTITION BY week) AS week_tvd_q,
           MAX(CASE WHEN prev_frac IS NOT NULL THEN 1 ELSE 0 END)
               OVER (PARTITION BY week) AS has_prev
    FROM j
)
SELECT CAST(week AS TIMESTAMP) AS week, event_type, n,
       {sql_fround('frac', 9)} AS frac,
       {sql_fround('prev_frac', 9)} AS prev_frac,
       {sql_fround('term', 9)} AS drift_term,
       CASE WHEN has_prev = 1
            THEN {sql_fround(f'CAST(week_tvd_q AS DOUBLE) / {_TQ}', 9)}
            END AS week_mix_tvd
FROM t
ORDER BY week, event_type
"""

register("events_type_mix_weekly_drift", events_type_mix_weekly_drift,
         EVENTS_TYPE_MIX_WEEKLY_DRIFT_SQL)


def events_value_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling drift detector: each day's histogram of ``value``
    (16 fixed-width integer bins over the global range) against the
    trailing-7-day pooled baseline; per-day TVD and a boolean alarm.

    The day x bin grid is materialized by exploding a bin sequence
    under each observed day (no join, no missing-cell bias: a bin
    present in the baseline but empty today still contributes |0-q|).
    Days with an empty baseline (the first day) are excluded."""
    cat = Catalog(spark, sf_dir)
    return rolling_drift(cat.events.select(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long").alias("day_idx"),
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long").alias("vq"),
    ))


def rolling_drift(v: DataFrame) -> DataFrame:
    """Core of the rolling drift detector. ``v`` must have columns
    (day_idx: long — contiguous calendar index, day: date, vq: long);
    returns the per-day TVD/alarm report (see events_value_drift_daily)."""
    bounds = v.agg(
        F.min("vq").alias("mn"), F.max("vq").alias("mx"),
    ).withColumn(
        "width",
        F.ceil((F.col("mx") - F.col("mn") + F.lit(1)).cast("double")
               / F.lit(float(_BINS))).cast("long"),
    )
    counts = (
        v.crossJoin(bounds.select("mn", "width"))
        .select("day_idx", "day",
                F.expr("(vq - mn) DIV width").alias("bin"))
        .groupBy("day_idx", "day", "bin")
        .agg(F.count("*").cast("long").alias("n"))
    )
    return drift_from_cells(counts)


def drift_from_cells(counts: DataFrame) -> DataFrame:
    """Per-day TVD/alarm report from (day_idx, day, bin, n) histogram
    cells — shared by the batch detector above and the incremental
    maintainer's state-served twin (streaming/drift_state.py), so
    "served from maintained state" and "recomputed from raw events"
    run the identical detector math."""
    grid = (
        counts.select("day_idx", "day").distinct()
        .select("day_idx", "day",
                F.explode(F.sequence(F.lit(0), F.lit(_BINS - 1)))
                .alias("bin"))
        .withColumn("bin", F.col("bin").cast("long"))
    )
    full = (
        grid.join(counts, ["day_idx", "day", "bin"], "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)).cast("long"))
    )
    wb = (Window.partitionBy("bin").orderBy("day_idx")
          .rangeBetween(-7, -1))
    base = full.withColumn("b", F.coalesce(F.sum("n").over(wb), F.lit(0))
                           .cast("long"))
    wd = Window.partitionBy("day_idx")
    t = (
        base
        .withColumn("day_n", F.sum("n").over(wd))
        .withColumn("base_n", F.sum("b").over(wd))
        .where(F.col("base_n") > 0)
        .withColumn(
            "term_q",
            F.floor(F.abs(F.col("n").cast("double")
                          / F.col("day_n").cast("double")
                          - F.col("b").cast("double")
                          / F.col("base_n").cast("double"))
                    / F.lit(2.0) * F.lit(_TQ) + F.lit(0.5)).cast("long"))
    )
    return (
        t.groupBy("day")
        .agg(F.max("day_n").alias("n_events"),
             F.max("base_n").alias("baseline_n"),
             F.sum("term_q").alias("tvd_q"))
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "n_events", "baseline_n",
            fround(F.col("tvd_q").cast("double") / F.lit(_TQ), 9)
            .alias("tvd"),
            (F.col("tvd_q").cast("double") / F.lit(_TQ)
             > F.lit(_ALARM_TVD)).alias("alarm"),
        )
        .orderBy("day")
    )


EVENTS_VALUE_DRIFT_DAILY_SQL = f"""
WITH v AS (
    SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS BIGINT) AS day_idx,
           CAST(ts AS DATE) AS day,
           CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vq
    FROM events
),
b AS (
    SELECT MIN(vq) AS mn,
           CAST(CEIL(CAST(MAX(vq) - MIN(vq) + 1 AS DOUBLE)
                     / {float(_BINS)}) AS BIGINT) AS width
    FROM v
),
counts AS (
    SELECT v.day_idx, v.day, (v.vq - b.mn) // b.width AS bin,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM v CROSS JOIN b
    GROUP BY 1, 2, 3
),
grid AS (
    SELECT d.day_idx, d.day, CAST(g.bin AS BIGINT) AS bin
    FROM (SELECT DISTINCT day_idx, day FROM counts) d
    CROSS JOIN (SELECT UNNEST(RANGE(0, {_BINS})) AS bin) g
),
full_g AS (
    SELECT g.day_idx, g.day, g.bin,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n
    FROM grid g
    LEFT JOIN counts c
      ON c.day_idx = g.day_idx AND c.bin = g.bin
),
base AS (
    SELECT *,
           CAST(COALESCE(SUM(n) OVER (
               PARTITION BY bin ORDER BY day_idx
               RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS b
    FROM full_g
),
t AS (
    SELECT *,
           SUM(n) OVER (PARTITION BY day_idx) AS day_n,
           SUM(b) OVER (PARTITION BY day_idx) AS base_n
    FROM base
),
terms AS (
    SELECT day, day_n, base_n,
           CAST(FLOOR(ABS(CAST(n AS DOUBLE) / CAST(day_n AS DOUBLE)
                          - CAST(b AS DOUBLE) / CAST(base_n AS DOUBLE))
                      / 2.0 * {_TQ} + 0.5) AS BIGINT) AS term_q
    FROM t WHERE base_n > 0
)
SELECT CAST(day AS TIMESTAMP) AS day,
       CAST(MAX(day_n) AS BIGINT) AS n_events,
       CAST(MAX(base_n) AS BIGINT) AS baseline_n,
       {sql_fround(f'CAST(SUM(term_q) AS DOUBLE) / {_TQ}', 9)} AS tvd,
       CAST(SUM(term_q) AS DOUBLE) / {_TQ} > {_ALARM_TVD} AS alarm
FROM terms
GROUP BY day
ORDER BY day
"""

register("events_value_drift_daily", events_value_drift_daily,
         EVENTS_VALUE_DRIFT_DAILY_SQL)

# --------------------------------------------------------------------------
# CUSUM change-point detection (sequential mean-shift monitoring)
# --------------------------------------------------------------------------

#: CUSUM baseline period: days strictly before this date estimate the
#: in-control daily-revenue mean
_CUSUM_BASELINE_END = "1996-01-01"

#: CUSUM allowance k = baseline-mean / _CUSUM_K_DEN (the slack the
#: in-control process may exceed the mean by before excess accrues)
_CUSUM_K_DEN = 20

#: CUSUM decision threshold h = _CUSUM_H_MULT x baseline mean of
#: accumulated excess
_CUSUM_H_MULT = 5


def orders_revenue_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided upper CUSUM over daily order revenue (Page 1954):
    accumulate each monitored day's excess over the 1995-baseline
    daily mean plus an allowance k = mu0/20, resetting at zero, and
    alarm when the accumulated excess tops h = 5*mu0 — the classical
    sequential mean-shift / change-point monitor, complementing the
    distribution-shape detectors above (TVD sees a reshaped histogram;
    CUSUM sees a small persistent level shift the histogram hides).

    The recurrence S_t = max(0, S_{t-1} + x_t - mu0 - k) is sequential,
    but the prefix-min identity S_t = C_t - min_{0<=j<=t} C_j (with
    C_t the plain cumulative sum of the drift-adjusted series and
    C_0 = 0) turns it into two stock window functions — a running SUM
    and a running MIN — so no iterative or per-row Python path enters
    the plan (tests/test_drift.py pins the identity against the
    literal recurrence). Alarm coverage: the alarm=true branch is
    non-vacuous on driver data at sf0.01 only (617 of 2034 monitored
    days; 0 alarms at sf0.001/sf0.1 where the series stays inside the
    allowance) — the planted-shift unit test and the sf0.01 parity
    row carry the true-branch evidence.

    Determinism: daily revenue is exact cents; the baseline mean
    enters only as (total_base, n_base) integers, with the series
    rescaled by n_base so every CUSUM term is a BIGINT:
    d_t = cents_t * n_base - total_base - (total_base DIV K_DEN).
    (Headroom: |C_t| <= ~h + days*mu0' with mu0' = total_base; BIGINT
    holds through ~10^14 cents/day x 365-day baselines — beyond that
    move the two products to DECIMAL(38,0).) The only doubles are the
    fround'd mean-units readout, one IEEE divide of identical longs.

    Scale: one map-side-combined groupBy(o_orderdate) is the only
    corpus-sized shuffle; the baseline fold is a one-row broadcast and
    the windows run over the bounded calendar frame (~2k day rows —
    monitoring cardinality, independent of corpus size).
    """
    cat = Catalog(spark, sf_dir)
    return cusum_fold(daily_revenue_cents(cat.orders))


def daily_revenue_cents(orders: DataFrame) -> DataFrame:
    """(day: day-truncated timestamp, cents: long) daily revenue — the
    ONE definition of the CUSUM's daily grain, shared by the batch
    detector and the incremental maintainer (streaming/cusum_state.py)
    so the state-served = full-rescan hash identity can't be broken by
    the two paths drifting apart (review finding, round 7: the
    date→timestamp dtype fix had to be applied twice)."""
    return (orders
            .select(F.col("o_orderdate").cast("date").cast("timestamp")
                    .alias("day"),
                    F.floor(F.col("o_totalprice") * F.lit(100.0)
                            + F.lit(0.5)).cast("long").alias("cents"))
            .groupBy("day")
            .agg(F.sum("cents").cast("long").alias("cents")))


def cusum_fold(daily: DataFrame) -> DataFrame:
    """Core of the CUSUM detector over a (day: date, cents: long)
    daily series — split out so hand-built shifted series exercise the
    identity and alarm math directly (tests/test_drift.py)."""
    base = (daily
            .where(F.col("day") < F.lit(_CUSUM_BASELINE_END).cast("date"))
            .agg(F.count("*").cast("long").alias("n_base"),
                 F.sum("cents").cast("long").alias("total_base")))
    mon = (daily
           .where(F.col("day") >= F.lit(_CUSUM_BASELINE_END).cast("date"))
           .crossJoin(base))
    d_t = (F.col("cents") * F.col("n_base") - F.col("total_base")
           - F.expr(f"total_base DIV {_CUSUM_K_DEN}"))
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (mon.select("day", "cents", "total_base",
                      F.sum(d_t).over(w).cast("long").alias("cum")))
    s = (F.col("cum")
         - F.least(F.lit(0).cast("long"), F.min("cum").over(w)))
    return (cum.select(
                "day",
                F.col("cents").alias("daily_cents"),
                s.cast("long").alias("cusum_scaled"),
                fround(s.cast("double") / F.col("total_base")
                       .cast("double"), 6).alias("cusum_mean_units"),
                (s > F.lit(_CUSUM_H_MULT) * F.col("total_base"))
                .alias("alarm"))
            .orderBy("day"))


ORDERS_REVENUE_CUSUM_SQL = f"""
WITH daily AS (
    SELECT CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS day,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY 1
),
base AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_base,
           CAST(SUM(cents) AS BIGINT) AS total_base
    FROM daily WHERE day < DATE '{_CUSUM_BASELINE_END}'
),
cum AS (
    SELECT d.day, d.cents, b.total_base,
           CAST(SUM(d.cents * b.n_base - b.total_base
                    - b.total_base // {_CUSUM_K_DEN})
                OVER (ORDER BY d.day) AS BIGINT) AS cum
    FROM daily d CROSS JOIN base b
    WHERE d.day >= DATE '{_CUSUM_BASELINE_END}'
),
s AS (
    SELECT day, cents, total_base,
           CAST(cum - LEAST(CAST(0 AS BIGINT),
                            MIN(cum) OVER (ORDER BY day)) AS BIGINT)
               AS cusum_scaled
    FROM cum
)
SELECT day, cents AS daily_cents, cusum_scaled,
       {sql_fround('CAST(cusum_scaled AS DOUBLE)'
                   ' / CAST(total_base AS DOUBLE)', 6)}
           AS cusum_mean_units,
       cusum_scaled > {_CUSUM_H_MULT} * total_base AS alarm
FROM s
ORDER BY day
"""

register("orders_revenue_cusum", orders_revenue_cusum,
         ORDERS_REVENUE_CUSUM_SQL)


def cusum_identity_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible CUSUM quality gate, cross-derivation oracle (a
    stronger form of the pinned-constant floor family): Spark folds
    the detector through the windowed prefix-min identity while the
    DuckDB oracle runs the LITERAL Page recurrence
    S_t = max(0, S_{t-1} + d_t) via a recursive CTE — the two
    derivations share no algebra beyond the definition, so a
    hash-match on (n_monitored, n_alarms, max S, final S) proves the
    identity on real driver data in exact integers, per scale factor,
    not just on the unit-test fixture."""
    s = orders_revenue_cusum(spark, sf_dir)
    return s.agg(
        F.count("*").cast("long").alias("n_monitored"),
        F.sum(F.when(F.col("alarm"), 1).otherwise(0)).cast("long")
        .alias("n_alarms"),
        F.max("cusum_scaled").cast("long").alias("max_cusum_scaled"),
        F.max_by("cusum_scaled", "day").cast("long")
        .alias("final_cusum_scaled"))


CUSUM_IDENTITY_FLOOR_SQL = f"""
WITH RECURSIVE daily AS (
    SELECT CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS day,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY 1
),
base AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_base,
           CAST(SUM(cents) AS BIGINT) AS total_base
    FROM daily WHERE day < DATE '{_CUSUM_BASELINE_END}'
),
mon AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY d.day) AS BIGINT) AS rk,
           d.cents * b.n_base - b.total_base
               - b.total_base // {_CUSUM_K_DEN} AS d_t,
           b.total_base
    FROM daily d CROSS JOIN base b
    WHERE d.day >= DATE '{_CUSUM_BASELINE_END}'
),
rec AS (
    SELECT rk, CAST(GREATEST(CAST(0 AS BIGINT), d_t) AS BIGINT) AS s,
           total_base
    FROM mon WHERE rk = 1
    UNION ALL
    SELECT m.rk,
           CAST(GREATEST(CAST(0 AS BIGINT), r.s + m.d_t) AS BIGINT),
           m.total_base
    FROM rec r JOIN mon m ON m.rk = r.rk + 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_monitored,
       CAST(SUM(CASE WHEN s > {_CUSUM_H_MULT} * total_base
                THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
       CAST(MAX(s) AS BIGINT) AS max_cusum_scaled,
       CAST(MAX(CASE WHEN rk = (SELECT MAX(rk) FROM mon) THEN s END)
            AS BIGINT) AS final_cusum_scaled
FROM rec
"""

register("cusum_identity_floor", cusum_identity_floor,
         CUSUM_IDENTITY_FLOOR_SQL)
