"""Distributed least-squares trend fits via sufficient statistics —
the normal-equations pattern: one aggregation pass collects the six
exact sums (n, St, Sy, Stt, Sty, Syy) per group and the closed-form
slope / intercept / R² come out of a handful of scalar IEEE ops. The
same map-side-collapsible split as the covariance/PCA operators
(llm/distributions.py): nothing but group-sized rows ever shuffles,
and the "model solve" is O(groups), not O(corpus).

Reference scope: the portal charts monthly revenue (app.py dashboard
figures); a warehouse serving those charts is one step from "fit the
trend and forecast" — q6_forecast_revenue covers the fixed-growth
variant, these operators fit the trend FROM the data.

Cross-engine determinism: regressors are exact integer time indexes
(month index / day index) and responses are exact integer money/value
units, so the sufficient sums are exact (summed as DECIMAL(38,0) in
Spark — Spark's long SUM would overflow silently at warehouse scale,
and DuckDB's BIGINT sum auto-widens to HUGEINT; both engines then
cast the identical exact integer to double). The closed forms are a
fixed dag of IEEE mul/sub/div on identical doubles — correctly
rounded, zero libm exposure (compat.py policy).

Scale design (100 TB): pass 1 pre-aggregates the fact table to
(group, t) cells — shuffle = series points, with map-side combine
doing the heavy lifting; pass 2 folds cells into the six sums —
shuffle = groups. Degenerate series (single point / constant t or y)
yield NULL fits via explicit variance guards rather than Inf/NaN.
"""

from __future__ import annotations

from pyspark.sql import (Column, DataFrame, SparkSession, Window,
                         functions as F)

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog

#: decimal type for overflow-proof exact sufficient sums
_DEC = "decimal(38,0)"


def ols_fit(cells: DataFrame, group_cols: list[str]) -> DataFrame:
    """Fold (group, t: long, y: long) cells into per-group OLS fits.

    Returns one row per group: n_points, slope, intercept, r2 —
    slope/intercept in y-units per t-unit. R² is NULL when either
    variance is zero (vertical/constant series carry no fit)."""
    sums = cells.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("t").cast(_DEC)).alias("st"),
        F.sum(F.col("y").cast(_DEC)).alias("sy"),
        F.sum((F.col("t") * F.col("t")).cast(_DEC)).alias("stt"),
        F.sum((F.col("t").cast(_DEC) * F.col("y").cast(_DEC))).alias("sty"),
        F.sum((F.col("y").cast(_DEC) * F.col("y").cast(_DEC))).alias("syy"),
    )

    def d(c: str) -> Column:
        return F.col(c).cast("double")

    n, st, sy, stt, sty, syy = (d(c) for c in
                                ("n", "st", "sy", "stt", "sty", "syy"))
    var_t = n * stt - st * st
    var_y = n * syy - sy * sy
    cov = n * sty - st * sy
    slope = F.when(var_t > 0, cov / var_t)
    intercept = F.when(var_t > 0, (sy - (cov / var_t) * st) / n)
    r2 = F.when((var_t > 0) & (var_y > 0), cov * cov / (var_t * var_y))
    return sums.select(
        *group_cols,
        F.col("n").alias("n_points"),
        fround(slope, 6).alias("slope"),
        fround(intercept, 6).alias("intercept"),
        fround(r2, 9).alias("r2"),
    )


def _sql_ols(cells_sql: str, group_cols: list[str]) -> str:
    """DuckDB twin of ols_fit over a cells CTE named ``cells``."""
    g = ", ".join(group_cols)
    var_t = "(n * stt - st * st)"
    var_y = "(n * syy - sy * sy)"
    cov = "(n * sty - st * sy)"
    return f"""
WITH cells AS ({cells_sql}),
sums AS (
    SELECT {g},
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(t AS HUGEINT)) AS DOUBLE) AS st,
           CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
           CAST(SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)) AS DOUBLE)
               AS stt,
           CAST(SUM(CAST(t AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE)
               AS sty,
           CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE)
               AS syy,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM cells GROUP BY {g}
)
SELECT {g}, n_points,
       {sql_fround(f'CASE WHEN {var_t} > 0 THEN {cov} / {var_t} END', 6)}
           AS slope,
       {sql_fround(f'CASE WHEN {var_t} > 0 THEN'
                   f' (sy - ({cov} / {var_t}) * st) / n END', 6)}
           AS intercept,
       {sql_fround(f'CASE WHEN {var_t} > 0 AND {var_y} > 0 THEN'
                   f' {cov} * {cov} / ({var_t} * {var_y}) END', 9)}
           AS r2
FROM sums
ORDER BY {g}
"""


def nation_month_revenue(cat: Catalog) -> DataFrame:
    """(nation, t, y): each nation's order revenue in cents per month
    index t (months since 1995-01) — the cells both revenue trend
    fits read (OLS below, Theil-Sen in robust.py)."""
    month_idx = ((F.year("o_orderdate") - F.lit(1995)) * F.lit(12)
                 + F.month("o_orderdate") - F.lit(1)).cast("long")
    return (
        cat.orders
        .join(cat.customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(cat.nation.select("n_nationkey", "n_name"),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"),
                month_idx.alias("t"),
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
                .cast("long").alias("cents"))
        .groupBy("nation", "t")
        .agg(F.sum("cents").cast("long").alias("y"))
    )


def nation_revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS trend of monthly order revenue: slope in cents
    per month, intercept, and R² over the ~80-month series. The fact
    scan collapses to (nation, month) cells before any model math."""
    return ols_fit(nation_month_revenue(Catalog(spark, sf_dir)),
                   ["nation"]).orderBy("nation")


NATION_REVENUE_TREND_OLS_SQL = _sql_ols(
    """
    SELECT n.n_name AS nation,
           CAST((YEAR(o.o_orderdate) - 1995) * 12
                + MONTH(o.o_orderdate) - 1 AS BIGINT) AS t,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS y
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
    ["nation"],
)

register("nation_revenue_trend_ols", nation_revenue_trend_ols,
         NATION_REVENUE_TREND_OLS_SQL)


def event_value_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of daily total value (hundredths) over
    the event window — the activity-ramp detector twin of the revenue
    trend, same cells-then-solve split."""
    cat = Catalog(spark, sf_dir)
    cells = (
        cat.events
        .select("event_type",
                F.datediff(F.to_date("ts"),
                           F.lit("2024-01-01").cast("date"))
                .cast("long").alias("t"),
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
                .cast("long").alias("vq"))
        .groupBy("event_type", "t")
        .agg(F.sum("vq").cast("long").alias("y"))
    )
    return ols_fit(cells, ["event_type"]).orderBy("event_type")


EVENT_VALUE_TREND_OLS_SQL = _sql_ols(
    """
    SELECT event_type,
           CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                AS BIGINT) AS t,
           CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
    FROM events
    GROUP BY 1, 2
    """,
    ["event_type"],
)

register("event_value_trend_ols", event_value_trend_ols,
         EVENT_VALUE_TREND_OLS_SQL)

# --------------------------------------------------------------------------
# Rolling-origin forecast backtest (expanding-window OLS evaluation)
# --------------------------------------------------------------------------

#: minimum training months before the backtest starts scoring
_BT_MIN_TRAIN = 12


def revenue_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin (expanding-window) backtest of the monthly-
    revenue trend model: for every month t with at least 12 prior
    months, fit OLS on months < t ONLY, predict month t, and report
    actual, predicted, error and absolute percentage error — the
    standard leakage-free evaluation protocol for forecast models
    (each prediction uses strictly past data, like production would).

    The trick that keeps it one declarative plan: every sufficient
    statistic of the expanding training window (n, St, Sy, Stt, Sty)
    is a cumulative window sum with frame ROWS UNBOUNDED PRECEDING TO
    1 PRECEDING over the bounded monthly series — so the ~80 model
    fits cost five window sums, not 80 passes. Sums stay exact
    (DECIMAL(38,0) / HUGEINT) and the per-month closed forms are a
    fixed dag of IEEE ops on identical doubles — zero libm, same
    discipline as ols_fit above. Degenerate windows (var_t = 0) yield
    NULL predictions via the same guard.

    Scale: one map-side-combined groupBy(month) on the fact is the
    only corpus-sized work; the backtest itself runs on the
    calendar-sized frame (months never grow with the corpus).
    """
    cat = Catalog(spark, sf_dir)
    monthly = (
        cat.orders
        .select(((F.year("o_orderdate") - F.lit(1992)) * F.lit(12)
                 + F.month("o_orderdate") - F.lit(1)).cast("long")
                .alias("t"),
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
                .cast("long").alias("cents"))
        .groupBy("t")
        .agg(F.sum("cents").cast("long").alias("y")))
    return backtest_fold(monthly)


def backtest_fold(monthly: DataFrame) -> DataFrame:
    """Core of the rolling-origin backtest over a (t: long, y: long)
    series — split out so planted exact-line and no-leakage tests
    drive it with hand-built frames (tests/test_regression.py)."""
    w = (Window.orderBy("t")
         .rowsBetween(Window.unboundedPreceding, -1))
    tr = monthly.select(
        "t", "y",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum(F.col("t").cast(_DEC)).over(w).alias("st"),
        F.sum(F.col("y").cast(_DEC)).over(w).alias("sy"),
        F.sum((F.col("t") * F.col("t")).cast(_DEC)).over(w).alias("stt"),
        F.sum(F.col("t").cast(_DEC) * F.col("y").cast(_DEC)).over(w)
        .alias("sty"))

    def d(c: str) -> Column:
        return F.col(c).cast("double")

    n, st, sy, stt, sty = (d(c) for c in ("n", "st", "sy", "stt", "sty"))
    var_t = n * stt - st * st
    cov = n * sty - st * sy
    slope = cov / var_t
    intercept = (sy - slope * st) / n
    pred = F.when(var_t > 0, intercept + slope * F.col("t").cast("double"))
    err = F.col("y").cast("double") - pred
    return (tr.where(F.col("n") >= _BT_MIN_TRAIN)
            .select("t",
                    F.col("n").alias("n_train"),
                    F.col("y").alias("actual_cents"),
                    fround(pred, 4).alias("pred_cents"),
                    fround(err, 4).alias("err_cents"),
                    # y = 0 (possible only in planted frames) would
                    # make APE 0/0 — NULL, per the degenerate-input
                    # guard convention
                    fround(F.when(F.col("y") != 0,
                                  F.abs(err) / F.col("y").cast("double")),
                           9).alias("ape"))
            .orderBy("t"))


REVENUE_FORECAST_BACKTEST_SQL = f"""
WITH monthly AS (
    SELECT CAST((YEAR(o_orderdate) - 1992) * 12
                + MONTH(o_orderdate) - 1 AS BIGINT) AS t,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS y
    FROM orders GROUP BY 1
),
tr AS (
    SELECT t, y,
           CAST(COUNT(*) OVER win AS BIGINT) AS n,
           CAST(SUM(CAST(t AS HUGEINT)) OVER win AS DOUBLE) AS st,
           CAST(SUM(CAST(y AS HUGEINT)) OVER win AS DOUBLE) AS sy,
           CAST(SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)) OVER win
                AS DOUBLE) AS stt,
           CAST(SUM(CAST(t AS HUGEINT) * CAST(y AS HUGEINT)) OVER win
                AS DOUBLE) AS sty
    FROM monthly
    WINDOW win AS (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
scored AS (
    SELECT t, y, n,
           CASE WHEN (CAST(n AS DOUBLE) * stt - st * st) > 0 THEN
               ((sy - ((CAST(n AS DOUBLE) * sty - st * sy)
                       / (CAST(n AS DOUBLE) * stt - st * st)) * st)
                / CAST(n AS DOUBLE))
               + ((CAST(n AS DOUBLE) * sty - st * sy)
                  / (CAST(n AS DOUBLE) * stt - st * st))
                 * CAST(t AS DOUBLE)
           END AS pred
    FROM tr WHERE n >= {_BT_MIN_TRAIN}
)
SELECT t, n AS n_train, y AS actual_cents,
       {sql_fround('pred', 4)} AS pred_cents,
       {sql_fround('CAST(y AS DOUBLE) - pred', 4)} AS err_cents,
       {sql_fround('CASE WHEN y <> 0 THEN'
                   ' ABS(CAST(y AS DOUBLE) - pred) / CAST(y AS DOUBLE)'
                   ' END', 9)}
           AS ape
FROM scored
ORDER BY t
"""

register("revenue_forecast_backtest", revenue_forecast_backtest,
         REVENUE_FORECAST_BACKTEST_SQL)


# --------------------------------------------------------------------------
# Split-conformal prediction interval for the revenue forecast
# --------------------------------------------------------------------------

#: conformal miscoverage level: 1 - alpha = 90% target coverage,
#: carried as the exact rational 9/10 so the conformal rank
#: k = ceil((n+1) * 9/10) stays in integer arithmetic
_CONF_NUM, _CONF_DEN = 9, 10

#: scale for the quantized absolute residuals: err_cents is fround'd
#: to 4dp, so x1e4 recovers an exact integer (lossless)
_CONF_Q = 10_000


def conformal_fold(bt: DataFrame) -> DataFrame:
    """Split-conformal interval over a backtest frame (the
    backtest_fold output: t, n_train, actual_cents, pred_cents,
    err_cents, ape): calibrate on every scored month EXCEPT the last,
    deploy on the last.

    The conformal quantile is the k-th smallest absolute residual
    with k = ceil((n_cal + 1) * (1 - alpha)) (clamped to n_cal for
    tiny calibration sets, documented) — the distribution-free
    finite-sample guarantee P(|err| <= q) >= 1 - alpha holds for ANY
    error distribution if the residuals are exchangeable (Vovk et
    al.; Lei et al. JASA 2018). Rolling-origin errors are not exactly
    exchangeable (documented caveat — the standard practical
    protocol), so the query also reports the EMPIRICAL calibration
    coverage beside the guarantee.

    Exactness: err_cents is already quantized to 4dp, so the
    x1e4-scaled absolute residuals are exact BIGINTs; the rank pick
    is a row_number over the bounded month frame with (ae, t)
    tie-break — a total order, hence engine-identical.
    """
    from ..cache import pin

    bt = pin(bt)
    last_t = bt.agg(F.max("t").alias("last_t"))
    cal = (bt.crossJoin(last_t)
           # degenerate-window months score NULL errors (backtest
           # guard); exclude them explicitly — NULL ordering differs
           # between engines, so they must never reach the rank
           .where((F.col("t") < F.col("last_t"))
                  & F.col("err_cents").isNotNull())
           .select("t",
                   F.floor(F.abs(F.col("err_cents")) * F.lit(float(_CONF_Q))
                           + F.lit(0.5)).cast("long").alias("ae")))
    cal = pin(cal)
    # k = ceil((n+1)*(1-alpha)) in EXACT integer arithmetic:
    # ceil(x*9/10) = (x*9 + 9) DIV 10 — a float product here would
    # diverge between double (Spark) and decimal (DuckDB) whenever
    # (n+1)*0.9 lands on an integer (e.g. n_cal = 89)
    sizes = (cal.agg(F.count("*").cast("long").alias("n_cal"))
             .select("n_cal",
                     F.least(
                         F.expr(f"((n_cal + 1) * {_CONF_NUM} "
                                f"+ {_CONF_NUM}) DIV {_CONF_DEN}"),
                         F.col("n_cal")).cast("long").alias("k")))
    w = Window.orderBy("ae", "t")
    ranked = cal.select("ae", F.row_number().over(w).alias("rn"))
    q = (ranked.crossJoin(sizes)
         .where(F.col("rn") == F.col("k"))
         .select("n_cal", "k", F.col("ae").alias("q_scaled")))
    cov = (cal.crossJoin(F.broadcast(q))
           .agg(F.max("n_cal").alias("n_cal"),
                F.max("k").alias("k"),
                F.max("q_scaled").alias("q_scaled"),
                F.sum(F.when(F.col("ae") <= F.col("q_scaled"), 1)
                      .otherwise(0)).cast("long").alias("n_covered_cal")))
    last = (bt.crossJoin(last_t)
            .where(F.col("t") == F.col("last_t"))
            .select(F.col("t").alias("last_t"),
                    F.col("actual_cents").alias("last_actual_cents"),
                    F.col("pred_cents").alias("last_pred_cents"),
                    F.col("err_cents").alias("last_err_cents")))
    qd = F.col("q_scaled").cast("double") / F.lit(float(_CONF_Q))
    return (cov.crossJoin(F.broadcast(last))
            .select(
                "n_cal", "k", "q_scaled", "n_covered_cal",
                "last_t", "last_actual_cents", "last_pred_cents",
                fround(qd, 4).alias("q_cents"),
                fround(F.col("last_pred_cents") - qd, 4).alias("lo_cents"),
                fround(F.col("last_pred_cents") + qd, 4).alias("hi_cents"),
                (F.floor(F.abs(F.col("last_err_cents"))
                         * F.lit(float(_CONF_Q)) + F.lit(0.5))
                 .cast("long") <= F.col("q_scaled"))
                .alias("last_covered")))


def revenue_forecast_conformal(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """90% split-conformal prediction interval for the latest
    month's revenue forecast, calibrated on the rolling-origin
    backtest residuals — the distribution-free error bar the point
    forecast (revenue_forecast_backtest) ships without. One row:
    calibration size, conformal rank k, quantile, empirical
    calibration coverage, and the deployed month's interval +
    covered flag."""
    bt = revenue_forecast_backtest(spark, sf_dir)
    # the series' final month is calendar-PARTIAL (orders end
    # mid-month), so its "error" is a truncation artifact, not a
    # model miss — drop it before calibration/deployment and deploy
    # on the last COMPLETE month (standard forecasting practice)
    mx = bt.agg(F.max("t").alias("mx"))
    bt_full = (bt.crossJoin(mx)
               .where(F.col("t") < F.col("mx"))
               .drop("mx"))
    return conformal_fold(bt_full)


REVENUE_FORECAST_CONFORMAL_SQL = f"""
WITH bt0 AS ({REVENUE_FORECAST_BACKTEST_SQL}),
bt AS (
    SELECT * FROM bt0 WHERE t < (SELECT MAX(t) FROM bt0)
),
cal AS (
    SELECT t, CAST(FLOOR(ABS(err_cents) * {_CONF_Q}.0 + 0.5) AS BIGINT)
               AS ae
    FROM bt
    WHERE t < (SELECT MAX(t) FROM bt) AND err_cents IS NOT NULL
),
sizes AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
           LEAST(CAST(((COUNT(*) + 1) * {_CONF_NUM} + {_CONF_NUM})
                      // {_CONF_DEN} AS BIGINT),
                 CAST(COUNT(*) AS BIGINT)) AS k
    FROM cal
),
ranked AS (
    SELECT ae, ROW_NUMBER() OVER (ORDER BY ae, t) AS rn FROM cal
),
q AS (
    SELECT s.n_cal, s.k, r.ae AS q_scaled
    FROM ranked r JOIN sizes s ON r.rn = s.k
),
cov AS (
    SELECT q.n_cal, q.k, q.q_scaled,
           CAST(SUM(CASE WHEN c.ae <= q.q_scaled THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered_cal
    FROM cal c CROSS JOIN q
    GROUP BY q.n_cal, q.k, q.q_scaled
),
last AS (
    SELECT t AS last_t, actual_cents AS last_actual_cents,
           pred_cents AS last_pred_cents, err_cents AS last_err_cents
    FROM bt WHERE t = (SELECT MAX(t) FROM bt)
)
SELECT n_cal, k, q_scaled, n_covered_cal,
       last_t, last_actual_cents, last_pred_cents,
       {sql_fround(f'CAST(q_scaled AS DOUBLE) / {_CONF_Q}.0', 4)}
           AS q_cents,
       {sql_fround(
           f'last_pred_cents - CAST(q_scaled AS DOUBLE) / {_CONF_Q}.0',
           4)} AS lo_cents,
       {sql_fround(
           f'last_pred_cents + CAST(q_scaled AS DOUBLE) / {_CONF_Q}.0',
           4)} AS hi_cents,
       CAST(FLOOR(ABS(last_err_cents) * {_CONF_Q}.0 + 0.5) AS BIGINT)
           <= q_scaled AS last_covered
FROM cov CROSS JOIN last
"""

register("revenue_forecast_conformal", revenue_forecast_conformal,
         REVENUE_FORECAST_CONFORMAL_SQL)
