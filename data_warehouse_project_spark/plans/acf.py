"""Serial-correlation diagnostics — exact-integer autocorrelation and
lead-lag cross-correlation over daily business series.

The drift family (plans/drift.py) answers "did the distribution
move?"; the CUSUM answers "did the level shift?"; this module answers
the third monitoring question every warehouse asks of a daily series:
"what is its memory?" — how strongly today's revenue echoes lag-L days
ago (ACF: weekly rhythm shows as a lag-7 ridge), and whether one
series LEADS another (cross-correlation: do click volumes today
predict purchase revenue tomorrow?).

Estimator convention (documented variant, applied identically on both
engines): residuals are taken about the INTEGER-FLOORED series mean
``m = S DIV n`` rather than the exact rational mean. That keeps every
residual, product and sum a BIGINT — exact, associative,
order-independent (compat.py policy) — at the cost of a center offset
< 1 unit, which perturbs the correlation estimate by O(1/var) ≈ 1e-12
on this data and is the SAME perturbation in both engines, so parity
is exact. The only IEEE ops are the final divide (ACF) and a
multiply + sqrt + divide (xcorr) on identical operands — all three in
the correctly-rounded IEEE set, unlike transcendentals.

Integer headroom: daily revenue is floored to whole DOLLARS before
residuals; at sf0.1 deviations are ~3e6, lag products ~1e13, and the
~2.4k-day sum ~2.4e16 — comfortable BIGINT. Deviations grow ~linearly
with scale factor, so BIGINT holds through ~sf5 (products ~4e17);
beyond that widen the product/sum columns to DECIMAL(38,0) — same
policy, bigger accumulator (the CUSUM carries the identical note).

Scale design (100 TB): one map-side-combined groupBy(day) per source
series is the only corpus-sized shuffle; everything after runs on the
bounded daily calendar frame (monitoring cardinality, ~2.4k rows,
independent of corpus size), so the single-partition window over it is
O(days), exactly as in plans/drift.py's CUSUM. All L lags come from
ONE window node (L LAG projections share the frame) and unpivot via
``stack`` — one pass over the daily frame, not L passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog
from .drift import daily_revenue_cents

#: ACF lag range: two weeks of daily lags captures the weekly rhythm
#: (lag 7 / 14) the seasonal baseline family models explicitly
_ACF_MAX_LAG = 14

#: cross-correlation lead/lag range (±days): clicks leading purchases
#: by more than a week is outside any plausible attribution window
_XCORR_MAX_LAG = 7


def acf_fold(daily: DataFrame, max_lag: int = _ACF_MAX_LAG) -> DataFrame:
    """Core ACF fold over a (day: timestamp, v: long) daily series —
    split out so planted periodic series exercise the lag algebra
    directly (tests/test_acf.py).

    Output: one row per lag 1..max_lag with the exact-integer
    numerator/denominator and the IEEE-divided coefficient:
    (lag int, n_pairs long, num long, den long, acf double[6dp]).

    Grain note: lags step through the OBSERVED-day sequence (LAG over
    day order), so calendar gaps collapse — correct at warehouse
    scale where every day trades (sf0.01+ here); for sparse series
    densify onto a calendar spine first (the
    timeseries.dense_from_hourly pattern) before folding.
    """
    base = daily.agg(F.count("*").cast("long").alias("n"),
                     F.sum("v").cast("long").alias("s"))
    r = (daily
         .crossJoin(base)
         .select("day",
                 (F.col("v") - F.expr("s DIV n")).cast("long")
                 .alias("r")))
    den = r.agg(F.sum(F.col("r") * F.col("r")).cast("long").alias("den"))
    w = Window.orderBy("day")
    lagged = r.select(
        "r", *[F.lag("r", L).over(w).alias(f"r_{L}")
               for L in range(1, max_lag + 1)])
    stack_args = ", ".join(f"{L}, r * r_{L}" for L in range(1, max_lag + 1))
    pairs = lagged.select(
        F.expr(f"stack({max_lag}, {stack_args}) AS (lag, prod)"))
    return (pairs
            .where(F.col("prod").isNotNull())
            .groupBy("lag")
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.sum("prod").cast("long").alias("num"))
            .crossJoin(den)
            .select(F.col("lag").cast("int").alias("lag"),
                    "n_pairs", "num", "den",
                    # den = 0 iff the series is constant (every
                    # residual 0): NULL acf, not 0/0 (ADVICE r7),
                    # matching the OLS/Spearman variance-guard
                    # convention
                    fround(F.when(F.col("den") > 0,
                                  F.col("num").cast("double")
                                  / F.col("den").cast("double")), 6)
                    .alias("acf"))
            .orderBy("lag"))


def orders_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily order revenue, lags 1..14:
    the memory diagnostic behind every forecasting choice the
    regression family makes (an AR signature at lag 7 argues for the
    seasonal baseline; a flat ACF argues the OLS trend is all there
    is). Reference scope: the reference app has no stats layer at all
    (reference db.py:1-468 is CRUD); this extends the warehouse-side
    monitoring families per the build brief.

    Daily grain reuses the CUSUM's single definition of daily revenue
    (drift.daily_revenue_cents) floored to whole dollars, so the two
    monitors can never disagree about what "a day's revenue" means.
    """
    cat = Catalog(spark, sf_dir)
    daily = (daily_revenue_cents(cat.orders)
             .select("day", F.expr("cents DIV 100").cast("long").alias("v")))
    return acf_fold(daily)


_DAILY_DOLLARS_SQL = """
daily AS (
    SELECT CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS day,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) // 100 AS v
    FROM orders GROUP BY 1
)"""


def _acf_sql() -> str:
    lag_cols = ",\n           ".join(
        f"LAG(r, {L}) OVER (ORDER BY day) AS r_{L}"
        for L in range(1, _ACF_MAX_LAG + 1))
    pair_sel = "\n    UNION ALL ".join(
        f"SELECT {L} AS lag, r * r_{L} AS prod FROM lagged "
        f"WHERE r_{L} IS NOT NULL"
        for L in range(1, _ACF_MAX_LAG + 1))
    return f"""
WITH {_DAILY_DOLLARS_SQL.strip()},
base AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
    FROM daily
),
r AS (
    SELECT d.day, CAST(d.v - b.s // b.n AS BIGINT) AS r
    FROM daily d CROSS JOIN base b
),
den AS (SELECT CAST(SUM(r * r) AS BIGINT) AS den FROM r),
lagged AS (
    SELECT day, r,
           {lag_cols}
    FROM r
),
pairs AS (
    {pair_sel}
)
SELECT CAST(p.lag AS INT) AS lag,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(p.prod) AS BIGINT) AS num,
       d.den,
       {sql_fround('CASE WHEN d.den > 0 THEN'
                   ' CAST(CAST(SUM(p.prod) AS BIGINT) AS DOUBLE)'
                   ' / CAST(d.den AS DOUBLE) END', 6)} AS acf
FROM pairs p CROSS JOIN den d
GROUP BY p.lag, d.den
ORDER BY lag
"""


register("orders_revenue_acf", orders_revenue_acf, _acf_sql())


def xcorr_fold(daily: DataFrame) -> DataFrame:
    """Lead-lag cross-correlation fold over a (day, x: long, y: long)
    daily two-series frame. Sign convention: at lag L the coefficient
    correlates x_t with y_{t-L}, so a POSITIVE-lag peak means x LAGS y
    (y leads by L days) and a negative-lag peak means x leads.

    Output per lag -max..+max: (lag int, n_pairs long, num long,
    den_x long, den_y long, xcorr double[6dp]) with
    xcorr = num / sqrt(den_x * den_y) — multiply, sqrt and divide are
    all correctly-rounded IEEE ops on identical operands (the product
    is formed in double: exact while den_x*den_y < 2^53, correctly
    rounded and engine-identical beyond).
    """
    base = daily.agg(F.count("*").cast("long").alias("n"),
                     F.sum("x").cast("long").alias("sx"),
                     F.sum("y").cast("long").alias("sy"))
    r = (daily
         .crossJoin(base)
         .select("day",
                 (F.col("x") - F.expr("sx DIV n")).cast("long")
                 .alias("rx"),
                 (F.col("y") - F.expr("sy DIV n")).cast("long")
                 .alias("ry")))
    den = r.agg(F.sum(F.col("rx") * F.col("rx")).cast("long")
                .alias("den_x"),
                F.sum(F.col("ry") * F.col("ry")).cast("long")
                .alias("den_y"))
    w = Window.orderBy("day")
    lagged = r.select(
        "rx", "ry",
        *[F.lag("ry", L).over(w).alias(f"ry_{L}")
          for L in range(1, _XCORR_MAX_LAG + 1)],
        *[F.lag("rx", L).over(w).alias(f"rx_{L}")
          for L in range(1, _XCORR_MAX_LAG + 1)])
    # lag L>0: x_t * y_{t-L}; lag L<0: x_{t-|L|} * y_t (same window)
    terms = ([f"{-L}, rx_{L} * ry" for L in range(_XCORR_MAX_LAG, 0, -1)]
             + ["0, rx * ry"]
             + [f"{L}, rx * ry_{L}" for L in range(1, _XCORR_MAX_LAG + 1)])
    n_terms = 2 * _XCORR_MAX_LAG + 1
    pairs = lagged.select(
        F.expr(f"stack({n_terms}, {', '.join(terms)}) AS (lag, prod)"))
    return (pairs
            .where(F.col("prod").isNotNull())
            .groupBy("lag")
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.sum("prod").cast("long").alias("num"))
            .crossJoin(den)
            .select(F.col("lag").cast("int").alias("lag"),
                    "n_pairs", "num", "den_x", "den_y",
                    # either series constant -> its den is 0: NULL
                    # xcorr, not 0/0 (ADVICE r7)
                    fround(F.when(
                        (F.col("den_x") > 0) & (F.col("den_y") > 0),
                        F.col("num").cast("double")
                        / F.sqrt(F.col("den_x").cast("double")
                                 * F.col("den_y").cast("double"))),
                        6).alias("xcorr"))
            .orderBy("lag"))


def events_click_purchase_xcorr(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Does click volume LEAD purchase revenue? Cross-correlation of
    the daily click count (x) against daily purchase dollars (y) at
    lags -7..+7 — the feed-forward diagnostic behind the funnel and
    attribution families (a negative-lag peak quantifies how many days
    of click momentum the revenue forecast may borrow).

    Both series come from ONE scan of events (conditional aggregation
    inside a single groupBy(day)) — no join, no second pass; days
    missing one event type contribute zero to that series, which is
    the correct dense-calendar semantics for counts and sums.
    """
    cat = Catalog(spark, sf_dir)
    daily = (cat.events
             .where(F.col("event_type").isin("click", "purchase"))
             .select(F.col("ts").cast("date").cast("timestamp")
                     .alias("day"),
                     "event_type", "value")
             .groupBy("day")
             .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                        .otherwise(0)).cast("long").alias("x"),
                  F.sum(F.when(F.col("event_type") == "purchase",
                               F.floor(F.col("value") * F.lit(100.0)
                                       + F.lit(0.5)).cast("long"))
                        .otherwise(0)).cast("long").alias("ycents"))
             .select("day", "x",
                     F.expr("ycents DIV 100").cast("long").alias("y")))
    return xcorr_fold(daily)


def _xcorr_sql() -> str:
    ry_lags = ",\n           ".join(
        f"LAG(ry, {L}) OVER (ORDER BY day) AS ry_{L}"
        for L in range(1, _XCORR_MAX_LAG + 1))
    rx_lags = ",\n           ".join(
        f"LAG(rx, {L}) OVER (ORDER BY day) AS rx_{L}"
        for L in range(1, _XCORR_MAX_LAG + 1))
    parts = (
        [f"SELECT {-L} AS lag, rx_{L} * ry AS prod FROM lagged "
         f"WHERE rx_{L} IS NOT NULL" for L in range(_XCORR_MAX_LAG, 0, -1)]
        + ["SELECT 0 AS lag, rx * ry AS prod FROM lagged"]
        + [f"SELECT {L} AS lag, rx * ry_{L} AS prod FROM lagged "
           f"WHERE ry_{L} IS NOT NULL" for L in range(1, _XCORR_MAX_LAG + 1)])
    pair_sel = "\n    UNION ALL ".join(parts)
    return f"""
WITH daily AS (
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS x,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) // 100 AS y
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY 1
),
base AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy
    FROM daily
),
r AS (
    SELECT d.day,
           CAST(d.x - b.sx // b.n AS BIGINT) AS rx,
           CAST(d.y - b.sy // b.n AS BIGINT) AS ry
    FROM daily d CROSS JOIN base b
),
den AS (
    SELECT CAST(SUM(rx * rx) AS BIGINT) AS den_x,
           CAST(SUM(ry * ry) AS BIGINT) AS den_y
    FROM r
),
lagged AS (
    SELECT day, rx, ry,
           {ry_lags},
           {rx_lags}
    FROM r
),
pairs AS (
    {pair_sel}
)
SELECT CAST(p.lag AS INT) AS lag,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(p.prod) AS BIGINT) AS num,
       d.den_x, d.den_y,
       {sql_fround('CASE WHEN d.den_x > 0 AND d.den_y > 0 THEN'
                   ' CAST(CAST(SUM(p.prod) AS BIGINT) AS DOUBLE)'
                   ' / SQRT(CAST(d.den_x AS DOUBLE)'
                   ' * CAST(d.den_y AS DOUBLE)) END', 6)} AS xcorr
FROM pairs p CROSS JOIN den d
GROUP BY p.lag, d.den_x, d.den_y
ORDER BY lag
"""


register("events_click_purchase_xcorr", events_click_purchase_xcorr,
         _xcorr_sql())
