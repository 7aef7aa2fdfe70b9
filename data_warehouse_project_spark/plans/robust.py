"""Robust statistics — exact winsorized / trimmed means per group.

The outlier-resistant cousins of the plain averages the dashboard
serves (plans/dashboard.py) and the exact complement of the sketch
path (``ship_latency_quantiles`` / ``approx_quantile_accuracy_floor``
use approx sketches; this family pins EXACT order statistics so the
robust location estimates are auditable).

Definitions (symmetric 5% trim): with n group rows sorted by value,
``lo = floor(0.05 * n)`` rows are affected on each side. The trimmed
mean averages ranks ``lo+1 .. n-lo``; the winsorized mean clamps every
value into ``[value@rank(lo+1), value@rank(n-lo)]`` before averaging.
Rank positions (not interpolated percentiles) keep every quantity an
exact integer — ties are harmless because equal values sum equally
whatever order row_number assigns them.

Cross-engine determinism: money is exact cents; sums of clamped /
trimmed cents are exact longs; the only IEEE ops are the final
divisions (correctly rounded, compat.py policy).

Scale design (100 TB): the rank pass is a per-group window sort —
the one operator family where a total order inside each group is the
semantics. The group key (order priority, 5 values) makes each group
huge at warehouse scale: the documented production path is two-phase
(approx-quantile cut candidates + a counting pass), with THIS exact
form run on sampled audits; for bounded-cardinality group values the
window sort itself is still a single range-sort per group with
map-side-combinable downstream aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..cache import pin
from ..functions.compat import fround, sql_fround
from ..operators.windows import disc_quantiles
from ..registry import register
from ..sources.catalog import Catalog
from .regression import nation_month_revenue

#: symmetric trim fraction
_TRIM = 0.05


def winsorized_stats(vals: DataFrame, group_col: str) -> DataFrame:
    """Per-group exact robust location report over (group, cents).

    Returns one row per group: n, p_lo / p_hi (the winsor bounds as
    currency), mean, winsorized_mean, trimmed_mean."""
    w = Window.partitionBy(group_col).orderBy("cents")
    ranked = (
        vals
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .withColumn("n", F.count("*")
                    .over(Window.partitionBy(group_col)).cast("long"))
        .withColumn("lo", F.floor(F.col("n").cast("double") * F.lit(_TRIM))
                    .cast("long"))
    )
    bounds = (
        ranked
        .groupBy(group_col)
        .agg(
            F.max(F.when(F.col("rk") == F.col("lo") + 1, F.col("cents")))
            .alias("c_lo"),
            F.max(F.when(F.col("rk") == F.col("n") - F.col("lo"),
                         F.col("cents"))).alias("c_hi"),
        )
    )
    folded = (
        ranked.join(bounds, group_col)
        .groupBy(group_col)
        .agg(
            F.max("n").alias("n"),
            F.max("c_lo").alias("c_lo"),
            F.max("c_hi").alias("c_hi"),
            F.sum("cents").cast("long").alias("sum_all"),
            F.sum(F.greatest(F.least(F.col("cents"), F.col("c_hi")),
                             F.col("c_lo"))).cast("long")
            .alias("sum_wins"),
            F.sum(F.when((F.col("rk") > F.col("lo"))
                         & (F.col("rk") <= F.col("n") - F.col("lo")),
                         F.col("cents")).otherwise(F.lit(0)))
            .cast("long").alias("sum_trim"),
            F.max("lo").alias("lo"),
        )
    )
    n = F.col("n").cast("double")
    kept = (F.col("n") - 2 * F.col("lo")).cast("double")
    return folded.select(
        group_col,
        F.col("n").alias("n_rows"),
        fround(F.col("c_lo").cast("double") / F.lit(100.0), 2).alias("p_lo"),
        fround(F.col("c_hi").cast("double") / F.lit(100.0), 2).alias("p_hi"),
        fround(F.col("sum_all").cast("double") / n / F.lit(100.0), 6)
        .alias("mean"),
        fround(F.col("sum_wins").cast("double") / n / F.lit(100.0), 6)
        .alias("winsorized_mean"),
        fround(F.col("sum_trim").cast("double") / kept / F.lit(100.0), 6)
        .alias("trimmed_mean"),
    ).orderBy(group_col)


def orders_price_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized / trimmed order-value report per order priority —
    the outlier-proof version of 'average order value by priority'."""
    cat = Catalog(spark, sf_dir)
    return winsorized_stats(
        cat.orders.select(
            F.col("o_orderpriority"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long").alias("cents")),
        "o_orderpriority")


ORDERS_PRICE_ROBUST_SQL = f"""
WITH vals AS (
    SELECT o_orderpriority,
           CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
    FROM orders
),
ranked AS (
    SELECT *,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                   ORDER BY cents) AS BIGINT) AS rk,
           CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
               AS n,
           CAST(FLOOR(CAST(COUNT(*) OVER (PARTITION BY o_orderpriority)
                           AS DOUBLE) * {_TRIM}) AS BIGINT) AS lo
    FROM vals
),
bounds AS (
    SELECT o_orderpriority,
           MAX(CASE WHEN rk = lo + 1 THEN cents END) AS c_lo,
           MAX(CASE WHEN rk = n - lo THEN cents END) AS c_hi
    FROM ranked GROUP BY 1
),
folded AS (
    SELECT r.o_orderpriority,
           MAX(r.n) AS n,
           MAX(b.c_lo) AS c_lo,
           MAX(b.c_hi) AS c_hi,
           CAST(SUM(r.cents) AS BIGINT) AS sum_all,
           CAST(SUM(GREATEST(LEAST(r.cents, b.c_hi), b.c_lo)) AS BIGINT)
               AS sum_wins,
           CAST(SUM(CASE WHEN r.rk > r.lo AND r.rk <= r.n - r.lo
                         THEN r.cents ELSE 0 END) AS BIGINT) AS sum_trim,
           MAX(r.lo) AS lo
    FROM ranked r JOIN bounds b USING (o_orderpriority)
    GROUP BY 1
)
SELECT o_orderpriority, n AS n_rows,
       {sql_fround('CAST(c_lo AS DOUBLE) / 100.0', 2)} AS p_lo,
       {sql_fround('CAST(c_hi AS DOUBLE) / 100.0', 2)} AS p_hi,
       {sql_fround('CAST(sum_all AS DOUBLE) / CAST(n AS DOUBLE) / 100.0', 6)}
           AS mean,
       {sql_fround('CAST(sum_wins AS DOUBLE) / CAST(n AS DOUBLE) / 100.0', 6)}
           AS winsorized_mean,
       {sql_fround('CAST(sum_trim AS DOUBLE)'
                   ' / CAST(n - 2 * lo AS DOUBLE) / 100.0', 6)}
           AS trimmed_mean
FROM folded
ORDER BY o_orderpriority
"""

register("orders_price_robust_stats", orders_price_robust_stats,
         ORDERS_PRICE_ROBUST_SQL)


# ---------------------------------------------------------------------------
# Two-pass exact median — the SCALE PATH for exact order statistics
# that winsorized_stats' docstring promises: no global sort anywhere.
# Pass 1 histograms each group into _MBINS fixed-width integer bins
# (shuffle = groups x bins partials, map-side combined) and locates
# the bin(s) holding the k-th order statistics from the cumulative
# counts; pass 2 rescans ONLY candidate-bin rows (expected n/_MBINS
# of each group) and ranks inside them — the rank window sorts tiny
# partitions instead of whole groups. This is the classic
# select-by-histogram refinement (one extra linear scan buys away the
# O(n log n) sort); at 100 TB the two scans are the cheap part and no
# executor ever materializes a group-wide sort run.
#
# The oracle is DELIBERATELY a different algorithm (row_number over a
# full per-group sort): matching results validate the histogram
# refinement itself, not a mirrored construction.

#: pass-1 histogram resolution for the two-pass median
_MBINS = 1024


def median_twopass(vals: DataFrame, group_col: str) -> DataFrame:
    """Exact per-group median of ``cents`` without a group-wide sort.

    Returns (group, n_rows, median) where median is the average of
    the two middle order statistics (1-indexed ranks (n+1) DIV 2 and
    (n+2) DIV 2 — equal when n is odd), in currency units."""
    bounds = pin(
        vals.groupBy(group_col).agg(
            F.count("*").cast("long").alias("n"),
            F.min("cents").alias("mn"),
            F.max("cents").alias("mx"),
        ).withColumn(
            "width",
            F.ceil((F.col("mx") - F.col("mn") + F.lit(1)).cast("double")
                   / F.lit(float(_MBINS))).cast("long"))
        .withColumn("k1", F.expr("(n + 1) DIV 2"))
        .withColumn("k2", F.expr("(n + 2) DIV 2"))
    )
    binned = pin(
        vals.join(F.broadcast(bounds.select(group_col, "mn", "width")),
                  group_col)
        .select(group_col, "cents",
                F.expr("(cents - mn) DIV width").alias("bin"))
    )
    hist = (
        binned.groupBy(group_col, "bin")
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn(
            "cum_hi",
            F.sum("cnt").over(Window.partitionBy(group_col)
                              .orderBy("bin")))
        .withColumn("cum_lo", F.col("cum_hi") - F.col("cnt"))
    )
    cands = (
        hist.join(bounds.select(group_col, "k1", "k2"),
                  group_col)
        .where(((F.col("cum_lo") < F.col("k1"))
                & (F.col("cum_hi") >= F.col("k1")))
               | ((F.col("cum_lo") < F.col("k2"))
                  & (F.col("cum_hi") >= F.col("k2"))))
        .select(group_col, "bin", "cum_lo", "k1", "k2")
    )
    probe = (
        binned.join(F.broadcast(cands), [group_col, "bin"])
        .withColumn(
            "grank",
            F.row_number().over(Window.partitionBy(group_col, "bin")
                                .orderBy("cents")).cast("long")
            + F.col("cum_lo"))
    )
    picks = (
        probe
        .where((F.col("grank") == F.col("k1"))
               | (F.col("grank") == F.col("k2")))
        .groupBy(group_col)
        .agg(F.max(F.when(F.col("grank") == F.col("k1"), F.col("cents")))
             .alias("v1"),
             F.max(F.when(F.col("grank") == F.col("k2"), F.col("cents")))
             .alias("v2"))
    )
    return (
        bounds.select(group_col, "n").join(picks, group_col)
        .select(
            group_col,
            F.col("n").alias("n_rows"),
            fround((F.col("v1") + F.col("v2")).cast("double")
                   / F.lit(2.0) / F.lit(100.0), 6).alias("median"),
        )
        .orderBy(group_col)
    )


def orders_price_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median order value per priority via the two-pass
    histogram refinement (no group-wide sort in the plan)."""
    cat = Catalog(spark, sf_dir)
    return median_twopass(
        cat.orders.select(
            F.col("o_orderpriority"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long").alias("cents")),
        "o_orderpriority")


ORDERS_MEDIAN_TWOPASS_SQL = f"""
WITH vals AS (
    SELECT o_orderpriority,
           CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
    FROM orders
),
ranked AS (
    SELECT o_orderpriority, cents,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                   ORDER BY cents) AS BIGINT) AS rk,
           CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
               AS n
    FROM vals
)
SELECT o_orderpriority,
       MAX(n) AS n_rows,
       {sql_fround('AVG(CASE WHEN rk = (n + 1) // 2 OR rk = (n + 2) // 2'
                   ' THEN CAST(cents AS DOUBLE) END) / 100.0', 6)}
           AS median
FROM ranked
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

register("orders_price_median_twopass", orders_price_median_twopass,
         ORDERS_MEDIAN_TWOPASS_SQL)

# --------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes)
# --------------------------------------------------------------------------

#: milli-cent quantization of pairwise slopes before the exact
#: discrete median (floor of an IEEE divide — identical both engines)
_TS_Q = 1000


def theilsen_fold(cells: DataFrame, group_col: str) -> DataFrame:
    """Theil-Sen estimator over (group, t: long, y: long) cells: the
    median of all pairwise slopes (y2-y1)/(t2-t1), t1 < t2 — the
    29%-breakdown robust alternative to OLS (Sen, JASA 1968): a few
    wild months drag a least-squares slope arbitrarily but cannot move
    the pairwise-slope median until ~29% of points are corrupted.

    Exactness: each slope quantizes to milli-units via
    floor((y2-y1)*Q / (t2-t1)) on doubles — (y2-y1)*Q stays well
    inside the 2^53 exact-integer range and floor-of-identical-IEEE-
    divide matches across engines regardless of sign (integer DIV
    would NOT: Spark truncates toward zero, DuckDB floors) — then the
    median is the exact lower discrete median of the quantized
    multiset (`operators.windows.disc_quantiles`).

    Scale: the pair generator is a per-group self-join over the
    BOUNDED series frame — months x months per group, calendar-sized
    both ways, never corpus-sized; the corpus term is whatever
    aggregation produced the cells."""
    a = cells.select(F.col(group_col),
                     F.col("t").alias("t1"), F.col("y").alias("y1"))
    b = cells.select(F.col(group_col),
                     F.col("t").alias("t2"), F.col("y").alias("y2"))
    slopes = (a.join(b, group_col)
              .where(F.col("t1") < F.col("t2"))
              .select(F.col(group_col),
                      F.floor((F.col("y2") - F.col("y1")).cast("double")
                              * F.lit(float(_TS_Q))
                              / (F.col("t2") - F.col("t1"))
                              .cast("double"))
                      .cast("long").alias("s_q")))
    return (disc_quantiles(slopes, [group_col], "s_q", {"med_q": (1, 2)})
            .select(group_col, F.col("n").alias("n_pairs"),
                    fround(F.col("med_q").cast("double")
                           / F.lit(float(_TS_Q)), 6)
                    .alias("sen_slope"))
            .orderBy(group_col))


def nation_revenue_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Theil-Sen trend of monthly order revenue (cents per
    month) — the robust twin of nation_revenue_trend_ols over the
    same (nation, month) cells (regression.nation_month_revenue), so
    the two trend readouts are directly comparable."""
    return theilsen_fold(nation_month_revenue(Catalog(spark, sf_dir)),
                         "nation")


NATION_REVENUE_THEILSEN_SQL = f"""
WITH cells AS (
    SELECT n.n_name AS nation,
           CAST((YEAR(o.o_orderdate) - 1995) * 12
                + MONTH(o.o_orderdate) - 1 AS BIGINT) AS t,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS y
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
),
slopes AS (
    SELECT a.nation,
           CAST(FLOOR(CAST(b.y - a.y AS DOUBLE) * {float(_TS_Q)}
                      / CAST(b.t - a.t AS DOUBLE)) AS BIGINT) AS s_q
    FROM cells a JOIN cells b
      ON a.nation = b.nation AND a.t < b.t
),
hist AS (
    SELECT nation, s_q, CAST(COUNT(*) AS BIGINT) AS c
    FROM slopes GROUP BY 1, 2
),
ranked AS (
    SELECT nation, s_q,
           SUM(c) OVER (PARTITION BY nation ORDER BY s_q
                        ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(c) OVER (PARTITION BY nation) AS n
    FROM hist
)
SELECT nation,
       CAST(MAX(n) AS BIGINT) AS n_pairs,
       {sql_fround(f'CAST(MIN(CASE WHEN cum * 2 >= n THEN s_q END)'
                   f' AS DOUBLE) / {float(_TS_Q)}', 6)} AS sen_slope
FROM ranked
GROUP BY nation
ORDER BY nation
"""

register("nation_revenue_theilsen", nation_revenue_theilsen,
         NATION_REVENUE_THEILSEN_SQL)


# --------------------------------------------------------------------------
# Distribution-free confidence interval for the median
# --------------------------------------------------------------------------

#: two-sided 95% normal critical value for the binomial rank bounds
_CI_Z = 1.96


def median_ci_fold(vals: DataFrame) -> DataFrame:
    """Distribution-free 95% CI for the median of a (v: long) column
    via binomial order-statistic ranks (the sign-test inversion,
    Conover "Practical Nonparametric Statistics" §3.2): with n rows,
    rank_lo = max(1, floor((n - z*sqrt(n))/2)), rank_hi = n-rank_lo+1,
    and the interval [x_(rank_lo), x_(rank_hi)] covers the true
    median with >= 95% probability WHATEVER the distribution — the
    error-bar the exact-median family (median_twopass) reports
    without. The median itself uses the lower discrete rank
    (n+1) DIV 2, matching the repo's discrete-order-statistic
    convention.

    Everything is integers except z*sqrt(n) (multiply + sqrt:
    correctly-rounded IEEE, then floor) — so all seven output columns
    are exact BIGINTs and the oracle hash-match is unconditional.

    Scale: one map-side-combined value-domain histogram (the MW /
    median-twopass discipline), a prefix window over the bounded
    histogram, and three conditional-min rank lookups in ONE
    aggregation pass.
    """
    hist = (vals.groupBy("v")
            .agg(F.count("*").cast("long").alias("cnt")))
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = hist.select("v", F.sum("cnt").over(w).cast("long").alias("cum"))
    n_row = vals.agg(F.count("*").cast("long").alias("n"))
    nd = F.col("n").cast("double")
    lo = F.greatest(
        F.lit(1).cast("long"),
        F.floor((nd - F.lit(_CI_Z) * F.sqrt(nd)) / F.lit(2.0))
        .cast("long"))
    joined = (cum.crossJoin(n_row)
              .withColumn("rank_lo", lo)
              .withColumn("rank_med",
                          F.expr("(n + 1) DIV 2").cast("long"))
              .withColumn("rank_hi",
                          (F.col("n") - lo + F.lit(1)).cast("long")))
    return joined.agg(
        F.max("n").alias("n"),
        F.max("rank_lo").alias("rank_lo"),
        F.max("rank_med").alias("rank_med"),
        F.max("rank_hi").alias("rank_hi"),
        F.min(F.when(F.col("cum") >= F.col("rank_lo"), F.col("v")))
        .cast("long").alias("ci_lo"),
        F.min(F.when(F.col("cum") >= F.col("rank_med"), F.col("v")))
        .cast("long").alias("median_lo"),
        F.min(F.when(F.col("cum") >= F.col("rank_hi"), F.col("v")))
        .cast("long").alias("ci_hi"))


def orders_price_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% distribution-free CI for the median order value (whole
    dollars) — the companion error-bar to orders_price_median_twopass:
    one row (n, rank_lo, rank_med, rank_hi, ci_lo, median_lo, ci_hi),
    all exact BIGINTs."""
    cat = Catalog(spark, sf_dir)
    return median_ci_fold(cat.orders.select(
        F.expr("CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)"
               " DIV 100").alias("v")))


ORDERS_MEDIAN_CI_SQL = f"""
WITH vals AS (
    SELECT CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) // 100 AS v
    FROM orders
),
cum AS (
    SELECT v, CAST(SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
    FROM (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM vals GROUP BY v)
),
nrow AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vals),
ranks AS (
    SELECT n,
           GREATEST(CAST(1 AS BIGINT),
                    CAST(FLOOR((CAST(n AS DOUBLE)
                                - {_CI_Z} * SQRT(CAST(n AS DOUBLE)))
                               / 2.0) AS BIGINT)) AS rank_lo,
           CAST((n + 1) // 2 AS BIGINT) AS rank_med
    FROM nrow
)
SELECT MAX(r.n) AS n,
       MAX(r.rank_lo) AS rank_lo,
       MAX(r.rank_med) AS rank_med,
       MAX(r.n - r.rank_lo + 1) AS rank_hi,
       CAST(MIN(CASE WHEN c.cum >= r.rank_lo THEN c.v END) AS BIGINT)
           AS ci_lo,
       CAST(MIN(CASE WHEN c.cum >= r.rank_med THEN c.v END) AS BIGINT)
           AS median_lo,
       CAST(MIN(CASE WHEN c.cum >= r.n - r.rank_lo + 1 THEN c.v END)
            AS BIGINT) AS ci_hi
FROM cum c CROSS JOIN ranks r
"""

register("orders_price_median_ci", orders_price_median_ci,
         ORDERS_MEDIAN_CI_SQL)
