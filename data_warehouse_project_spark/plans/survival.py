"""Survival analysis over the order history — the Kaplan-Meier
estimator (Kaplan & Meier, JASA 1958) on customer lifetime, the
time-to-event family none of the drift/trend monitors cover: "how
long do customers stay active, accounting for the ones still active?"
Right-censoring is the whole point — dropping still-active customers
(or counting them as churned) biases any plain average lifetime.

Event definition (pragmatic cutoff inference, documented operator
semantics applied identically in the oracle): a customer has CHURNED
if their last order predates the dataset horizon (max order date) by
more than _CHURN_GAP_DAYS; their event time is last−first order days.
Otherwise they are CENSORED at horizon−first days (still active when
observation ended).

Cross-engine determinism: risk sets, event and censor counts are pure
integers off one per-customer aggregate; the hazard is a single IEEE
divide of identical longs (fround'd); the log-survival accumulates
per-time ln(1 − d/n) terms quantized to micro-units BEFORE the
cumulative sum (compat.py policy — ln is the one libm call, same
1-ulp-at-a-.5-boundary residual class as doc_lm_cross_entropy, and
tests/test_quantization_margin.py's guard-band argument applies).
Probability-space survival is exp(log_surv_micro/1e6), left to the
consumer so no second transcendental enters the hashed output. Rows
where d = n (the risk set dies out at the last event time) carry
surv_zero = TRUE and a NULL term — S(t) is exactly 0 from there on.

Scale (100 TB): the per-customer first/last aggregate is the only
corpus-sized shuffle (map-side combinable); the KM fold runs on the
bounded distinct-duration frame (≤ calendar days), so the
unpartitioned ordered windows are exact bounded work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compat import _scaled, fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog

#: a customer whose last order predates the horizon by more than this
#: many days is considered churned (event); otherwise censored
_CHURN_GAP_DAYS = 90

#: micro-unit quantization of the per-time ln(1 - d/n) survival terms
_LOG_Q = 6


def customer_churn_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier curve of customer active lifetime: one row per
    observed duration (days from first order) with the risk set,
    churn events, censorings, the discrete hazard d/n, and the
    running quantized log-survival."""
    cat = Catalog(spark, sf_dir)
    per_cust = (cat.orders
                .groupBy("o_custkey")
                .agg(F.min("o_orderdate").alias("first_dt"),
                     F.max("o_orderdate").alias("last_dt")))
    horizon = per_cust.agg(F.max("last_dt").alias("h"))
    lifet = (per_cust.crossJoin(horizon)
             .select(
                 (F.datediff("h", "last_dt") > _CHURN_GAP_DAYS)
                 .alias("churned"),
                 F.when(F.datediff("h", "last_dt") > _CHURN_GAP_DAYS,
                        F.datediff("last_dt", "first_dt"))
                 .otherwise(F.datediff("h", "first_dt"))
                 .cast("long").alias("t_days")))
    return km_fold(lifet)


def km_fold(lifet: DataFrame) -> DataFrame:
    """Kaplan-Meier fold over per-subject (churned: boolean, t_days:
    long) rows — split out so hand-computed cohorts pin the risk-set,
    hazard and quantized log-survival math (tests/test_survival.py)."""
    times = (lifet.groupBy("t_days")
             .agg(F.sum(F.when(F.col("churned"), 1).otherwise(0))
                  .cast("long").alias("d_churned"),
                  F.sum(F.when(F.col("churned"), 0).otherwise(1))
                  .cast("long").alias("c_censored")))
    w_all = (Window.orderBy("t_days")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    w_prior = (Window.orderBy("t_days")
               .rowsBetween(Window.unboundedPreceding, -1))
    w_cum = (Window.orderBy("t_days")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = times.select(
        "t_days", "d_churned", "c_censored",
        (F.sum(F.col("d_churned") + F.col("c_censored")).over(w_all)
         - F.coalesce(
             F.sum(F.col("d_churned") + F.col("c_censored")).over(w_prior),
             F.lit(0))).cast("long").alias("n_risk"))
    frac = (F.col("d_churned").cast("double")
            / F.col("n_risk").cast("double"))
    term = F.when(F.col("d_churned") < F.col("n_risk"),
                  _scaled(F.log(F.lit(1.0) - frac), _LOG_Q))
    return (risk.select(
                "t_days", "n_risk", "d_churned", "c_censored",
                fround(frac, 9).alias("hazard"),
                F.sum(term).over(w_cum).cast("long")
                .alias("log_surv_micro"),
                (F.col("d_churned") == F.col("n_risk"))
                .alias("surv_zero"))
            .orderBy("t_days"))


CUSTOMER_CHURN_SURVIVAL_SQL = f"""
WITH per_cust AS (
    SELECT o_custkey, MIN(o_orderdate) AS first_dt,
           MAX(o_orderdate) AS last_dt
    FROM orders GROUP BY 1
),
horizon AS (SELECT MAX(last_dt) AS h FROM per_cust),
lifet AS (
    SELECT DATEDIFF('day', p.last_dt, x.h) > {_CHURN_GAP_DAYS} AS churned,
           CAST(CASE WHEN DATEDIFF('day', p.last_dt, x.h)
                          > {_CHURN_GAP_DAYS}
                THEN DATEDIFF('day', p.first_dt, p.last_dt)
                ELSE DATEDIFF('day', p.first_dt, x.h) END AS BIGINT)
               AS t_days
    FROM per_cust p CROSS JOIN horizon x
),
times AS (
    SELECT t_days,
           CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
               AS d_churned,
           CAST(SUM(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT)
               AS c_censored
    FROM lifet GROUP BY 1
),
risk AS (
    SELECT t_days, d_churned, c_censored,
           CAST(SUM(d_churned + c_censored) OVER ()
                - COALESCE(SUM(d_churned + c_censored)
                           OVER (ORDER BY t_days
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
    FROM times
)
SELECT t_days, n_risk, d_churned, c_censored,
       {sql_fround('CAST(d_churned AS DOUBLE) / CAST(n_risk AS DOUBLE)', 9)}
           AS hazard,
       CAST(SUM(CASE WHEN d_churned < n_risk THEN
                CAST(FLOOR(LN(1.0 - CAST(d_churned AS DOUBLE)
                                 / CAST(n_risk AS DOUBLE))
                           * {float(10 ** _LOG_Q)} + 0.5) AS BIGINT)
                END)
            OVER (ORDER BY t_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS log_surv_micro,
       d_churned = n_risk AS surv_zero
FROM risk
ORDER BY t_days
"""

register("customer_churn_survival", customer_churn_survival,
         CUSTOMER_CHURN_SURVIVAL_SQL)
