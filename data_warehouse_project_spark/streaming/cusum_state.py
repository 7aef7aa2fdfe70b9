"""Incremental CUSUM maintainer — the streaming twin of the batch
mean-shift detector (plans/drift.orders_revenue_cusum), on the shared
idempotent-fold template (state_fold.py).

Why the state is the daily-sums table and not an O(1) (cumsum,
prefix-min) carry: the prefix-min identity DOES fold associatively
for ordered appends (min_new = min(min_old, sum_old + batch's prefix
min)), but a LATE order belonging to an old day changes that day's
total and invalidates every cumulative value after it — an O(1)
carry can't absorb that, while the per-day sums table absorbs it as
one mergeable addition. The sufficient statistic for the WHOLE CUSUM
trajectory under arbitrary disorder is exactly the (day, cents)
table, and it is calendar-bounded (days, not orders), so carrying it
costs state independent of corpus size. The same argument covers the
data-derived baseline (a late 1995 order moves mu0).

Serving runs plans/drift.cusum_fold — the SAME detector
implementation as the batch path — over the maintained table, so
state-served is indistinguishable from a full rescan by construction,
and the oracle for the served query IS the batch query's full-
recompute SQL.

Scale (100 TB/day): each fold collapses the batch map-side to daily
partials (shuffle = days touched by the batch) and merges against a
days-sized state; the serve step's windows run over the bounded
calendar frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.drift import (ORDERS_REVENUE_CUSUM_SQL, cusum_fold,
                           daily_revenue_cents)
from ..registry import register
from ..sources.catalog import Catalog
from ..plans.acf import _acf_sql, acf_fold
from .state_fold import key_split, replay


def _daily(orders_batch: DataFrame) -> DataFrame:
    """(day, cents) daily revenue partials of one batch of orders —
    the batch detector's own grain definition, so the two paths can
    never drift apart (review finding, round 7)."""
    return daily_revenue_cents(orders_batch)


def cusum_state(orders_batch: DataFrame) -> DataFrame:
    """Build state from the first batch ever seen."""
    return _daily(orders_batch)


def merge_cusum_state(prev: DataFrame,
                      orders_batch: DataFrame) -> DataFrame:
    """Fold a later batch's daily partials into prior state
    (mergeable sums — late days simply add to their rows)."""
    return (prev.unionByName(_daily(orders_batch))
            .groupBy("day")
            .agg(F.sum("cents").cast("long").alias("cents")))


def _served_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The served queries' arrival: orders folded in two batches by
    o_orderkey parity."""
    return replay(key_split(Catalog(spark, sf_dir).orders,
                            F.col("o_orderkey"), 2),
                  cusum_state, merge_cusum_state)


def cusum_report_from_state(state: DataFrame) -> DataFrame:
    """Serve the day-level CUSUM trajectory from maintained state —
    O(state), shared detector math with the batch path."""
    return cusum_fold(state.select("day", "cents"))


def orders_cusum_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the CUSUM report served from a two-batch
    incremental state build (split by o_orderkey parity — each half
    spans the full date range, so the merge exercises per-day
    addition on every state row, not append). Oracle = the batch
    detector's full-recompute SQL from raw orders: state-served must
    be hash-identical to rescanning history."""
    return cusum_report_from_state(_served_state(spark, sf_dir))


register("orders_cusum_served", orders_cusum_served,
         ORDERS_REVENUE_CUSUM_SQL)


def acf_report_from_state(state: DataFrame) -> DataFrame:
    """Serve the autocorrelation diagnostic from the SAME maintained
    daily-sums state the CUSUM reads — one state table, every
    day-grain monitor served O(state): the detector (CUSUM), the
    memory diagnostic (ACF), and any future daily-series consumer.
    Shared fold math with the batch path (plans/acf.acf_fold on the
    identical dollars projection), so state-served is
    indistinguishable from a full rescan by construction."""
    return acf_fold(state.select(
        "day", F.expr("cents DIV 100").cast("long").alias("v")))


def orders_acf_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the lag-1..14 revenue ACF served from a
    two-batch incremental state build (key-parity split — both halves
    span all days, so the merge exercises per-day addition on every
    state row). Oracle = the batch ACF's full-recompute SQL from raw
    orders: state-served must be hash-identical to rescanning
    history."""
    return acf_report_from_state(_served_state(spark, sf_dir))


register("orders_acf_served", orders_acf_served, _acf_sql())
