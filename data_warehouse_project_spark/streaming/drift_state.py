"""Incremental drift-monitor maintainer — the streaming twin of the
batch rolling detector (plans/drift.events_value_drift_daily), built
on the shared idempotent-fold template (state_fold.py).

Production drift monitors pin the histogram spec at deploy time (a
reference binning from the training/baseline window): adaptive
global-min/max bins — what the batch detector derives per run — are
not mergeable across micro-batches, because a later batch could move
the bounds and invalidate every previously folded cell. So this
maintainer bins against the FIXED spec below (out-of-range values
clamp into the edge bins, exactly how a deployed monitor handles
excursions), and its state is the (day, bin) cell-count table — a
mergeable sum, folded idempotently per micro-batch.

Serving reads ONLY the maintained state: `drift_from_cells` (the
same detector math as the batch path, one shared implementation)
turns the O(days x bins) cell table into the per-day TVD/alarm
report — serving cost is independent of history size, the
anomalies_from_rollup_state pattern applied to drift.

Scale design (100 TB/day): each fold collapses the batch map-side to
(day, bin) partials — shuffle is days x 16 rows — and merges against
a state table of the same shape; state grows with the calendar, not
the corpus (a deployed monitor would TTL old days off the state like
streaming/ttl_window.py; the full table is kept here because the
serve step's trailing-7-day baseline needs only a bounded tail
anyway).

Cross-engine determinism: bin assignment is clamp + integer DIV on
exact value-hundredths; the oracle recomputes the identical fixed-
spec detector from raw events in SQL — state-served must be
indistinguishable from a full rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.compat import sql_fround
from ..plans.drift import _ALARM_TVD, _BINS, _TQ, drift_from_cells
from ..registry import register
from ..sources.catalog import Catalog
from .state_fold import key_split, replay

#: deploy-time histogram spec: value-hundredths, 16 bins of width 2048
#: covering [0, 32768); excursions clamp into the edge bins
SPEC_WIDTH = 2048


def _cells(events: DataFrame) -> DataFrame:
    """Fixed-spec (day_idx, day, bin, n) histogram cells of a batch."""
    vq = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    clamped = F.least(F.greatest(vq, F.lit(0)),
                      F.lit(_BINS * SPEC_WIDTH - 1))
    return (
        events
        .select(F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
                .cast("long").alias("day_idx"),
                F.to_date("ts").alias("day"),
                (clamped / F.lit(SPEC_WIDTH)).cast("long").alias("bin"))
        .groupBy("day_idx", "day", "bin")
        .agg(F.count("*").cast("long").alias("n"))
    )


def drift_state(events: DataFrame) -> DataFrame:
    """Build state from the first batch ever seen."""
    return _cells(events)


def merge_drift_state(prev: DataFrame, batch_events: DataFrame) -> DataFrame:
    """Fold a later batch's cells into prior state (mergeable sums)."""
    return (
        prev.unionByName(_cells(batch_events))
        .groupBy("day_idx", "day", "bin")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def drift_report_from_state(state: DataFrame) -> DataFrame:
    """Serve the per-day TVD/alarm report from maintained state —
    O(state), shared detector math with the batch path."""
    return drift_from_cells(
        state.select("day_idx", "day", "bin", "n"))


def events_drift_daily_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the drift report served from a two-batch
    incremental state build (the house arrival simulation — split by
    event_id parity, init from the first half, merge the second).
    Oracle = a FULL RECOMPUTE of the fixed-spec detector from raw
    events: state-served must be hash-identical to rescanning."""
    ev = Catalog(spark, sf_dir).events
    return drift_report_from_state(replay(
        key_split(ev, F.col("event_id"), 2), drift_state, merge_drift_state))


EVENTS_DRIFT_SERVED_SQL = f"""
WITH v AS (
    SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS BIGINT) AS day_idx,
           CAST(ts AS DATE) AS day,
           LEAST(GREATEST(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT), 0),
                 {_BINS * SPEC_WIDTH - 1}) // {SPEC_WIDTH} AS bin
    FROM events
),
counts AS (
    SELECT day_idx, day, bin, CAST(COUNT(*) AS BIGINT) AS n
    FROM v GROUP BY 1, 2, 3
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

register("events_drift_daily_served", events_drift_daily_served,
         EVENTS_DRIFT_SERVED_SQL)
