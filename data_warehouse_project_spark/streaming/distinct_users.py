"""Incremental distinct-users maintenance — a per-(event_type, day)
DataSketches HLL state folded forward per micro-batch, the streaming
answer to "daily unique users per event type" that never rescans
history.

Exact distinct is the one aggregate that CANNOT be maintained
incrementally from counts alone (yesterday's count + today's count
double-counts returning users); the industry-standard fix is a
MERGEABLE sketch: keep one HLL per key, union new batches in, read
estimates out. Spark ships the Apache DataSketches HLL as
hll_sketch_agg / hll_union_agg / hll_sketch_estimate (public API
since 3.5) — sketches are binary-stable and their union is exactly
associative, so incremental maintenance is BIT-identical to a
single-pass sketch of all history (pinned by unit test, not just
approximately equal).

State design (the transitions.py template): one parquet table
(event_type, day, sketch binary) plus the batch-id sentinel column;
staged-swap overwrite (writes.py) keeps the state atomic; the
sentinel makes at-least-once foreachBatch replays no-ops.

Scale: per batch, one map-side-combined sketch aggregation on the
(type, day) key (shuffle = keys × sketch bytes, not events); the
merge with prior state shuffles only key-space rows (types × days —
thousands, vs billions of events). State size is O(keys × 4 KiB),
independent of user count — the entire point of the sketch.

Driver surface: the registered query replays history as a two-batch
ts-ordered arrival, then emits per-key rows gating the estimate
against the EXACT per-key distinct count (both engines compute the
key set exactly; the boolean is integer arithmetic) — so the oracle
is real per-key SQL, not a pinned one-row constant, and a key-set
drift or estimator regression both hash-mismatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..sources.catalog import Catalog
from .state_fold import replay, ts_split

#: max relative error the per-key gate tolerates, percent. Default
#: lgConfigK=12 gives ~1.6% rsd; 5% ≈ 3 sigma, and per-(type, day)
#: cardinalities here sit in HLL's near-exact sparse range anyway.
GATE_PCT = 5


def _keyed(events: DataFrame) -> DataFrame:
    return (events
            .filter(F.col("user_id").isNotNull())
            .select("event_type",
                    F.date_trunc("day", F.col("ts")).alias("day"), "user_id"))


def distinct_state(events: DataFrame) -> DataFrame:
    """Per-(event_type, day) HLL sketch of user_id from one batch."""
    return (_keyed(events)
            .groupBy("event_type", "day")
            .agg(F.hll_sketch_agg("user_id").alias("sk")))


def merge_distinct_state(prev: DataFrame,
                         batch_events: DataFrame) -> DataFrame:
    """Union-merge a batch's sketches into the state (associative —
    result is bit-identical to sketching all history at once)."""
    delta = distinct_state(batch_events)
    return (prev.select("event_type", "day", "sk")
            .unionByName(delta)
            .groupBy("event_type", "day")
            .agg(F.hll_union_agg("sk").alias("sk")))


def state_to_estimates(state: DataFrame) -> DataFrame:
    """(event_type, day, approx_users) from the sketch state."""
    return (state
            .select("event_type", "day",
                    F.hll_sketch_estimate("sk").cast("long")
                    .alias("approx_users"))
            .orderBy("event_type", "day"))


def events_distinct_users_incremental(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Registry entry: replay history as a ts-ordered two-batch
    arrival (state from the first half, second half folded in), then
    gate each key's estimate against the exact distinct count. The
    exact side is the recompute the sketch replaces — run here only
    to certify it (the hll_distinct_accuracy_floor discipline, but
    per key and incremental)."""
    ev = Catalog(spark, sf_dir).events
    state = replay(ts_split(ev), distinct_state, merge_distinct_state)
    est = state_to_estimates(state)
    exact = (_keyed(ev)
             .groupBy("event_type", "day")
             .agg(F.count_distinct("user_id").cast("long")
                  .alias("exact_users")))
    return (est.join(exact, ["event_type", "day"])
            .select("event_type", "day", "exact_users",
                    (F.abs(F.col("approx_users") - F.col("exact_users"))
                     * 100 <= F.col("exact_users") * GATE_PCT)
                    .alias("within_gate"))
            .orderBy("event_type", "day"))


DISTINCT_USERS_SQL = """
SELECT event_type, date_trunc('day', ts) AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_gate
FROM events
WHERE user_id IS NOT NULL
GROUP BY 1, 2
ORDER BY event_type, day
"""

register("events_distinct_users_incremental",
         events_distinct_users_incremental, DISTINCT_USERS_SQL)
