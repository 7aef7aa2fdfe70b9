"""Incremental per-user transition mining — the streaming-maintained
form of events_top_transitions (streaming/batch_parity.py).

It counts pairs with its batch twin's transition_counts. Recomputing
from scratch on every refresh rescans all history; this module
maintains the same answer incrementally: per micro-batch it counts
only the batch's NEW transitions (including the one that crosses the
batch boundary, via a carried per-user last-event row) and adds them
into a persisted count state.

State design — ONE parquet table, two row kinds (the
state_fold.tagged_state layout), one atomic swap:
- kind='c': (prev_type, next_type, n) additive transition counts;
- kind='l': (user_id, last_ts, last_event_id, last_type) — each
  user's latest event, the carry that stitches the first event of the
  next batch onto the last event of the previous one.
A single table means a single staged-swap overwrite (writes.py:223) —
counts and carries can never disagree after a crash. The batch-id
sentinel rides the same table (same at-least-once replay guard as the
rollup maintainer, plans/incremental.py:77-84).

Ordering contract: batches must arrive ts-ordered PER USER (every
event in batch N+1 is at or after the user's carried last event) —
the watermark-finalized arrival order a production feed provides.
Within a batch, order is free (the LAG window sorts). Out-of-order
cross-batch arrivals are handled by streaming/late_transitions.py
(allowed-lateness buffer + finalize-below-horizon — watermark
discipline, no retractions); this strict form stays the cheaper
O(users) state for feeds that really are ordered.

Scale: per batch, one user_id-keyed window over (batch ∪ carries for
users in the batch — bounded by batch size + active users), a tiny
(type × type) delta agg, and a count-merge shuffle on the (type ×
type) key space. History is never rescanned; state size is
O(users + event_type²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..sources.catalog import Catalog
from .batch_parity import (EVENTS_TRANSITIONS_SQL, add_transition_counts,
                           transition_counts, transition_report)
from .state_fold import replay, tagged_state, ts_split


def _events_cols(events: DataFrame) -> DataFrame:
    return events.select("user_id", "event_id", "ts", "event_type")


def _last_events(ev: DataFrame) -> DataFrame:
    """The 'l' rows: each user's latest event by (ts, event_id)."""
    return (
        ev.groupBy("user_id")
        .agg(F.max_by(
            F.struct(F.col("ts").alias("last_ts"),
                     F.col("event_id").alias("last_event_id"),
                     F.col("event_type").alias("last_type")),
            F.struct("ts", "event_id")).alias("s"))
        .select("user_id", "s.last_ts", "s.last_event_id", "s.last_type")
    )


def count_rows(state: DataFrame) -> DataFrame:
    """The 'c' rows of a transition state (this module's and
    late_transitions.py's layout) as a ``transition_counts`` frame."""
    return (state.filter(F.col("kind") == "c")
            .select("prev_type", "next_type", "n"))


def transitions_state(events: DataFrame) -> DataFrame:
    """Build the unified state from a (first) batch of events."""
    ev = _events_cols(events)
    return tagged_state(c=transition_counts(ev, None), l=_last_events(ev))


def merge_transitions_state(prev: DataFrame,
                            batch_events: DataFrame) -> DataFrame:
    """Fold a batch into the state: counting over (carry ∪ batch) per
    user counts exactly the batch's new transitions — a carry is never
    the NEXT side (everything in the batch sorts after it), and each
    carry has a NULL prev in this window, so transitions already
    counted in earlier batches can never recount."""
    ev = _events_cols(batch_events)
    carries = (
        prev.filter(F.col("kind") == "l")
        .select("user_id", F.col("last_event_id").alias("event_id"),
                F.col("last_ts").alias("ts"),
                F.col("last_type").alias("event_type"))
    )
    delta = transition_counts(
        carries.withColumn("from_batch", F.lit(False))
        .unionByName(ev.withColumn("from_batch", F.lit(True))),
        F.col("from_batch"))
    return tagged_state(c=add_transition_counts(count_rows(prev), delta),
                        l=_last_events(carries.unionByName(ev)))


def state_to_report(state: DataFrame) -> DataFrame:
    """Render the count rows as the batch twin's top-K report."""
    return transition_report(count_rows(state))


def events_transitions_incremental(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Registry entry: split events at the midpoint timestamp (a
    ts-ordered two-batch arrival), build state from the first half,
    fold the second in, and render the report. The oracle is the
    batch twin's FULL-RECOMPUTE SQL — incremental maintenance must be
    indistinguishable from recomputing history (the only collect is a
    one-row min/max metadata read to pick the split point)."""
    state = replay(ts_split(Catalog(spark, sf_dir).events),
                   transitions_state, merge_transitions_state)
    return state_to_report(state)


register("events_transitions_incremental", events_transitions_incremental,
         EVENTS_TRANSITIONS_SQL)
