"""Allowed-lateness incremental transition mining — the out-of-order
answer to streaming/transitions.py's ordering contract (batches
ts-ordered per user). It needs no retractions: it applies Structured
Streaming's own watermark discipline to the chained-transition fold.

The strict maintainer finalizes a user's last transition the moment
the next batch arrives, so an event that lands BETWEEN two
already-linked events miscounts — the linked pair (a→c) was counted
and the true pairs (a→b, b→c) never can be without decrementing.
Instead of retracting, this maintainer refuses to finalize early:

- state carries an event-time WATERMARK (max ts seen) and an
  allowed-lateness horizon = watermark − LATENESS;
- a per-user BUFFER holds every event above the horizon (the
  unfinalized tail) plus ONE anchor — the user's latest event at or
  below the horizon, the predecessor of the first unfinalized
  transition;
- each fold admits batch events STRICTLY above the PREVIOUS horizon
  (ties at the horizon and older are dropped and counted — the
  watermark contract; strictness is what makes finalized counts
  permanent, see state_fold.watermark_prologue),
  sorts (buffer ∪ admitted) per user, and finalizes exactly the
  consecutive pairs whose LATER endpoint is at or below the NEW
  horizon: no future event can ever insert below the horizon, so a
  finalized count is permanent — by construction, not by retraction;
- serving unions the finalized counts with the transitions of the
  buffered tail, which makes the served report EXACTLY the batch
  twin's full recompute at any point (the registered oracle), while
  an event more disordered than LATENESS is dropped loudly (metric
  row), never silently miscounted.

State design: ONE parquet table, three row kinds ('c' finalized
counts, 'b' buffer events, 'w' watermark + dropped-count metric; the
state_fold.tagged_state layout), one atomic staged swap, the shared
batch-id replay sentinel (state_fold.py). State size is
O(event_type² + users + events inside the lateness window) — the
lateness window is the price of disorder tolerance, and it is exactly
the state Structured Streaming's own watermarked operators keep.

Scale: per fold — one bounded scalar read (the 'w' row, merged with
the batch's max ts), one user-keyed window over (buffer ∪ admitted
batch), a (type × type) delta aggregate, and a count merge. The
buffer is the lateness window plus one anchor per user, so the window
is O(batch + buffer); a buffered user with no new events still
finalizes what the advancing horizon clears. History is never
rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..sources.catalog import Catalog
from .batch_parity import (EVENTS_TRANSITIONS_SQL, add_transition_counts,
                           transition_counts, transition_report)
from .state_fold import (LATENESS_S, first_watermark, replay, tagged_state,
                         ts_split, watermark_prologue, watermark_row)
from .transitions import count_rows

#: an event's columns in the fold (the 'b' rows)
_BUFFER_COLS = ("user_id", "ts", "event_id", "event_type")


def _tail_split(events: DataFrame, horizon) -> tuple[DataFrame, DataFrame]:
    """(finalized-pair deltas, new buffer) from per-user sorted events:
    finalize consecutive pairs whose later endpoint is ≤ horizon; keep
    everything above the horizon plus one anchor per user (the latest
    event ≤ horizon)."""
    delta = transition_counts(events, F.col("ts") <= F.lit(horizon))
    anchor = (events.filter(F.col("ts") <= F.lit(horizon))
              .groupBy("user_id")
              .agg(F.max_by(
                  F.struct("ts", "event_id", "event_type"),
                  F.struct("ts", "event_id")).alias("s"))
              .select("user_id", "s.ts", "s.event_id", "s.event_type"))
    buffer = (events.filter(F.col("ts") > F.lit(horizon))
              .select(*_BUFFER_COLS).unionByName(anchor))
    return delta, buffer


def late_transitions_state(events: DataFrame) -> DataFrame:
    """Build state from the first batch: watermark = max ts, finalize
    below (watermark − LATENESS), buffer the tail + anchors."""
    ev = events.select(*_BUFFER_COLS)
    wm, horizon = first_watermark(ev, LATENESS_S)
    delta, buffer = _tail_split(ev, horizon)
    return tagged_state(c=delta, b=buffer, w=watermark_row(
        ev.sparkSession, wm, 0, ev.schema["ts"].dataType))


def merge_late_transitions_state(prev: DataFrame,
                                 batch_events: DataFrame) -> DataFrame:
    """Fold one arbitrarily-ordered batch: admit events strictly
    above the PREVIOUS horizon (drop-and-count the rest), advance the
    watermark, finalize newly-below-horizon pairs, re-buffer. The
    split runs once over (buffer ∪ admitted): it works per user, so a
    user without new events still finalizes the pairs the advancing
    horizon clears."""
    dropped, wm_new, horizon_new, admitted, n_late = \
        watermark_prologue(prev, batch_events.select(*_BUFFER_COLS),
                           LATENESS_S)
    if wm_new is None:           # still no events anywhere
        return prev

    delta, buffer = _tail_split(
        prev.filter(F.col("kind") == "b").select(*_BUFFER_COLS)
        .unionByName(admitted), horizon_new)
    return tagged_state(
        c=add_transition_counts(count_rows(prev), delta), b=buffer,
        w=watermark_row(prev.sparkSession, wm_new, dropped + n_late,
                        buffer.schema["ts"].dataType))


def state_to_report(state: DataFrame) -> DataFrame:
    """Serve the batch twin's top-K report: finalized counts ⊎ the
    buffered tail's transitions (anchor → first unfinalized pair
    included — it was deliberately NOT finalized)."""
    tail = transition_counts(
        state.filter(F.col("kind") == "b").select(*_BUFFER_COLS), None)
    return transition_report(add_transition_counts(count_rows(state), tail))


def events_transitions_late_tolerant(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Registry entry: a genuinely OUT-OF-ORDER two-batch arrival —
    batch 1 is everything at or below the midpoint EXCEPT a held-back
    3-hour slice just under it; batch 2 delivers the rest of the
    stream PLUS that slice, so its events interleave 3 hours below
    batch 1's maximum (disorder the strict maintainer's contract
    forbids, well inside LATENESS). The oracle is the batch twin's
    FULL-RECOMPUTE SQL: watermark finalization must make disorder
    invisible. (One bounded metadata collect picks the split; the
    fold's own scalar reads are the 'w' row.)"""
    # the final state is checkpointed too: the report reads it twice
    # (interleaved A/B 3.95/3.74/2.98 → 3.76/3.13/2.91 s at sf0.1)
    state = replay(ts_split(Catalog(spark, sf_dir).events, LATENESS_S),
                   late_transitions_state, merge_late_transitions_state,
                   checkpoint="eager")
    return state_to_report(state.localCheckpoint())


register("events_transitions_late_tolerant",
         events_transitions_late_tolerant, EVENTS_TRANSITIONS_SQL)
