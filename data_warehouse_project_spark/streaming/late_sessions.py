"""Allowed-lateness sessionization — the watermark sibling of
streaming/sessions.py, completing the pattern late_transitions.py
established: where the strict sessionizer's contract requires
ts-ordered per-user arrival (sessions.py:10), this maintainer
tolerates ARBITRARY in-window disorder with Structured Streaming's
own `session_window + withWatermark` semantics, and needs no
retractions.

Why sessions are the canonical watermark case: a late event can do
three things a transition never can — join a session's interior
(n/value change only: it lands between two chained events ≤ GAP
apart, so membership is automatic), extend a session at either end,
or BRIDGE two separate sessions into one. All three are
insert-below-the-finalized-boundary hazards, so the finalization
rule must clear the gap too:

    a session is FINAL iff session_end ≤ horizon − GAP
    (horizon = watermark − LATENESS; admission is strictly above
    the horizon, so any future event e has e.ts > horizon ≥
    session_end + GAP — it can never attach, extend, or bridge).

State design: ONE parquet table (the state_fold.tagged_state
layout), three row kinds — 's' finalized session rows (immutable,
carrying their final per-user session_seq), 'b' the raw buffered
events of every unfinalized island (the lateness+gap tail; raw events
rather than aggregates because a bridging event must re-segment the
tail, and interval endpoints alone can't reproduce interior chain
gaps), 'w' watermark + dropped-late metric. One atomic staged swap,
the shared batch-id replay sentinel (state_fold.py).

Fold: admit batch events strictly above the previous horizon
(drop-and-count older), advance the watermark, run the batch twin's
OWN gaps-and-islands (batch_parity.session_islands — parity by
construction) over (buffer ∪ admitted), finalize the islands whose
end clears the new horizon − GAP, re-buffer the rest. Session
numbering is exact: sessions finalize in per-user start order
(end_A < start_B ⇒ A finalizes no later than B), so finalized seqs
are max-prev-seq + rank(start), and serving numbers the buffered
islands after the finalized count — making the served view EXACTLY
the batch twin's full recompute (the registered oracle) under any
disorder inside LATENESS. Values stay dsum-exact: events carry their
GUARD-scaled integer vq in the buffer; session sums are integer
adds, shifted once at serve (sessions.py's policy).

Scale: per fold — one action that reads the 'w' scalar and the
batch metadata together, one user-keyed island window over
(buffer ∪ admitted), and a final-vs-tail split; a buffered user with
no new events is re-segmented too, so its islands finalize as the
horizon advances. State is O(finalized sessions + events inside the
lateness+gap window + 1); the finalized majority is append-only —
the same partitioned-log refinement note as sessions.py applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compat import GUARD, _scaled, dsum_shift
from ..registry import register
from ..sources.catalog import Catalog
from .batch_parity import (EVENTS_SESSIONIZE_SQL, SESSION_GAP_S,
                           session_islands)
from .state_fold import (LATENESS_S, first_watermark, replay, tagged_state,
                         ts_split, watermark_prologue, watermark_row)

#: a buffered event's columns ('b' rows)
_BUFFER_COLS = ("user_id", "event_id", "ts", "vq")
#: a finalized session's columns ('s' rows)
_FINAL_COLS = ("user_id", "session_seq", "session_start", "session_end",
               "n_events", "value_q")


def _event_rows(events: DataFrame) -> DataFrame:
    return events.select(
        "user_id", "event_id", "ts",
        _scaled(F.col("value"), GUARD).alias("vq"))


def _islands_with_events(rows: DataFrame):
    """(per-event frame with island id, per-island aggregates)."""
    seq = session_islands(rows, seq_col="isl")
    aggs = (seq.groupBy("user_id", "isl")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count("*").cast("long").alias("n_events"),
                 F.sum("vq").cast("long").alias("value_q")))
    return seq.select(*_BUFFER_COLS, "isl"), aggs


def _split_final(rows: DataFrame, horizon):
    """Partition islands at the finalization boundary: final session
    aggregates (end ≤ horizon − GAP) and the raw events of every
    island that is still open to late arrivals."""
    import datetime as dt
    cutoff = horizon - dt.timedelta(seconds=SESSION_GAP_S)
    ev, aggs = _islands_with_events(rows)
    final = aggs.filter(F.col("session_end") <= F.lit(cutoff))
    open_keys = (aggs.filter(F.col("session_end") > F.lit(cutoff))
                 .select("user_id", "isl"))
    buffer = (ev.join(open_keys, ["user_id", "isl"], "left_semi")
              .select(*_BUFFER_COLS))
    return final, buffer


def _number_finals(final: DataFrame, base: DataFrame | None) -> DataFrame:
    """Assign per-user session_seq to newly finalized (or, at serve,
    buffered) sessions: prior max finalized seq (0 if none) + rank by
    start order. A None base (the bootstrap fold — nothing finalized
    before) skips the join and numbers from 1."""
    w = Window.partitionBy("user_id").orderBy("session_start",
                                              "session_end")
    if base is None:
        joined, seq0 = final, F.lit(0)
    else:
        joined = final.join(base, "user_id", "left")
        seq0 = F.coalesce(F.col("max_seq"), F.lit(0))
    return joined.select(
        "user_id",
        (seq0 + F.row_number().over(w)).cast("long").alias("session_seq"),
        *_FINAL_COLS[2:])


def late_sessions_state(events: DataFrame) -> DataFrame:
    """Build state from the first batch ever seen."""
    ev = _event_rows(events)
    wm, horizon = first_watermark(ev, LATENESS_S)
    final, buffer = _split_final(ev, horizon)
    return tagged_state(s=_number_finals(final, None), b=buffer,
                        w=watermark_row(ev.sparkSession, wm, 0,
                                        ev.schema["ts"].dataType))


def merge_late_sessions_state(prev: DataFrame,
                              batch_events: DataFrame) -> DataFrame:
    """Fold one arbitrarily-ordered batch (see module docstring;
    admission is strictly above the previous horizon — the shared
    state_fold.watermark_prologue holds the one copy of that
    correctness argument). The split runs once over (buffer ∪
    admitted): it works per user, so a user without new events still
    finalizes the islands the advancing horizon clears."""
    dropped, wm_new, horizon_new, admitted, n_late = \
        watermark_prologue(prev, _event_rows(batch_events), LATENESS_S)
    if wm_new is None:
        return prev

    final, buffer = _split_final(
        prev.filter(F.col("kind") == "b").select(*_BUFFER_COLS)
        .unionByName(admitted), horizon_new)
    finals_prev = prev.filter(F.col("kind") == "s").select(*_FINAL_COLS)
    base = (finals_prev.groupBy("user_id")
            .agg(F.max("session_seq").cast("long").alias("max_seq")))
    return tagged_state(
        s=finals_prev.unionByName(_number_finals(final, base)), b=buffer,
        w=watermark_row(prev.sparkSession, wm_new, dropped + n_late,
                        buffer.schema["ts"].dataType))


def state_to_view(state: DataFrame) -> DataFrame:
    """Serve the batch twin's session view: finalized rows ∪ the
    buffered tail's islands, numbered after each user's finalized
    count; dsum's final shift applied to the exact integer sums."""
    finals = state.filter(F.col("kind") == "s").select(*_FINAL_COLS)
    base = (finals.groupBy("user_id")
            .agg(F.max("session_seq").cast("long").alias("max_seq")))
    _, tail_aggs = _islands_with_events(
        state.filter(F.col("kind") == "b").select(*_BUFFER_COLS))
    return finals.unionByName(_number_finals(tail_aggs, base)).select(
        "user_id", "session_seq", "session_start", "session_end",
        "n_events", dsum_shift(F.col("value_q")).alias("session_value"))


def events_sessions_late_tolerant(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Registry entry: the same genuinely out-of-order split as
    events_transitions_late_tolerant — batch 1 spans to the midpoint
    minus a held-back (mid−6h, mid−3h] slice that batch 2 delivers
    3-6 h below batch 1's maximum. Oracle = the batch sessionizer's
    FULL-RECOMPUTE SQL: watermark finalization must make disorder
    invisible, session numbering and exact value sums included."""
    # the final state is checkpointed too: state_to_view reads it three
    # times (finalized rows, the per-user numbering base, the tail
    # re-segmentation); measured 7.65 s unpinned → 5.82 s pinned at sf0.1
    state = replay(ts_split(Catalog(spark, sf_dir).events, LATENESS_S),
                   late_sessions_state, merge_late_sessions_state,
                   checkpoint="eager")
    return state_to_view(state.localCheckpoint())


register("events_sessions_late_tolerant", events_sessions_late_tolerant,
         EVENTS_SESSIONIZE_SQL)
