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

State design: ONE parquet table, three row kinds — 's' finalized
session rows (immutable, carrying their final per-user session_seq),
'b' the raw buffered events of every unfinalized island (the
lateness+gap tail; raw events rather than aggregates because a
bridging event must re-segment the tail, and interval endpoints
alone can't reproduce interior chain gaps), 'w' watermark +
dropped-late metric. One atomic staged swap, the shared batch-id
replay sentinel (state_fold.py).

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

Scale: per fold — one bounded 'w' scalar read, one merged
batch-metadata action, one user-keyed island window over
(buffer-for-batch-users ∪ admitted) with untouched buffer users
re-segmented only against the advancing horizon, and a final-vs-tail
split. State is O(finalized sessions + events inside the
lateness+gap window + 1); the finalized majority is append-only —
the same partitioned-log refinement note as sessions.py applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compat import GUARD, _scaled
from ..registry import register
from ..sources.catalog import Catalog
from .batch_parity import (EVENTS_SESSIONIZE_SQL, SESSION_GAP_S,
                           session_islands)
from .state_fold import LATENESS_S, replay, ts_split

#: dsum final-shift constants (compat.dsum, scale=2)
_DOWN = 10 ** (GUARD - 2)
_HALF = _DOWN // 2


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
    return seq.select("user_id", "event_id", "ts", "vq", "isl"), aggs


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
              .select("user_id", "event_id", "ts", "vq"))
    return final, buffer


def _assemble(final: DataFrame, buffer: DataFrame, wm_ts, dropped: int,
              spark: SparkSession) -> DataFrame:
    ts_type = buffer.schema["ts"].dataType
    s = final.select(
        F.lit("s").alias("kind"), "user_id", "session_seq",
        "session_start", "session_end", "n_events", "value_q",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast(ts_type).alias("ts"),
        F.lit(None).cast("long").alias("vq"),
        F.lit(None).cast(ts_type).alias("wm"),
        F.lit(None).cast("long").alias("dropped"))
    b = buffer.select(
        F.lit("b").alias("kind"), "user_id",
        F.lit(None).cast("long").alias("session_seq"),
        F.lit(None).cast(ts_type).alias("session_start"),
        F.lit(None).cast(ts_type).alias("session_end"),
        F.lit(None).cast("long").alias("n_events"),
        F.lit(None).cast("long").alias("value_q"),
        "event_id", "ts", "vq",
        F.lit(None).cast(ts_type).alias("wm"),
        F.lit(None).cast("long").alias("dropped"))
    w = spark.createDataFrame([("w",)], "kind string").select(
        "kind",
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("long").alias("session_seq"),
        F.lit(None).cast(ts_type).alias("session_start"),
        F.lit(None).cast(ts_type).alias("session_end"),
        F.lit(None).cast("long").alias("n_events"),
        F.lit(None).cast("long").alias("value_q"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast(ts_type).alias("ts"),
        F.lit(None).cast("long").alias("vq"),
        F.lit(wm_ts).cast(ts_type).alias("wm"),
        F.lit(dropped).cast("long").alias("dropped"))
    return s.unionByName(b).unionByName(w)


def _number_finals(final: DataFrame, base: DataFrame | None) -> DataFrame:
    """Assign per-user session_seq to newly finalized sessions:
    prior max finalized seq (0 if none) + rank by start order. A None
    base (the bootstrap fold — nothing finalized before) skips the
    join and numbers from 1."""
    w = Window.partitionBy("user_id").orderBy("session_start",
                                              "session_end")
    if base is None:
        joined = final.withColumn("max_seq", F.lit(None).cast("long"))
    else:
        joined = final.join(base, "user_id", "left")
    return (joined
            .select("user_id",
                    (F.coalesce(F.col("max_seq"), F.lit(0))
                     + F.row_number().over(w)).cast("long")
                    .alias("session_seq"),
                    "session_start", "session_end", "n_events",
                    "value_q"))


def late_sessions_state(events: DataFrame) -> DataFrame:
    """Build state from the first batch ever seen."""
    import datetime as dt
    spark = events.sparkSession
    ev = _event_rows(events)
    wm = ev.agg(F.max("ts").alias("wm")).collect()[0]["wm"]
    # empty first batch: any horizon segments the empty frame to an
    # empty final/buffer pair with the right schema
    horizon = (dt.datetime(1970, 1, 2) if wm is None
               else wm - dt.timedelta(seconds=LATENESS_S))
    final, buffer = _split_final(ev, horizon)
    return _assemble(_number_finals(final, None), buffer, wm, 0, spark)


def merge_late_sessions_state(prev: DataFrame,
                              batch_events: DataFrame) -> DataFrame:
    """Fold one arbitrarily-ordered batch (see module docstring;
    admission is strictly above the previous horizon — the shared
    state_fold.watermark_prologue holds the one copy of that
    correctness argument)."""
    from .state_fold import watermark_prologue
    spark = prev.sparkSession
    ev = _event_rows(batch_events)
    _, dropped, wm_new, horizon_new, admitted, n_late = \
        watermark_prologue(prev, ev, LATENESS_S)
    if wm_new is None:
        return prev

    buffer_prev = (prev.filter(F.col("kind") == "b")
                   .select("user_id", "event_id", "ts", "vq"))
    batch_users = admitted.select("user_id").distinct()
    touched = buffer_prev.join(batch_users, "user_id", "left_semi")
    untouched = buffer_prev.join(batch_users, "user_id", "left_anti")

    final_t, buffer_t = _split_final(touched.unionByName(admitted),
                                     horizon_new)
    # untouched users' buffered islands may still clear the advancing
    # finalization boundary with no new events
    final_u, buffer_u = _split_final(untouched, horizon_new)

    finals_prev = prev.filter(F.col("kind") == "s").select(
        "user_id", "session_seq", "session_start", "session_end",
        "n_events", "value_q")
    base = (finals_prev.groupBy("user_id")
            .agg(F.max("session_seq").cast("long").alias("max_seq")))
    numbered = _number_finals(final_t.unionByName(final_u), base)
    return _assemble(finals_prev.unionByName(numbered),
                     buffer_t.unionByName(buffer_u),
                     wm_new, dropped + n_late, spark)


def state_to_view(state: DataFrame) -> DataFrame:
    """Serve the batch twin's session view: finalized rows ∪ the
    buffered tail's islands, numbered after each user's finalized
    count; dsum's final shift applied to the exact integer sums."""
    finals = state.filter(F.col("kind") == "s").select(
        "user_id", "session_seq", "session_start", "session_end",
        "n_events", "value_q")
    base = (finals.groupBy("user_id")
            .agg(F.max("session_seq").cast("long").alias("max_seq")))
    _, tail_aggs = _islands_with_events(
        state.filter(F.col("kind") == "b")
        .select("user_id", "event_id", "ts", "vq"))
    w = Window.partitionBy("user_id").orderBy("session_start",
                                              "session_end")
    tail = (tail_aggs.join(base, "user_id", "left")
            .select("user_id",
                    (F.coalesce(F.col("max_seq"), F.lit(0))
                     + F.row_number().over(w)).cast("long")
                    .alias("session_seq"),
                    "session_start", "session_end", "n_events",
                    "value_q"))
    return finals.unionByName(tail).select(
        "user_id", "session_seq", "session_start", "session_end",
        "n_events",
        (F.floor((F.col("value_q") + F.lit(_HALF)) / F.lit(float(_DOWN)))
         .cast("double") / F.lit(100.0)).alias("session_value"))


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
