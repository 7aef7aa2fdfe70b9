"""Incremental sessionization — the streaming-maintained form of
events_sessionize (streaming/batch_parity.py:80), completing the
carry-state maintainer family (rollup, transitions, funnel, HLL
distinct-users, TTL windows): the gaps-and-islands computation whose
carried sufficient statistic is each user's OPEN session.

The batch twin runs classic gaps-and-islands (LAG gap flag → running
sum → per-session aggregate) over all history. Recomputing that per
refresh rescans everything; this module maintains the identical
per-session view incrementally. The insight: under ts-ordered arrival
a new batch can only (a) extend each user's latest session, or
(b) start new sessions after it — every earlier session is immutable.
So the carry is one row per user — the open session's
(seq, start, end, n_events, exact value sum, last event id) — and the
fold replays it as a single pseudo-event through the SAME
gaps-and-islands window as the batch's events:

- the pseudo-event sits at the open session's end ts, so it lands in
  the batch's FIRST island for its user (ties at the same ts collapse
  into one island regardless of order — gap 0 ≤ GAP — which is why
  the per-user ordering contract can be "at or after", not strictly
  after, matching transitions.py:22-28);
- an island containing the pseudo-event continues the carried session
  (inherits its seq and start, adds its counts); islands after it are
  new sessions numbered seq+1, seq+2, …;
- a pseudo-event alone in its island reproduces the open session
  unchanged (the no-new-events-for-this-user case).

Determinism note: the batch twin's session_value is dsum(value)
(functions/compat.py) — a GUARD-scaled integer sum shifted once at
the end. The state therefore carries the raw scaled-long sum
(``value_q``) so cross-batch accumulation is exact integer addition;
the shift-and-divide happens only at serve time. Carrying the rounded
double instead would double-round and diverge from the twin.

State design: ONE parquet table of per-session rows — the maintained
materialized view IS the state (one staged-swap overwrite, the same
batch-id replay sentinel as every maintainer, state_fold.py). Each
fold touches only batch-sized frames plus one open-session row per
batch user: closed sessions pass through untouched. At 100 TB the
closed majority is append-only (a session whose end + GAP precedes
the watermark can never change), so a production deployment
partitions the table into an append-only closed log plus a small
rewritten open tail; the single-table atomic swap here keeps the
crash-consistency argument one sentence long, and the fold's compute
is already structured so only the open tail does any work.

Scale: per batch — one user-keyed window over (batch ∪ carries for
batch users), one group aggregate, one broadcast-sized join of carry
attributes, zero history rescans. Serving is a straight state scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compat import GUARD, _scaled, dsum_shift
from ..registry import register
from ..sources.catalog import Catalog
from .batch_parity import EVENTS_SESSIONIZE_SQL, session_islands
from .state_fold import replay, ts_split


def _scaled_events(events: DataFrame) -> DataFrame:
    """Project the fold's working columns; value pre-scaled to the
    exact GUARD-digit long (compat._scaled — the same quantization
    dsum is built on) so sums stay integer across batches."""
    return events.select(
        "user_id", "event_id", "ts",
        _scaled(F.col("value"), GUARD).alias("vq"),
        F.lit(True).alias("from_batch"))


def _island_sessions(rows: DataFrame) -> DataFrame:
    """Aggregate gaps-and-islands segments (the batch twin's OWN
    session_islands helper — parity by construction) to raw session
    rows, still carrying the pseudo-row markers for the merge
    arithmetic."""
    return (
        session_islands(rows, seq_col="local_seq")
        .groupBy("user_id", "local_seq")
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count("*").cast("long").alias("n_events"),
             F.sum("vq").cast("long").alias("value_q"),
             F.max_by("event_id", F.struct("ts", "event_id"))
             .alias("last_event_id"),
             F.max((~F.col("from_batch")).cast("int")).alias("has_carry"))
    )


def sessions_state(events: DataFrame) -> DataFrame:
    """Build the per-session state from the first batch ever seen —
    exactly the batch twin's sessionize, plus the exact value_q and
    last_event_id columns the fold needs."""
    return (
        _island_sessions(_scaled_events(events))
        .select("user_id", F.col("local_seq").alias("session_seq"),
                "session_start", "session_end", "n_events", "value_q",
                "last_event_id")
    )


def merge_sessions_state(prev: DataFrame, batch_events: DataFrame) -> DataFrame:
    """Fold one ts-ordered batch into the session view: replay each
    user's open session as a pseudo-event through the same island
    window as the batch, then stitch island 1 onto the carry."""
    mx = Window.partitionBy("user_id")
    marked = prev.withColumn("mx_seq", F.max("session_seq").over(mx))
    batch_users = batch_events.select("user_id").distinct()
    # only batch users' open sessions can change: replay exactly those
    # (a pseudo-event alone would reproduce an untouched open session
    # unchanged, but at the cost of O(total users) per fold — the
    # anti-join routes every untouched user through the same immutable
    # passthrough as their closed sessions, keeping the fold O(batch))
    closed = (marked.filter(F.col("session_seq") < F.col("mx_seq"))
              .drop("mx_seq")
              .unionByName(
                  marked.filter(F.col("session_seq") == F.col("mx_seq"))
                  .drop("mx_seq")
                  .join(batch_users, "user_id", "left_anti")))
    open_ = (marked.filter(F.col("session_seq") == F.col("mx_seq"))
             .join(batch_users, "user_id", "left_semi"))

    pseudo = open_.select(
        "user_id", F.col("last_event_id").alias("event_id"),
        F.col("session_end").alias("ts"),
        F.lit(0).cast("long").alias("vq"),
        F.lit(False).alias("from_batch"))
    carry = open_.select(
        "user_id", F.col("session_seq").alias("seq_base"),
        F.col("session_start").alias("c_start"),
        F.col("n_events").alias("c_n"),
        F.col("value_q").alias("c_vq"))

    merged = (
        _island_sessions(pseudo.unionByName(_scaled_events(batch_events)))
        .join(carry, "user_id", "left")
        .select(
            "user_id",
            # island 1 of a carried user continues the open session's
            # numbering; later islands count up from it
            (F.coalesce(F.col("seq_base"), F.lit(1).cast("long"))
             + F.col("local_seq") - F.lit(1)).alias("session_seq"),
            # the island holding the pseudo-event inherits the carried
            # start; its count drops the pseudo row and adds the
            # carried events; value sums are exact longs
            F.when(F.col("has_carry") == 1, F.col("c_start"))
            .otherwise(F.col("session_start")).alias("session_start"),
            "session_end",
            (F.col("n_events") - F.col("has_carry")
             + F.when(F.col("has_carry") == 1, F.col("c_n"))
             .otherwise(F.lit(0))).cast("long").alias("n_events"),
            (F.col("value_q")
             + F.when(F.col("has_carry") == 1, F.col("c_vq"))
             .otherwise(F.lit(0))).cast("long").alias("value_q"),
            "last_event_id")
    )
    return closed.unionByName(merged)


def state_to_view(state: DataFrame) -> DataFrame:
    """Render the state as the batch twin's session view — applying
    dsum's final shift to the exact carried integer sum."""
    return state.select(
        "user_id", "session_seq", "session_start", "session_end",
        "n_events", dsum_shift(F.col("value_q")).alias("session_value"))


def events_sessions_incremental(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Registry entry: split events at the midpoint timestamp (a
    ts-ordered two-batch arrival), build state from the first half,
    fold the second in, and serve the maintained view. The oracle is
    the batch twin's FULL-RECOMPUTE SQL — incremental maintenance must
    be indistinguishable from rescanning history, session numbering
    and exact value sums included (the only collect is a one-row
    min/max metadata read to pick the split point)."""
    # eager: the merge reads prev three times (closed filter, untouched
    # anti-join, open semi-join)
    state = replay(ts_split(Catalog(spark, sf_dir).events),
                   sessions_state, merge_sessions_state, checkpoint="eager")
    return state_to_view(state)


register("events_sessions_incremental", events_sessions_incremental,
         EVENTS_SESSIONIZE_SQL)
