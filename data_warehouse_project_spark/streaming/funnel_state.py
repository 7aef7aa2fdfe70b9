"""Incremental windowed-funnel maintenance — the streaming-maintained
form of plans/analytics.events_funnel_conversion.

State = the funnel's sufficient statistic: one row per user with the
stage entry timestamps (t_view, t_click, t_purchase). Under the same
ts-ordered-arrival contract as the transition miner (for feeds that
violate it, late_transitions.py / late_sessions.py show the
allowed-lateness watermark pattern this funnel would adopt: buffer
the in-window tail, finalize stage minima only below horizon − 24h
window reach)
(streaming/transitions.py module docstring) the state is replay-exact:
every new event sorts at-or-after everything the user has already
produced, so (1) t_view — the FIRST view — can never move once set,
(2) the first qualifying click in [t_view, t_view+W] can never be
undercut by a later batch, and (3) re-running the batch window logic
over (state rendered as pseudo-events ∪ new batch) therefore yields
exactly the full-history per-user frame. Users whose events never
include a view carry no information (pre-view events can never
qualify for any stage) and are safely absent from state.

Scale: per batch, one user_id-keyed window over (batch ∪ the pseudo
rows of users — state joins nothing corpus-sized), then a per-user
collapse; state size is O(users). The same single-table staged-swap
overwrite + batch-id sentinel as the other maintainers (writes.py:223,
plans/incremental.py:77-84) makes crash replay idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.analytics import (FUNNEL_SQL, funnel_per_user,
                               funnel_report_from_per_user)
from ..registry import register
from ..sources.catalog import Catalog
from .state_fold import replay, ts_split


def _events_cols(events: DataFrame) -> DataFrame:
    return events.select("user_id", "event_type", "ts")


def funnel_state(events: DataFrame) -> DataFrame:
    """Build the per-user state from a (first) batch of events."""
    return funnel_per_user(_events_cols(events))


def _state_as_pseudo_events(state: DataFrame) -> DataFrame:
    """Render each user's stage timestamps back as minimal events —
    replaying these through the batch window logic reproduces the
    state exactly (see module docstring)."""
    exploded = state.select(
        "user_id",
        F.explode(F.array(
            F.struct(F.lit("view").alias("event_type"),
                     F.col("t_view").alias("ts")),
            F.struct(F.lit("click").alias("event_type"),
                     F.col("t_click").alias("ts")),
            F.struct(F.lit("purchase").alias("event_type"),
                     F.col("t_purchase").alias("ts")),
        )).alias("e"))
    return (exploded.select("user_id", "e.event_type", "e.ts")
            .filter(F.col("ts").isNotNull()))


def merge_funnel_state(prev: DataFrame, batch_events: DataFrame) -> DataFrame:
    """Fold a batch into the state: rerun the funnel window logic over
    pseudo-events ∪ batch."""
    return funnel_per_user(
        _state_as_pseudo_events(prev).unionByName(_events_cols(batch_events)))


def state_to_report(state: DataFrame) -> DataFrame:
    """Render the state as the batch twin's 3-row conversion report."""
    return funnel_report_from_per_user(
        state.select("user_id", "t_view", "t_click", "t_purchase"))


def events_funnel_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: split events at the midpoint timestamp (a
    ts-ordered two-batch arrival), build state from the first half,
    fold the second in, and render the report. The oracle is the batch
    twin's FULL-RECOMPUTE SQL — incremental maintenance must be
    indistinguishable from recomputing history (the only collect is a
    one-row min/max metadata read to pick the split point)."""
    state = replay(ts_split(Catalog(spark, sf_dir).events),
                   funnel_state, merge_funnel_state)
    return state_to_report(state)


register("events_funnel_incremental", events_funnel_incremental, FUNNEL_SQL)
