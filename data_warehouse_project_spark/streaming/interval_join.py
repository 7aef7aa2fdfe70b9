"""Allowed-lateness incremental stream-stream interval join — the
canonical Structured Streaming stateful operator (click ⋈ purchase
within [click_ts, click_ts + 1 h] per user; batch twin:
streaming/batch_parity.py events_click_purchase_join, reference
parity via streaming.jobs.click_purchase_join), maintained per
micro-batch with watermark discipline instead of per-batch joins.

Why this operator is EASIER than the late transition/session
maintainers yet still needs a watermark: interval-join output is
APPEND-ONLY — a new event can create matches but never retract one,
so every match is final the moment both sides have arrived. What a
naive per-batch self-join gets wrong is CROSS-BATCH pairs: a click
in batch 1 whose purchase lands in batch 2 (or, out of order, a
late click arriving after its purchase). The state buffers exactly
the events that can still gain partners, joins each admitted batch
against buffer ∪ batch, and appends.

The watermark bounds that buffer — the whole point at scale:
- a CLICK can match a future purchase only while
  click_ts + WINDOW > horizon (future admissions are strictly above
  the horizon), so clicks are evicted once click_ts ≤ horizon − WINDOW;
- a PURCHASE can match a future click only while purchase_ts >
  horizon (the click must not be after the purchase), so purchases
  are evicted once purchase_ts ≤ horizon.
Both eviction bounds are exactly the no-future-match conditions
under strict-admission (state_fold.watermark_prologue), so eviction
can never lose a pair — the same by-construction-permanent argument
as the late transition miner's finalization, and precisely the state
Spark's own stream-stream join keeps under `withWatermark` +
interval condition.

New matches per fold = admitted_clicks ⋈ (buffer ∪ admitted)
purchases ∪ buffered_clicks ⋈ admitted_purchases — the two terms are
disjoint (a click is either admitted this fold or buffered from an
earlier one), and every pair is generated exactly once: at the fold
where the LATER side arrives, the earlier side is provably still in
the buffer (its eviction bound contradicts the pair's interval
predicate otherwise).

State: ONE parquet table, four row kinds ('m' matches — the
append-only result, 'c'/'p' buffered clicks/purchases, 'w'
watermark + dropped count; the state_fold.tagged_state layout),
atomic staged swap, shared batch-id replay sentinel (state_fold.py).
Per-fold work: the 'w' scalar read, one user-keyed join of
batch-sized × buffer-sized frames, one union. History is never
rescanned; the buffers are bounded by WINDOW + LATENESS hours of
events regardless of stream length.

Serving selects the 'm' rows — already exactly the batch twin's
full-recompute rows over every admitted event (the registered
oracle), with disorder inside LATENESS invisible and anything later
dropped loudly ('w' metric), never silently unmatched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.compat import fround
from ..registry import register
from ..sources.catalog import Catalog
from .batch_parity import EVENTS_CLICK_PURCHASE_SQL
from .state_fold import (LATENESS_S, first_watermark, replay, tagged_state,
                         ts_split, watermark_prologue, watermark_row)

#: join window (seconds): purchase in [click_ts, click_ts + WINDOW]
WINDOW_S = 3600

#: a buffered click's or purchase's columns ('c' and 'p' rows)
_BUFFER_COLS = ("user_id", "event_id", "ts", "value")


def _sides(events: DataFrame) -> DataFrame:
    """Only the two joined types enter the operator (the watermark
    advances on them alone — documented narrowing)."""
    return (events.filter(F.col("event_type").isin("click", "purchase"))
            .select("user_id", "event_id", "ts", "event_type", "value"))


def _match(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """The interval join itself: one user-keyed equi-join with the
    window predicate — identical semantics to the batch twin."""
    c = clicks.select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
    p = purchases.select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts"),
                         F.col("value").alias("purchase_value"))
    return (c.join(p, (F.col("c_user") == F.col("p_user"))
                   & (F.col("purchase_ts") >= F.col("click_ts"))
                   & (F.col("purchase_ts") <= F.col("click_ts")
                      + F.expr(f"INTERVAL {WINDOW_S} SECONDS")))
            .select(F.col("c_user").alias("user_id"), "click_id",
                    "purchase_id", "click_ts", "purchase_ts",
                    "purchase_value"))


def _evict(buf_c: DataFrame, buf_p: DataFrame, horizon):
    """Drop buffer rows that can no longer gain a partner (see module
    docstring for why these bounds are exactly the no-future-match
    conditions)."""
    import datetime as dt
    keep_c = buf_c.filter(
        F.col("ts") > F.lit(horizon - dt.timedelta(seconds=WINDOW_S)))
    keep_p = buf_p.filter(F.col("ts") > F.lit(horizon))
    return keep_c, keep_p


def interval_join_state(events: DataFrame) -> DataFrame:
    """Build state from the first batch: match within the batch,
    buffer what can still gain partners."""
    ev = _sides(events)
    wm, horizon = first_watermark(ev, LATENESS_S)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    buf_c, buf_p = _evict(clicks.select(*_BUFFER_COLS),
                          purchases.select(*_BUFFER_COLS), horizon)
    return tagged_state(m=_match(clicks, purchases), c=buf_c, p=buf_p,
                        w=watermark_row(ev.sparkSession, wm, 0,
                                        ev.schema["ts"].dataType))


def merge_interval_join_state(prev: DataFrame,
                              batch_events: DataFrame) -> DataFrame:
    """Fold one arbitrarily-ordered batch: admit strictly above the
    previous horizon (drop-and-count the rest), join admitted against
    buffer ∪ admitted, append matches, re-buffer with eviction."""
    dropped, wm_new, horizon_new, admitted, n_late = \
        watermark_prologue(prev, _sides(batch_events), LATENESS_S)
    if wm_new is None:
        return prev

    adm_c = (admitted.filter(F.col("event_type") == "click")
             .select(*_BUFFER_COLS))
    adm_p = (admitted.filter(F.col("event_type") == "purchase")
             .select(*_BUFFER_COLS))
    buf_c = prev.filter(F.col("kind") == "c").select(*_BUFFER_COLS)
    buf_p = prev.filter(F.col("kind") == "p").select(*_BUFFER_COLS)

    new_matches = (_match(adm_c, buf_p.unionByName(adm_p))
                   .unionByName(_match(buf_c, adm_p)))
    matches = (prev.filter(F.col("kind") == "m")
               .select("user_id", "click_id", "purchase_id", "click_ts",
                       "purchase_ts", "purchase_value")
               .unionByName(new_matches))
    keep_c, keep_p = _evict(buf_c.unionByName(adm_c),
                            buf_p.unionByName(adm_p), horizon_new)
    return tagged_state(m=matches, c=keep_c, p=keep_p,
                        w=watermark_row(prev.sparkSession, wm_new,
                                        dropped + n_late,
                                        keep_c.schema["ts"].dataType))


def state_to_matches(state: DataFrame) -> DataFrame:
    """Serve the append-only match table in the batch twin's exact
    shape (every match is final on emission — no tail recompute)."""
    return (state.filter(F.col("kind") == "m")
            .select("user_id", "click_id", "purchase_id", "click_ts",
                    "purchase_ts",
                    fround(F.col("purchase_value"), 6)
                    .alias("purchase_value")))


def events_click_purchase_incremental(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Registry entry: the same genuinely out-of-order two-batch
    arrival the other late maintainers face — batch 1 is everything
    at or below the midpoint except a held-back 3-hour slice just
    under it; batch 2 delivers the rest plus that slice (3-6 h of
    disorder, inside LATENESS). The oracle is the batch twin's
    FULL-RECOMPUTE interval-join SQL: cross-batch pairs in both
    directions (early click / late purchase AND late click buffered
    under an already-arrived purchase) must all be present, making
    the per-batch-join failure mode impossible to hide. Measured on
    driver data: the split leaves 2 cross-batch-only pairs at sf0.1
    (369 → 371); at sf0.001/0.01 the feed is too sparse to place a
    pair across the boundary (click and purchase must fall within
    1 h of each other), so there the oracle row proves disorder-
    INVISIBILITY (the 3-6 h-late slice is buffered and matched
    correctly) while the planted unit test carries the
    pairs-per-batch-joins-miss evidence."""
    # eager: the merge reads prev four times
    state = replay(ts_split(Catalog(spark, sf_dir).events, LATENESS_S),
                   interval_join_state, merge_interval_join_state,
                   checkpoint="eager")
    return state_to_matches(state)


register("events_click_purchase_incremental",
         events_click_purchase_incremental, EVENTS_CLICK_PURCHASE_SQL)
