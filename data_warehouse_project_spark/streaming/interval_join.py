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
watermark + dropped count), atomic staged swap, shared batch-id
replay sentinel (state_fold.py). Per-fold work: the 'w' scalar read,
one user-keyed join of batch-sized × buffer-sized frames, one union.
History is never rescanned; the buffers are bounded by
WINDOW + LATENESS hours of events regardless of stream length.

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
from .state_fold import LATENESS_S, replay, ts_split

#: join window (seconds): purchase in [click_ts, click_ts + WINDOW]
WINDOW_S = 3600


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


def _assemble(matches: DataFrame, buf_c: DataFrame, buf_p: DataFrame,
              wm_ts, dropped: int, spark: SparkSession) -> DataFrame:
    ts_type = matches.schema["click_ts"].dataType

    def _buf(b: DataFrame, kind: str) -> DataFrame:
        return b.select(
            F.lit(kind).alias("kind"),
            "user_id",
            F.lit(None).cast("long").alias("click_id"),
            F.lit(None).cast("long").alias("purchase_id"),
            F.lit(None).cast(ts_type).alias("click_ts"),
            F.lit(None).cast(ts_type).alias("purchase_ts"),
            F.lit(None).cast("double").alias("purchase_value"),
            "event_id", "ts", "value",
            F.lit(None).cast(ts_type).alias("wm"),
            F.lit(None).cast("long").alias("dropped"))

    m = matches.select(
        F.lit("m").alias("kind"), "user_id", "click_id", "purchase_id",
        "click_ts", "purchase_ts", "purchase_value",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast(ts_type).alias("ts"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast(ts_type).alias("wm"),
        F.lit(None).cast("long").alias("dropped"))
    w = spark.createDataFrame([("w",)], "kind string").select(
        "kind",
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("long").alias("click_id"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.lit(None).cast(ts_type).alias("click_ts"),
        F.lit(None).cast(ts_type).alias("purchase_ts"),
        F.lit(None).cast("double").alias("purchase_value"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast(ts_type).alias("ts"),
        F.lit(None).cast("double").alias("value"),
        F.lit(wm_ts).cast(ts_type).alias("wm"),
        F.lit(dropped).cast("long").alias("dropped"))
    return (m.unionByName(_buf(buf_c, "c")).unionByName(_buf(buf_p, "p"))
            .unionByName(w))


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
    import datetime as dt
    spark = events.sparkSession
    ev = _sides(events)
    wm = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    matches = _match(clicks, purchases)
    if wm is None:
        return _assemble(matches, clicks, purchases, None, 0, spark)
    horizon = wm - dt.timedelta(seconds=LATENESS_S)
    buf_c, buf_p = _evict(clicks, purchases, horizon)
    return _assemble(matches, buf_c, buf_p, wm, 0, spark)


def merge_interval_join_state(prev: DataFrame,
                              batch_events: DataFrame) -> DataFrame:
    """Fold one arbitrarily-ordered batch: admit strictly above the
    previous horizon (drop-and-count the rest), join admitted against
    buffer ∪ admitted, append matches, re-buffer with eviction."""
    from .state_fold import watermark_prologue
    spark = prev.sparkSession
    ev = _sides(batch_events)
    _, dropped, wm_new, horizon_new, admitted, n_late = \
        watermark_prologue(prev, ev, LATENESS_S)
    if wm_new is None:
        return prev

    adm_c = admitted.filter(F.col("event_type") == "click")
    adm_p = admitted.filter(F.col("event_type") == "purchase")
    buf_c = (prev.filter(F.col("kind") == "c")
             .select("user_id", "event_id", "ts", "value"))
    buf_p = (prev.filter(F.col("kind") == "p")
             .select("user_id", "event_id", "ts", "value"))

    new_matches = (_match(adm_c, buf_p.unionByName(
        adm_p.select("user_id", "event_id", "ts", "value")))
        .unionByName(_match(buf_c, adm_p)))
    matches = (prev.filter(F.col("kind") == "m")
               .select("user_id", "click_id", "purchase_id", "click_ts",
                       "purchase_ts", "purchase_value")
               .unionByName(new_matches))

    keep_c, keep_p = _evict(
        buf_c.unionByName(adm_c.select("user_id", "event_id", "ts",
                                       "value")),
        buf_p.unionByName(adm_p.select("user_id", "event_id", "ts",
                                       "value")),
        horizon_new)
    return _assemble(matches, keep_c, keep_p, wm_new,
                     dropped + n_late, spark)


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
