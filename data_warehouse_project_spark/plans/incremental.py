"""Incremental aggregate maintenance — materialized-rollup upkeep
without recomputing history (the warehouse capability behind
streaming-backfill parity and cheap hourly dashboard refreshes; the
reference recomputes its dashboard stats from scratch on every render,
ref app.py:154-168).

State design: the maintained rollup keeps only MERGEABLE statistics —
counts and scaled-integer sums merge by addition, and distinct users
are kept as Apache DataSketches HLL sketches (`hll_sketch_agg` /
`hll_union`, built into Spark), which merge losslessly by register
maxima. Merging a day's new events into a year's rollup costs one
aggregation of the batch + one merge shuffle keyed by (hour, type) —
never a rescan of history. The same state schema is what a streaming
`foreachBatch` maintainer would persist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog
from ..streaming.state_fold import BATCH_COL, fold_batch, key_split, replay

#: money/value scale for the mergeable integer sum (2 decimal places)
_SCALE = 100


def hourly_rollup_state(events: DataFrame) -> DataFrame:
    """Aggregate raw events into the mergeable per-(hour, type) state:
    (n_events, scaled value sum, HLL sketch of user_ids)."""
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz")
            .alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * _SCALE + F.lit(0.5)).cast("long"))
            .alias("sum_value_scaled"),
            F.hll_sketch_agg("user_id").alias("users_hll"),
        )
    )


def merge_hourly_state(prev: DataFrame, batch_events: DataFrame) -> DataFrame:
    """Fold a new batch of events into an existing rollup state: union
    the batch's state with the previous state and merge per key —
    counts/sums add, HLL sketches union. History rows without new
    events pass through the merge untouched (their group has one row).
    """
    delta = hourly_rollup_state(batch_events)
    return (
        prev.unionByName(delta)
        .groupBy("hour", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_scaled").alias("sum_value_scaled"),
            F.hll_union_agg("users_hll").alias("users_hll"),
        )
    )


def state_to_report(state: DataFrame) -> DataFrame:
    """Render the mergeable state as the user-facing rollup."""
    return state.select(
        "hour", "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        fround(F.col("sum_value_scaled").cast("double") / _SCALE, 2)
        .alias("sum_value"),
        F.hll_sketch_estimate("users_hll").cast("long")
        .alias("n_users_approx"),
    )


def _two_batch_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry entries' shared arrival simulation: split events
    into two batches by event_id parity, build state from the first,
    merge the second — ONE recipe so the rollup report and every
    state-served detector exercise the identical state construction."""
    ev = Catalog(spark, sf_dir).events
    return replay(key_split(ev, F.col("event_id"), 2),
                  hourly_rollup_state, merge_hourly_state)


def incremental_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: two-batch incremental state build, rendered so
    the batch twin's SQL can oracle it (VERDICT r9 #5). The mergeable
    stats (n_events, sum_value) are exact and compare directly against
    a one-shot GROUP BY over all events; the HLL column isn't
    SQL-reproducible in DuckDB, so it's driver-checked as a FOLD
    IDENTITY instead — `users_fold_delta` = merged-state estimate
    minus single-pass estimate, which the unit suite pins to exactly 0
    for every group (tests/test_skew_and_properties.py merge-
    associativity property; lossless HLL register-maxima union). The
    FULL OUTER join (ADVICE r10) makes both failure directions
    driver-visible: a key the merge DROPPED surfaces as a row whose
    merged-side columns are NULL (hash mismatch vs the oracle), and a
    key the merge INVENTED surfaces as an extra row with a NULL
    single-pass side (row-count + hash mismatch) — an inner join
    would have silently discarded the invented key."""
    merged = state_to_report(_two_batch_state(spark, sf_dir))
    single = state_to_report(
        hourly_rollup_state(Catalog(spark, sf_dir).events))
    return (
        merged.join(
            single.select(
                "hour", "event_type",
                F.col("n_users_approx").alias("single_pass_users")),
            ["hour", "event_type"], "full_outer")
        .select(
            "hour", "event_type", "n_events", "sum_value",
            (F.col("n_users_approx") - F.col("single_pass_users"))
            .cast("long").alias("users_fold_delta"))
    )


INCREMENTAL_ROLLUP_SQL = f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       {sql_fround(
           'CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)'
           ' / 100.0', 2)} AS sum_value,
       CAST(0 AS BIGINT) AS users_fold_delta
FROM events GROUP BY 1, 2
"""

register("incremental_hourly_rollup", incremental_hourly_rollup,
         INCREMENTAL_ROLLUP_SQL)


def anomalies_from_rollup_state(state: DataFrame) -> DataFrame:
    """Serve MAD volume anomalies directly from the MAINTAINED rollup
    state instead of rescanning events: the state's per-(hour, type)
    counts feed the same detector as events_anomaly_mad
    (streaming/batch_parity.mad_anomalies_from_hourly), so an
    always-on monitor reads the materialized rollup the foreachBatch
    maintainer keeps fresh — anomaly serving cost becomes O(state),
    independent of history size. Equivalence to the full-recompute
    detector is unit-pinned (tests/test_streaming.py)."""
    from ..streaming.batch_parity import mad_anomalies_from_hourly

    hourly = state.select(
        F.col("hour").cast("timestamp_ntz").alias("hour"),
        "event_type",
        F.col("n_events").cast("long").alias("n"))
    return mad_anomalies_from_hourly(hourly)


def run_anomaly_alert_maintainer(events_stream: DataFrame, state_path: str,
                                 alerts_path: str, checkpoint: str):
    """Always-on anomaly ALERTING on top of the rollup maintainer:
    each micro-batch folds into the mergeable state (idempotently),
    then the state-served MAD detector runs and any anomaly cell not
    already in the append-only alert log is appended — alert-once
    semantics.

    Crash-safety: the alert append is OUTSIDE the state's atomic
    swap, so ordering alone can't make the pair exactly-once.
    Instead BOTH halves are idempotent — fold_batch skips
    replayed batch ids, and the alert anti-join dedups on
    (event_type, hour) — so an at-least-once foreachBatch replay
    can neither double-count state nor double-alert, and a crash
    between swap and append is healed on replay (the anti-join
    re-finds the unlogged alert). A cell that later drops below the
    threshold stays logged: alerts are events, not current state.
    """
    import os as _os

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fold_batch(batch_df, batch_id, state_path,
                   hourly_rollup_state, merge_hourly_state)
        anoms = anomalies_from_rollup_state(
            spark.read.parquet(state_path).drop(BATCH_COL))
        if _os.path.exists(alerts_path):
            seen = spark.read.parquet(alerts_path).select(
                "event_type", "hour")
            new = anoms.join(seen, ["event_type", "hour"], "left_anti")
        else:
            new = anoms
        new = new.withColumn("alert_batch_id", F.lit(batch_id))
        if new.limit(1).count() > 0:
            new.write.mode("append").parquet(alerts_path)

    q = (
        events_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _state_hourly(state: DataFrame) -> DataFrame:
    """Adapt the rollup state to the timeseries detectors' dense-
    input contract (cast back to the events-path timestamp type so
    unix_timestamp/sequence arithmetic is identical)."""
    return state.select(
        "event_type",
        F.col("hour").cast("timestamp").alias("h"),
        F.col("n_events").cast("long").alias("x"))


def wma_from_rollup_state(state: DataFrame) -> DataFrame:
    """Serve the trailing dyadic-WMA spike report from the MAINTAINED
    rollup state — O(state), independent of history size (the
    anomalies_from_rollup_state pattern applied to the trend
    detector)."""
    from .timeseries import dense_from_hourly, wma_from_dense
    return wma_from_dense(dense_from_hourly(_state_hourly(state)))


def seasonal_from_rollup_state(state: DataFrame) -> DataFrame:
    """Serve the hour-of-week median baseline from the MAINTAINED
    rollup state — completing state-served coverage of the anomaly
    triad (MAD level / WMA trend / weekly shape) over ONE state."""
    from .timeseries import dense_from_hourly, seasonal_from_dense
    return seasonal_from_dense(dense_from_hourly(_state_hourly(state)))


def events_wma_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: WMA served from the shared two-batch state.
    Oracle = the batch detector's FULL-RECOMPUTE SQL: state-served
    must be indistinguishable from rescanning events."""
    return wma_from_rollup_state(_two_batch_state(spark, sf_dir))


def events_seasonal_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: seasonal baseline served from the shared
    two-batch state; oracle = the batch detector's SQL."""
    return seasonal_from_rollup_state(_two_batch_state(spark, sf_dir))


def _twin_sql():
    from .timeseries import EVENTS_SEASONAL_SQL, EVENTS_WMA_SQL
    return EVENTS_WMA_SQL, EVENTS_SEASONAL_SQL


_WMA_SQL, _SEASONAL_SQL = _twin_sql()
register("events_wma_served", events_wma_served, _WMA_SQL)
register("events_seasonal_served", events_seasonal_served, _SEASONAL_SQL)


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance — the third IVM archetype beside
# the agg rollup above and the stream-stream interval join
# (streaming/interval_join.py): a denormalized fact⋈dim view kept
# current per micro-batch. Append-only facts make the fold trivial-
# by-design (enrich the batch, append) — the engineering content is
# WHERE the work lands: each fold does batch-sized scans with the
# dims attached by BROADCAST, the view itself is never rescanned or
# rebuilt, and the replay sentinel keeps the append idempotent.
# Dim rows are taken as-of fold time (SCD-0/1 enrichment); a
# pipeline needing point-in-time-correct attributes composes this
# with the SCD2 temporal lookup (writes.scd2_lookup_temporal)
# instead — the documented trade, not an accident.
# ---------------------------------------------------------------------------


def _enrich_orders(orders: DataFrame, customer: DataFrame,
                   nation: DataFrame) -> DataFrame:
    return (orders
            .join(customer.select(
                "c_custkey", "c_name", "c_mktsegment", "c_nationkey"),
                F.col("o_custkey") == F.col("c_custkey"))
            .join(nation.select("n_nationkey", "n_name"),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("o_orderkey", "o_custkey", "o_orderdate",
                    "o_totalprice", "o_orderstatus",
                    "c_name", "c_mktsegment", "n_name"))


def make_enriched_view_fns(customer: DataFrame, nation: DataFrame):
    """(init_fn, merge_fn) pair for the shared fold template, closed
    over the dimension frames (re-read per fold in a real deployment
    — dim size is broadcast-bounded either way)."""
    def init(batch_orders: DataFrame) -> DataFrame:
        return _enrich_orders(batch_orders, customer, nation)

    def merge(prev: DataFrame, batch_orders: DataFrame) -> DataFrame:
        return prev.unionByName(init(batch_orders))

    return init, merge


def orders_enriched_incremental(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Registry entry (EXACT — plain star-join SQL oracle): two-batch
    incremental build of the enriched view by order-key parity; the
    folded view must be row-for-row the full star join, so the oracle
    needs no knowledge that increments ever happened."""
    cat = Catalog(spark, sf_dir)
    view = replay(key_split(cat.orders, F.col("o_orderkey"), 2),
                  *make_enriched_view_fns(cat.customer, cat.nation))
    return view.select(
        "o_orderkey", "o_custkey", "o_orderdate",
        fround(F.col("o_totalprice"), 2).alias("o_totalprice"),
        "o_orderstatus", "c_name", "c_mktsegment", "n_name")


ORDERS_ENRICHED_SQL = f"""
SELECT o_orderkey, o_custkey, o_orderdate,
       {{fr}} AS o_totalprice,
       o_orderstatus, c_name, c_mktsegment, n_name
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
"""


def _enriched_sql() -> str:
    from ..functions.compat import sql_fround
    return ORDERS_ENRICHED_SQL.format(fr=sql_fround("o_totalprice", 2))


register("orders_enriched_incremental", orders_enriched_incremental,
         _enriched_sql())
