"""Structured Streaming jobs over the `events` activity stream
(SURVEY.md §2.9).

Each job is the incremental form of a batch query in
streaming.batch_parity; tests assert batch/stream parity (§5.4).
Sources: the parquet file source (schema mandatory for streams; the
on-disk ts type is sniffed at plan-build time — same defensive
dispatch as the batch catalog — and converted in-plan only when it is
raw long nanos). Sinks: memory (tests) or foreachBatch→parquet.

Scale design: watermarks bound all state; tumbling/session windows
keyed by (window, type) / (user, session) shuffle once on their keys;
`availableNow` gives batch-like catch-up runs of the same code that
runs 24/7 on a real cluster.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

from ..schemas import EVENTS
from ..session import tune


def events_stream_schema(ts_type) -> StructType:
    """The file-stream read schema for events: ``schemas.EVENTS`` with
    the on-disk `ts` type (file streams require an explicit schema)."""
    return StructType([StructField("ts", ts_type) if f.name == "ts" else f
                       for f in EVENTS.fields])


def sniff_events_ts_type(spark: SparkSession, src: str):
    """Sniff how Spark reads the on-disk `ts` column of an events
    parquet file — the stream-side twin of the batch catalog's
    defensive dispatch (sources.catalog.load_table).

    Returns ``(data_type, needs_nanos_convert)``. A one-time
    footer-schema read at plan-build time (no data scan): with
    ``nanosAsLong`` set, TIMESTAMP(NANOS) columns surface as `long`
    (convert in-plan, lossless at µs granularity); TIMESTAMP(MICROS)
    columns surface as timestamp/timestamp_ntz and need no conversion.
    Hard-coding either branch breaks when the producer's physical
    encoding changes — which is exactly what a long-lived streaming
    job must survive.
    """
    disk_type = spark.read.parquet(src).schema["ts"].dataType
    return disk_type, disk_type.typeName() == "long"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table with proper timestamps.

    The file stream source requires a *directory* (files arriving over
    time); the driver testdata is a single parquet file, so stage a
    symlink directory — exactly the landing-directory layout a real
    deployment streams from.
    """
    tune(spark)
    src = os.path.join(sf_dir, "events.parquet")
    stage = tempfile.mkdtemp(prefix="dwps-events-stream-")
    link = os.path.join(stage, "events-000.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    ts_type, needs_convert = sniff_events_ts_type(spark, src)
    raw = spark.readStream.schema(events_stream_schema(ts_type)).parquet(stage)
    if needs_convert:
        # raw long nanos → µs-granular TimestampType (lossless)
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type.typeName() == "timestamp_ntz":
        # watermarks require TIMESTAMP, not NTZ; the session tz is
        # pinned to UTC (session.tune) so the cast is value-preserving
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_hourly(events: DataFrame) -> DataFrame:
    """Streaming twin of batch_parity.events_tumbling_hourly:
    1-hour tumbling windows, 2-hour watermark for late data."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour"), "event_type",
            "n_events", "sum_value",
        )
    )


def sessionized(events: DataFrame) -> DataFrame:
    """Streaming twin of batch_parity.events_sessionize: native
    session windows with a 30-minute gap."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("session_value"),
            F.min("ts").alias("session_start"),
        )
        .select("user_id", "session_start", "n_events", "session_value")
    )


def deduplicated(events: DataFrame) -> DataFrame:
    """Streaming twin of batch_parity.events_dedup_first: stateful
    dedup on (user_id, event_type) — watermark bounds the state."""
    return (
        events.withWatermark("ts", "2 hours")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


def deduplicated_within_watermark(events: DataFrame) -> DataFrame:
    """Bounded-state dedup via dropDuplicatesWithinWatermark: a
    duplicate key is suppressed only while its first sighting is
    within the watermark delay; after the watermark passes, state for
    the key is evicted and a later duplicate is (correctly, per the
    contract) treated as new. This is the production choice for
    at-least-once sources where duplicates arrive close together —
    state stays O(keys per watermark window) instead of O(all keys
    ever), which is what makes 24/7 operation at 100 TB/day viable."""
    return (
        events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


def click_purchase_join(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: each click joined to the same
    user's purchases within [click_ts, click_ts + 1 hour] — the
    attribution-window shape.

    Both sides carry watermarks, so the join state store evicts rows
    once the interval + watermark delay passes: state is bounded by
    (events per user-hour × watermark), not the stream's history —
    the property that makes a 24/7 join viable at scale. Batch twin:
    batch_parity.events_click_purchase_join.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
                F.col("value").alias("purchase_value"))
        .withWatermark("purchase_ts", "2 hours")
    )
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts")
               + F.expr("INTERVAL 1 HOUR")),
            "inner",
        )
        .select(F.col("c_user").alias("user_id"), "click_id",
                "purchase_id", "click_ts", "purchase_ts", "purchase_value")
    )


def document_ingest_dedup(docs: DataFrame) -> DataFrame:
    """Incremental corpus ingestion with cross-batch exact dedup: the
    streaming form of llm.dedup.dedup_exact. Each arriving document is
    fingerprinted (md5 of normalized text — the same 16-byte key the
    batch dedup groups on) and dropDuplicates on the fingerprint
    suppresses re-ingested content across micro-batches AND across
    restarts (state lives in the checkpoint).

    State is one fingerprint per distinct document ever seen — the
    deliberate choice for corpus ingestion, where a duplicate must be
    suppressed no matter how far apart the copies arrive. (For
    time-bounded state the watermarked variant in `deduplicated`
    applies.) At 100 TB/day the state store shards the fingerprints
    across executors; the documents' bodies themselves never enter
    state.
    """
    return (
        docs.withColumn(
            "fingerprint",
            F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")),
                                           r"\s+", " "))))
        .dropDuplicates(["fingerprint"])
        .select("doc_id", "fingerprint", "source", "n_chars")
    )


def run_to_memory(stream_df: DataFrame, name: str, checkpoint: str,
                  output_mode: str = "append"):
    """Run a streaming query to completion (availableNow) into an
    in-memory table; returns the finished query."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_to_parquet(stream_df: DataFrame, path: str, checkpoint: str):
    """foreachBatch → parquet sink (the production write path: each
    micro-batch lands as an idempotent append keyed by batch id)."""
    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    q = (
        stream_df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def sliding_hourly(events: DataFrame) -> DataFrame:
    """Streaming twin of batch_parity.events_sliding_windows: 1-hour
    windows sliding every 30 minutes (each event in 2 windows)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"),
                 "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum("value").alias("sum_value"))
        .select(F.col("win.start").alias("win_start"), "event_type",
                "n_events", "sum_value")
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + value total, emitted per micro-batch.

    The state (count, total) is a tiny tuple per user_id; the
    watermark-driven timeout (ProcessingTimeTimeout here, since the
    fixture replays history) bounds state growth. This is the escape
    hatch for semantics Spark's built-in stateful ops can't express —
    counters, custom sessionization policies, CEP-ish logic.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ])
    state_schema = StructType([
        StructField("n", LongType()),
        StructField("total", DoubleType()),
    ])

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        import pandas as pd  # by-value closure: keep imports local
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total_value": [round(total, 2)]})

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
