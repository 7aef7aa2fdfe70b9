"""Streaming tests: batch/stream parity (SURVEY.md §5.4) — each
Structured Streaming job must agree with its batch twin on the same
events data — plus the foreachBatch parquet sink."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_warehouse_project_spark import schemas
from data_warehouse_project_spark.streaming import batch_parity, jobs
from data_warehouse_project_spark.streaming.state_fold import (
    BATCH_COL, dropped_late_count, fold_batch, run_maintainer)


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return jobs.read_events_stream(spark, sf_dir)


def test_ts_type_dispatch_stream_matches_batch(spark, sf_dir, tmp_path):
    """The streaming reader's on-disk ts-type dispatch (VERDICT r4 #4):
    whatever the physical encoding — the driver fixture's current one
    or a synthetic TIMESTAMP(NANOS) file (the old encoding) — the
    stream must decode ts to exactly the batch catalog's values. Fails
    with a clear min/max mismatch here if the producer's physical type
    drifts again, instead of a value mismatch 200 lines into a parity
    test."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_warehouse_project_spark.sources.catalog import Catalog

    def stream_minmax(d, name):
        s = jobs.read_events_stream(spark, d)
        agg = s.groupBy().agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"),
                              F.count("*").alias("n"))
        ck = str(tmp_path / f"ck_{name}")
        jobs.run_to_memory(agg, name, ck, output_mode="complete")
        r = spark.table(name).collect()[0]
        return r["lo"], r["hi"], r["n"]

    def batch_minmax(d):
        r = (Catalog(spark, d).events
             .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"),
                  F.count("*").alias("n")).collect()[0])
        return r["lo"], r["hi"], r["n"]

    # 1. the driver fixture, whatever its current physical encoding
    real = batch_minmax(sf_dir)
    assert stream_minmax(sf_dir, "tsdisp_real") == real
    assert real[0].year >= 2000       # not decoded onto 1970's epoch

    # 2. a synthetic nanos-encoded fixture (the pre-regeneration
    # physical type: surfaces as `long` under nanosAsLong)
    nanos_dir = tmp_path / "nanos_sf"
    nanos_dir.mkdir()
    base_us = 1_700_000_000_000_000   # 2023-11-14, µs since epoch
    tbl = pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array([(base_us + i * 60_000_000) * 1000
                        for i in range(3)], pa.timestamp("ns")),
        "user_id": pa.array([1, 1, 2], pa.int64()),
        "event_type": pa.array(["click", "view", "click"]),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        "props": pa.array(["{}", "{}", "{}"]),
    })
    pq.write_table(tbl, str(nanos_dir / "events.parquet"), version="2.6")
    ts_type, needs_convert = jobs.sniff_events_ts_type(
        spark, str(nanos_dir / "events.parquet"))
    assert needs_convert and ts_type.typeName() == "long"
    assert stream_minmax(str(nanos_dir), "tsdisp_nanos") \
        == batch_minmax(str(nanos_dir))


def test_tumbling_parity(spark, sf_dir, events_stream, tmp_path_factory):
    ck = str(tmp_path_factory.mktemp("ck_tumble"))
    jobs.run_to_memory(jobs.tumbling_hourly(events_stream),
                       "tumbling_mem", ck, output_mode="complete")
    stream_rows = {
        (r["hour"], r["event_type"]): (r["n_events"], round(r["sum_value"], 2))
        for r in spark.table("tumbling_mem").collect()
    }
    batch_rows = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch_parity.events_tumbling_hourly(spark, sf_dir).collect()
    }
    assert stream_rows == batch_rows


def test_session_parity(spark, sf_dir, events_stream, tmp_path_factory):
    ck = str(tmp_path_factory.mktemp("ck_sess"))
    jobs.run_to_memory(jobs.sessionized(events_stream),
                       "sessions_mem", ck, output_mode="complete")
    stream_rows = {
        (r["user_id"], r["session_start"]): (r["n_events"],
                                             round(r["session_value"], 2))
        for r in spark.table("sessions_mem").collect()
    }
    batch_rows = {
        (r["user_id"], r["session_start"]): (r["n_events"],
                                             r["session_value"])
        for r in batch_parity.events_sessionize(spark, sf_dir).collect()
    }
    assert stream_rows == batch_rows


def test_dedup_parity_on_keys(spark, sf_dir, events_stream, tmp_path_factory):
    """dropDuplicates keeps the first *arrival* (nondeterministic on
    ties within a batch) — parity is asserted on the key set and
    count, which are order-independent."""
    ck = str(tmp_path_factory.mktemp("ck_dedup"))
    jobs.run_to_memory(jobs.deduplicated(events_stream), "dedup_mem", ck)
    stream_keys = {(r["user_id"], r["event_type"])
                   for r in spark.table("dedup_mem").collect()}
    batch = batch_parity.events_dedup_first(spark, sf_dir).collect()
    batch_keys = {(r["user_id"], r["event_type"]) for r in batch}
    assert stream_keys == batch_keys
    assert spark.table("dedup_mem").count() == len(batch)


def test_foreach_batch_parquet_sink(spark, sf_dir, events_stream, tmp_path):
    out = str(tmp_path / "out.parquet")
    ck = str(tmp_path / "ck")
    jobs.run_to_parquet(jobs.tumbling_hourly(events_stream), out, ck)
    written = spark.read.parquet(out)
    assert written.count() > 0
    assert set(written.columns) == {"hour", "event_type", "n_events",
                                    "sum_value"}


def test_sliding_parity(spark, sf_dir, events_stream, tmp_path_factory):
    ck = str(tmp_path_factory.mktemp("ck_slide"))
    jobs.run_to_memory(jobs.sliding_hourly(events_stream),
                       "sliding_mem", ck, output_mode="complete")
    stream_rows = {
        (r["win_start"], r["event_type"]): (r["n_events"],
                                            round(r["sum_value"], 2))
        for r in spark.table("sliding_mem").collect()
    }
    batch_rows = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch_parity.events_sliding_windows(spark, sf_dir).collect()
    }
    assert stream_rows == batch_rows


def test_stateful_running_totals(spark, sf_dir, events_stream,
                                 tmp_path_factory):
    from data_warehouse_project_spark.sources.catalog import Catalog
    from pyspark.sql import functions as F
    ck = str(tmp_path_factory.mktemp("ck_state"))
    jobs.run_to_memory(jobs.user_running_totals(events_stream),
                       "state_mem", ck, output_mode="update")
    got = {r["user_id"]: (r["n_events"], r["total_value"])
           for r in spark.table("state_mem").collect()}
    expected = {
        r["user_id"]: (r["n"], r["t"])
        for r in Catalog(spark, sf_dir).events.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("t")).collect()
    }
    assert set(got) == set(expected)
    for uid, (n, t) in expected.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - t) < 0.02     # state accumulates FP order


def test_watermark_late_data_accept_and_drop(spark, tmp_path):
    """Incremental-feed watermark semantics (not a single-file replay):
    chunk 1 establishes the watermark, chunk 2 delivers one late-but-
    within-watermark event (must be aggregated) and one beyond-
    watermark event (must be dropped), plus an advancing event that
    finalizes the open windows. Append-mode emissions accumulate in a
    parquet sink across availableNow runs of the same checkpoint."""
    import datetime as dt

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def feed(rows):
        spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, h, m), k, v) for h, m, k, v in rows],
            "ts timestamp, k string, value double",
        ).coalesce(1).write.mode("append").parquet(landing)

    def run():
        stream = (spark.readStream
                  .schema("ts timestamp, k string, value double")
                  .parquet(landing))
        agg = (stream.withWatermark("ts", "1 hour")
               .groupBy(F.window("ts", "1 hour").alias("win"), "k")
               .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
               .select(F.col("win.start").alias("ws"), "k", "n", "sv"))
        jobs.run_to_parquet(agg, out, ck)
        got = spark.read.parquet(out).collect()
        return {(r["ws"].hour, r["k"]): (r["n"], r["sv"]) for r in got}

    # chunk 1: two events in the 10:00 window, one at 12:30 → watermark
    # advances to 11:30, so only [10:00, 11:00) finalizes and emits
    feed([(10, 15, "a", 1.0), (10, 45, "a", 2.0), (12, 30, "a", 4.0)])
    assert run() == {(10, "a"): (2, 3.0)}

    # chunk 2: 11:45 is late but ≥ watermark (11:30) → aggregated;
    # 10:20 is beyond the watermark → silently dropped; 14:00 advances
    # the watermark to 13:00, finalizing the 11:00 and 12:00 windows
    feed([(11, 45, "a", 8.0), (10, 20, "a", 16.0), (14, 0, "a", 32.0)])
    result = run()
    assert result == {
        (10, "a"): (2, 3.0),   # unchanged: the 16.0 event never landed
        (11, "a"): (1, 8.0),   # the within-watermark late event counted
        (12, "a"): (1, 4.0),
    }


def test_restart_resumes_exactly_once_foreach_batch(spark, tmp_path):
    """End-to-end restart: the real tumbling job + foreachBatch parquet
    sink, driven by chunked landing files across three availableNow
    runs of the same checkpoint (each run is a fresh query = a
    restart). Finalized windows must appear exactly once, survive the
    restarts, and a catch-up run with no new data must write nothing."""
    import datetime as dt

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def feed(rows):
        spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, h, m), et, v) for h, m, et, v in rows],
            "ts timestamp, event_type string, value double",
        ).coalesce(1).write.mode("append").parquet(landing)

    def run():
        stream = (spark.readStream
                  .schema("ts timestamp, event_type string, value double")
                  .parquet(landing))
        jobs.run_to_parquet(jobs.tumbling_hourly(stream), out, ck)
        return {(r["hour"].hour, r["event_type"]): (r["n_events"], r["sum_value"])
                for r in spark.read.parquet(out).collect()}

    # run 1: two 10:00-window events, one 11:30 event, advance to 14:30
    # → watermark 12:30 (2 h delay) finalizes the 10:00 and 11:00
    # windows; the 14:00 window stays open
    feed([(10, 15, "a", 1.0), (10, 45, "a", 2.0), (11, 30, "a", 4.0),
          (14, 30, "a", 8.0)])
    assert run() == {(10, "a"): (2, 3.0), (11, "a"): (1, 4.0)}

    # run 2 (restart): 12:45 is late-but-within-watermark → counted;
    # 14:10 joins the open 14:00 window; 18:00 advances the watermark
    # to 16:00, finalizing the 12:00 and 14:00 windows
    feed([(12, 45, "a", 32.0), (14, 10, "a", 16.0), (18, 0, "a", 64.0)])
    expected = {(10, "a"): (2, 3.0), (11, "a"): (1, 4.0),
                (12, "a"): (1, 32.0), (14, "a"): (2, 24.0)}
    assert run() == expected

    # run 3 (restart, no new data): exactly-once — nothing re-emitted,
    # nothing lost
    assert run() == expected


def test_dedup_within_watermark_state_eviction(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the watermark
    delay are suppressed; once the watermark passes a key's first
    sighting, its state is evicted and a later recurrence is new."""
    import datetime as dt

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def feed(rows):
        spark.createDataFrame(
            [(i, dt.datetime(2024, 1, 1, h, m), u, et, 1.0)
             for i, h, m, u, et in rows],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double",
        ).coalesce(1).write.mode("append").parquet(landing)

    def run():
        stream = (spark.readStream
                  .schema("event_id long, ts timestamp, user_id long, "
                          "event_type string, value double")
                  .parquet(landing))
        dedup = jobs.deduplicated_within_watermark(stream).select("event_id")
        jobs.run_to_parquet(dedup, out, ck)
        return {r["event_id"] for r in spark.read.parquet(out).collect()}

    # chunk 1: id=2 duplicates (u1, click) 30 min after id=1 → dropped;
    # id=3 advances the watermark to 11:30, evicting u1/click state
    feed([(1, 10, 0, 1, "click"), (2, 10, 30, 1, "click"),
          (3, 12, 30, 2, "view")])
    assert run() == {1, 3}

    # chunk 2: u1/click state was evicted → id=4 is new again;
    # id=5 duplicates it 15 min later within the same batch → dropped
    feed([(4, 13, 30, 1, "click"), (5, 13, 45, 1, "click")])
    assert run() == {1, 3, 4}


def test_stream_stream_join_parity(spark, sf_dir, events_stream,
                                   tmp_path_factory):
    """Stream-stream interval join (click→purchase attribution) must
    agree with its batch self-join twin on the same events data."""
    ck = str(tmp_path_factory.mktemp("ck_ssj"))
    jobs.run_to_memory(jobs.click_purchase_join(events_stream),
                       "ssjoin_mem", ck)
    stream_pairs = {(r["click_id"], r["purchase_id"])
                    for r in spark.table("ssjoin_mem").collect()}
    batch = batch_parity.events_click_purchase_join(spark, sf_dir).collect()
    batch_pairs = {(r["click_id"], r["purchase_id"]) for r in batch}
    assert stream_pairs == batch_pairs
    assert len(batch_pairs) > 0


def test_document_ingest_dedup_across_batches_and_restart(spark, tmp_path):
    """Streaming corpus ingestion: re-ingested documents (same
    normalized text, different doc_id/whitespace) are suppressed
    across chunks and across a restart; novel documents pass."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def feed(rows):
        spark.createDataFrame(
            [(i, t, "en", s, len(t)) for i, t, s in rows],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).coalesce(1).write.mode("append").parquet(landing)

    def run():
        stream = (spark.readStream
                  .schema(schemas.DOCUMENTS)
                  .parquet(landing))
        jobs.run_to_parquet(jobs.document_ingest_dedup(stream), out, ck)
        return {r["doc_id"] for r in spark.read.parquet(out).collect()}

    feed([(1, "alpha beta gamma", "src0"),
          (2, "delta epsilon zeta", "src0"),
          (3, "Alpha  beta   gamma", "src1")])   # dup of 1 (normalized)
    first = run()
    assert len(first) == 2 and 2 in first
    assert len(first & {1, 3}) == 1              # one of the dup pair

    # restart with a new chunk: 4 re-ingests doc 2's content (dropped,
    # state survived the restart via the checkpoint), 5 is novel
    feed([(4, "delta  epsilon zeta", "src2"),
          (5, "eta theta iota", "src2")])
    assert run() == first | {5}


def test_incremental_rollup_equals_full_recompute(spark, sf_dir):
    """Merging batches into the mergeable rollup state must reproduce
    the full recompute EXACTLY — counts/sums by addition, distinct
    users by lossless HLL register union."""
    from data_warehouse_project_spark.plans import incremental
    from data_warehouse_project_spark.sources.catalog import Catalog

    ev = Catalog(spark, sf_dir).events
    # three arrival batches (uneven split)
    b0 = ev.filter(F.col("event_id") % 3 == 0)
    b1 = ev.filter(F.col("event_id") % 3 == 1)
    b2 = ev.filter(F.col("event_id") % 3 == 2)
    state = incremental.hourly_rollup_state(b0)
    state = incremental.merge_hourly_state(state, b1)
    state = incremental.merge_hourly_state(state, b2)
    merged = {(r["hour"], r["event_type"]):
              (r["n_events"], r["sum_value"], r["n_users_approx"])
              for r in incremental.state_to_report(state).collect()}
    full = {(r["hour"], r["event_type"]):
            (r["n_events"], r["sum_value"], r["n_users_approx"])
            for r in incremental.state_to_report(
                incremental.hourly_rollup_state(ev)).collect()}
    assert merged == full
    # exact stats agree with a direct aggregation
    direct = {(r["hour"], r["event_type"]): r["n"] for r in
              ev.groupBy(F.date_trunc("hour", F.col("ts"))
                         .cast("timestamp_ntz").alias("hour"), "event_type")
              .agg(F.count("*").alias("n")).collect()}
    assert {k: v[0] for k, v in merged.items()} == direct


def test_streaming_rollup_maintainer_matches_batch(spark, tmp_path):
    """The foreachBatch rollup maintainer must converge to exactly the
    batch recompute across chunked arrivals and a restart."""
    import datetime as dt

    from data_warehouse_project_spark.plans import incremental

    init, merge = (incremental.hourly_rollup_state,
                   incremental.merge_hourly_state)
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    schema = ("ts timestamp, event_type string, value double, "
              "user_id long")

    def feed(rows):
        spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, h, m), et, v, u)
             for h, m, et, v, u in rows], schema,
        ).coalesce(1).write.mode("append").parquet(landing)

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        run_maintainer(stream, state, ck, init, merge)

    feed([(10, 0, "click", 1.0, 1), (10, 30, "click", 2.0, 2),
          (11, 0, "view", 4.0, 1)])
    run()
    feed([(10, 45, "click", 8.0, 1), (12, 0, "view", 16.0, 3)])
    run()                                        # restart, second chunk

    got = {(r["hour"].hour, r["event_type"]):
           (r["n_events"], r["sum_value"], r["n_users_approx"])
           for r in incremental.state_to_report(
               spark.read.parquet(state)).collect()}
    full = {(r["hour"].hour, r["event_type"]):
            (r["n_events"], r["sum_value"], r["n_users_approx"])
            for r in incremental.state_to_report(
                incremental.hourly_rollup_state(
                    spark.read.parquet(landing))).collect()}
    assert got == full
    assert got[(10, "click")] == (3, 11.0, 2)    # users 1,2 distinct


def test_rollup_maintainer_replay_is_idempotent(spark, tmp_path):
    """The at-least-once crash window: a batch whose state swap
    committed but whose checkpoint offset did NOT is replayed on
    restart — fold_batch must skip it, not double-count
    the additive stats (ADVICE r2, incremental.py)."""
    import datetime as dt

    from data_warehouse_project_spark.plans import incremental

    init, merge = (incremental.hourly_rollup_state,
                   incremental.merge_hourly_state)
    state = str(tmp_path / "state")
    schema = ("ts timestamp, event_type string, value double, "
              "user_id long")

    def batch(rows):
        return spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, h, m), et, v, u)
             for h, m, et, v, u in rows], schema)

    b0 = batch([(10, 0, "click", 1.0, 1), (11, 0, "view", 4.0, 2)])
    b1 = batch([(10, 30, "click", 2.0, 3)])

    assert fold_batch(b0, 0, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is True
    # crash after swap, before checkpoint commit → batch 1 replays
    assert fold_batch(b1, 1, state, init, merge) is False
    # an old batch id never reapplies either
    assert fold_batch(b0, 0, state, init, merge) is False

    got = {(r["hour"].hour, r["event_type"]): (r["n_events"], r["sum_value"])
           for r in incremental.state_to_report(
               spark.read.parquet(state)).collect()}
    assert got == {(10, "click"): (2, 3.0), (11, "view"): (1, 4.0)}


def test_transitions_maintainer_restart_matches_batch(spark, tmp_path):
    """VERDICT r5 #7 — checkpoint-restart parity for the incremental
    transition miner: the foreachBatch maintainer fed ts-ordered
    chunks across TWO runs of the same checkpoint (run 2 is a restart)
    must converge to exactly the batch twin's full recompute,
    including the transition that CROSSES the restart boundary (the
    carried last-event row is what stitches it)."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import transitions

    init, merge = (transitions.transitions_state,
                   transitions.merge_transitions_state)
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    schema = "user_id long, event_id long, ts timestamp, event_type string"

    def feed(rows):
        spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 1, h, m), et)
             for u, e, h, m, et in rows], schema,
        ).coalesce(1).write.mode("append").parquet(landing)

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        run_maintainer(stream, state, ck, init, merge)

    # user 1: click→view within chunk 1; user 2: single click
    feed([(1, 10, 9, 0, "click"), (1, 11, 9, 30, "view"),
          (2, 12, 9, 45, "click")])
    run()
    # chunk 2 (restart): user 1 view→purchase CROSSES the boundary;
    # user 2 click→click crosses too; user 3 is new (no transition)
    feed([(1, 20, 10, 0, "purchase"), (2, 21, 10, 15, "click"),
          (3, 22, 10, 30, "view")])
    run()

    got = {(r["prev_type"], r["next_type"]): r["n"]
           for r in transitions.state_to_report(
               spark.read.parquet(state)).collect()}
    assert got == {("click", "view"): 1, ("view", "purchase"): 1,
                   ("click", "click"): 1}
    # full-recompute parity on the same landing data
    full = {(r["prev_type"], r["next_type"]): r["n"]
            for r in transitions.state_to_report(
                transitions.transitions_state(
                    spark.read.parquet(landing))).collect()}
    assert got == full
    # restart with no new data: nothing changes (exactly-once)
    run()
    again = {(r["prev_type"], r["next_type"]): r["n"]
             for r in transitions.state_to_report(
                 spark.read.parquet(state)).collect()}
    assert again == got


def test_transitions_fold_replay_is_idempotent(spark, tmp_path):
    """The at-least-once crash window for the transition maintainer:
    a replayed batch id must be skipped, not double-counted."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import transitions

    init, merge = (transitions.transitions_state,
                   transitions.merge_transitions_state)
    state = str(tmp_path / "state")
    schema = "user_id long, event_id long, ts timestamp, event_type string"

    def batch(rows):
        return spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 1, h, m), et)
             for u, e, h, m, et in rows], schema)

    b0 = batch([(1, 10, 9, 0, "click"), (1, 11, 9, 30, "view")])
    b1 = batch([(1, 20, 10, 0, "purchase")])

    assert fold_batch(b0, 0, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is False
    assert fold_batch(b0, 0, state, init, merge) is False

    got = {(r["prev_type"], r["next_type"]): r["n"]
           for r in transitions.state_to_report(
               spark.read.parquet(state)).collect()}
    assert got == {("click", "view"): 1, ("view", "purchase"): 1}


def test_transitions_incremental_equals_batch_twin(spark, sf_dir):
    """The registered incremental form must be value-identical to the
    batch twin's full recompute on the driver fixture."""
    from data_warehouse_project_spark.streaming import transitions

    inc = transitions.events_transitions_incremental(spark, sf_dir).collect()
    full = batch_parity.events_top_transitions(spark, sf_dir).collect()
    assert [tuple(r) for r in inc] == [tuple(r) for r in full]


def test_anomalies_served_from_rollup_state_match_recompute(spark, sf_dir):
    """The MAD anomaly detector fed from the incrementally-maintained
    rollup state must flag exactly the hours the full events
    recompute flags — the materialized-monitoring path costs O(state)
    yet answers identically."""
    from data_warehouse_project_spark.plans import incremental
    from data_warehouse_project_spark.sources.catalog import Catalog

    ev = Catalog(spark, sf_dir).events
    # state built incrementally (two arrival batches, like the
    # registered incremental_hourly_rollup)
    state = incremental.merge_hourly_state(
        incremental.hourly_rollup_state(ev.filter(F.col("event_id") % 2 == 0)),
        ev.filter(F.col("event_id") % 2 == 1))
    served = incremental.anomalies_from_rollup_state(state).collect()
    full = batch_parity.events_anomaly_mad(
        spark, sf_dir).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in full]
    assert len(full) >= 0  # shape pinned by the driver row; non-empty
    # is data-dependent — equality above is the real assertion


def test_anomaly_alerter_alert_once_across_restarts(spark, tmp_path):
    """Alert-once semantics on the state-served detector: a planted
    hourly spike alerts exactly once, survives restarts and replays,
    and quiet catch-up runs append nothing."""
    import datetime as dt

    from data_warehouse_project_spark.plans import incremental

    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    alerts = str(tmp_path / "alerts")
    ck = str(tmp_path / "ck")
    schema = ("ts timestamp, event_type string, value double, "
              "user_id long")

    def feed(rows):
        spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, h, m), "click", 1.0, 1)
             for h, m in rows], schema,
        ).coalesce(1).write.mode("append").parquet(landing)

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        incremental.run_anomaly_alert_maintainer(stream, state, alerts, ck)

    # 10 quiet hours, 3 events each → median 3, MAD 0
    feed([(h, m * 7) for h in range(10) for m in range(3)])
    run()
    import os
    n0 = (spark.read.parquet(alerts).count()
          if os.path.exists(alerts) else 0)
    assert n0 == 0  # stable series: nothing to flag

    # hour 12 spikes to 50 events: |50 - 3| > 3*max(mad,1)
    feed([(12, m) for m in range(50)])
    run()                                       # restart, second chunk
    got = spark.read.parquet(alerts).collect()
    assert len(got) == 1
    assert got[0]["hour"].hour == 12 and got[0]["n"] == 50

    run()                                       # no new data: no dupes
    assert spark.read.parquet(alerts).count() == 1

    # direct replay of an already-folded batch must not re-alert
    batch = spark.read.parquet(landing)
    applied = fold_batch(batch, 0, state, incremental.hourly_rollup_state,
                         incremental.merge_hourly_state)
    assert applied is False


def test_funnel_maintainer_restart_matches_batch(spark, tmp_path):
    """Checkpoint-restart parity for the incremental funnel: the
    foreachBatch maintainer fed ts-ordered chunks across TWO runs of
    the same checkpoint must converge to the batch twin's full
    recompute — including a stage transition that CROSSES the restart
    boundary (view in chunk 1, qualifying click in chunk 2)."""
    import datetime as dt

    from data_warehouse_project_spark.plans.analytics import funnel_report
    from data_warehouse_project_spark.streaming import funnel_state

    init, merge = funnel_state.funnel_state, funnel_state.merge_funnel_state
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    schema = "user_id long, event_id long, ts timestamp, event_type string"

    def feed(rows):
        spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 1, h, m), et)
             for u, e, h, m, et in rows], schema,
        ).coalesce(1).write.mode("append").parquet(landing)

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        run_maintainer(stream, state, ck, init, merge)

    # chunk 1: user 1 view+click; user 2 view only; user 3 click only
    # (pre-view — must never count)
    feed([(1, 10, 9, 0, "view"), (1, 11, 9, 30, "click"),
          (2, 12, 9, 45, "view"), (3, 13, 9, 50, "click")])
    run()
    # chunk 2 (restart): user 1 purchases (crosses the boundary from
    # the carried t_click); user 2's click crosses from chunk-1 view;
    # user 3 finally views (their old click stays disqualified)
    feed([(1, 20, 10, 0, "purchase"), (2, 21, 10, 15, "click"),
          (3, 22, 10, 30, "view")])
    run()

    got = {r["event_type"]: r["n_users"] for r in
           funnel_state.state_to_report(
               spark.read.parquet(state)).collect()}
    assert got == {"view": 3, "click": 2, "purchase": 1}
    # full-recompute parity on the same landing data
    full = {r["event_type"]: r["n_users"] for r in
            funnel_report(spark.read.parquet(landing)).collect()}
    assert got == full
    # restart with no new data: nothing changes (exactly-once)
    run()
    again = {r["event_type"]: r["n_users"] for r in
             funnel_state.state_to_report(
                 spark.read.parquet(state)).collect()}
    assert again == got


def test_funnel_fold_replay_is_idempotent(spark, tmp_path):
    import datetime as dt

    from data_warehouse_project_spark.streaming import funnel_state

    init, merge = funnel_state.funnel_state, funnel_state.merge_funnel_state
    state = str(tmp_path / "state")
    schema = "user_id long, event_id long, ts timestamp, event_type string"

    def batch(rows):
        return spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 1, h, m), et)
             for u, e, h, m, et in rows], schema)

    b0 = batch([(1, 10, 9, 0, "view")])
    b1 = batch([(1, 20, 10, 0, "click")])

    assert fold_batch(b0, 0, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is False
    assert fold_batch(b0, 0, state, init, merge) is False

    got = {r["event_type"]: r["n_users"] for r in
           funnel_state.state_to_report(
               spark.read.parquet(state)).collect()}
    assert got == {"view": 1, "click": 1, "purchase": 0}


def test_distinct_users_maintainer_restart_matches_single_pass(
        spark, tmp_path):
    """HLL distinct-users maintainer across a checkpoint restart:
    merged state estimates must equal a single-pass sketch of all
    history (sketch union is associative), and per-key small-count
    estimates are exact."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import distinct_users

    init, merge = (distinct_users.distinct_state,
                   distinct_users.merge_distinct_state)
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    schema = "user_id long, event_id long, ts timestamp, event_type string"

    def feed(rows):
        spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, d, h), et)
             for u, e, d, h, et in rows], schema,
        ).coalesce(1).write.mode("append").parquet(landing)

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        run_maintainer(stream, state, ck, init, merge)

    # day 1: users 1,2 click (user 1 twice); user 1 views
    feed([(1, 10, 1, 9, "click"), (1, 11, 1, 10, "click"),
          (2, 12, 1, 11, "click"), (1, 13, 1, 12, "view")])
    run()
    # day 1 continued across restart: user 2 clicks AGAIN (must not
    # double-count), user 3 is new; day 2 begins
    feed([(2, 20, 1, 13, "click"), (3, 21, 1, 14, "click"),
          (1, 22, 2, 9, "click")])
    run()

    est = {(r["event_type"], r["day"].day): r["approx_users"]
           for r in distinct_users.state_to_estimates(
               spark.read.parquet(state).drop(BATCH_COL)).collect()}
    assert est == {("click", 1): 3, ("view", 1): 1, ("click", 2): 1}
    # single-pass parity on the same landing data
    full = {(r["event_type"], r["day"].day): r["approx_users"]
            for r in distinct_users.state_to_estimates(
                distinct_users.distinct_state(
                    spark.read.parquet(landing))).collect()}
    assert est == full
    # restart with no new data: nothing changes
    run()
    again = {(r["event_type"], r["day"].day): r["approx_users"]
             for r in distinct_users.state_to_estimates(
                 spark.read.parquet(state).drop(BATCH_COL)).collect()}
    assert again == est


def test_distinct_users_fold_replay_is_idempotent(spark, tmp_path):
    """Replayed batch ids are skipped — estimates cannot drift under
    at-least-once delivery (a sketch re-union of the SAME batch is
    harmless for distinct counts, but the sentinel contract is shared
    with the additive maintainers, so pin it here too)."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import distinct_users

    init, merge = (distinct_users.distinct_state,
                   distinct_users.merge_distinct_state)
    state = str(tmp_path / "state")
    schema = "user_id long, event_id long, ts timestamp, event_type string"

    def batch(rows):
        return spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 1, h), et)
             for u, e, h, et in rows], schema)

    b0 = batch([(1, 10, 9, "click"), (2, 11, 10, "click")])
    b1 = batch([(3, 20, 11, "click")])

    assert fold_batch(b0, 0, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is False
    assert fold_batch(b0, 0, state, init, merge) is False

    est = {(r["event_type"], r["day"].day): r["approx_users"]
           for r in distinct_users.state_to_estimates(
               spark.read.parquet(state).drop(BATCH_COL)).collect()}
    assert est == {("click", 1): 3}


def test_distinct_users_incremental_all_within_gate(spark, sf_dir):
    """The registered gate query: every (type, day) key present, all
    booleans true on the driver fixture."""
    from data_warehouse_project_spark.streaming.distinct_users import (
        events_distinct_users_incremental)

    rows = events_distinct_users_incremental(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["within_gate"] for r in rows)


def test_ttl_window_maintainer_restart_evicts_and_matches_batch(
        spark, tmp_path):
    """TTL'd windowed-aggregate maintainer (round 7): across a
    restart, surviving windows must exactly match the full recompute,
    and windows older than TTL_HOURS relative to the event-time
    high-watermark must be GONE from the state table itself (bounded
    state, not just a filtered view)."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import ttl_window

    init, merge = ttl_window.window_state, ttl_window.merge_window_state
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    base = dt.datetime(2024, 1, 1, 0, 0)

    def feed(rows):
        spark.createDataFrame(
            [(e, base + dt.timedelta(hours=h), u, et, v)
             for e, h, u, et, v in rows], schema,
        ).coalesce(1).write.mode("append").parquet(landing)

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        run_maintainer(stream, state, ck, init, merge)

    # chunk 1: two early windows (hour 0 and hour 1)
    feed([(1, 0, 10, "click", 1.0), (2, 0, 11, "click", 2.5),
          (3, 1, 10, "view", 0.25)])
    run()
    got1 = spark.read.parquet(state)
    assert got1.count() == 2  # (h0, click), (h1, view)
    # chunk 2 (restart): watermark jumps past TTL for hour 0 and 1;
    # hour 0 also gets a LATE event that lands then is evicted
    far = ttl_window.TTL_HOURS + 1
    feed([(4, far, 12, "click", 4.0), (5, 0, 13, "click", 8.0),
          (6, far, 10, "purchase", 1.25)])
    run()
    rows = {(r["window_hour"], r["event_type"]): r
            for r in ttl_window.state_to_report(
                spark.read.parquet(state)).collect()}
    h_far = far + base.hour  # base is midnight: window == hour offset
    hwm_rel = {(h - 0, t) for h, t in rows}
    assert all(h >= ttl_window.TTL_HOURS + 1 - ttl_window.TTL_HOURS + 0
               for h, _ in hwm_rel)
    # only the two far windows survive; hours 0/1 evicted from STATE
    got_hours = {h for h, _ in rows}
    stored_hours = {r["window_hour"] for r in
                    spark.read.parquet(state).collect()}
    assert got_hours == stored_hours
    assert all(r["hours_behind_hwm"] < ttl_window.TTL_HOURS
               for r in rows.values())
    assert len(rows) == 2
    assert rows[(min(got_hours), "click")]["n_events"] == 1
    assert rows[(min(got_hours), "click")]["sum_value"] == 4.0
    assert rows[(min(got_hours), "purchase")]["n_events"] == 1
    # full-recompute parity over the same landing data
    full = {(r["window_hour"], r["event_type"]): (r["n_events"],
                                                  r["sum_value"])
            for r in ttl_window.state_to_report(
                ttl_window.window_state(
                    spark.read.parquet(landing))).collect()}
    assert full == {(h, t): (r["n_events"], r["sum_value"])
                    for (h, t), r in rows.items()}
    # restart with no new data: unchanged
    run()
    again = {(r["window_hour"], r["event_type"])
             for r in spark.read.parquet(state).collect()}
    assert again == set(rows)


def test_ttl_window_fold_replay_is_idempotent(spark, tmp_path):
    import datetime as dt

    from data_warehouse_project_spark.streaming import ttl_window

    init, merge = ttl_window.window_state, ttl_window.merge_window_state
    state = str(tmp_path / "state")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(e, dt.datetime(2024, 1, 1, h), u, et, v)
         for e, h, u, et, v in rows], schema)
    b0 = mk([(1, 0, 10, "click", 1.0)])
    b1 = mk([(2, 1, 11, "view", 2.0)])
    assert fold_batch(b0, 0, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is True
    # replayed and out-of-order batch ids are both skipped
    assert fold_batch(b1, 1, state, init, merge) is False
    assert fold_batch(b0, 0, state, init, merge) is False
    rep = {(r["window_hour"], r["event_type"]): r["n_events"]
           for r in ttl_window.state_to_report(
               spark.read.parquet(state)).collect()}
    assert list(rep.values()) == [1, 1]


def test_ttl_sliding_served_matches_hand_computed(spark):
    """Sliding sums served from tumbling state equal hand-computed
    trailing-24h sums, and hours whose lookback crosses the retention
    edge are suppressed rather than served incomplete."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import ttl_window

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    base = dt.datetime(2024, 1, 1, 0, 0)
    # hours 0, 10, 30, 95 for 'click' (hwm=95; TTL 72 keeps h>23;
    # sliding valid for h > 95-49 = 46 -> only h=95 served)
    rows = [(1, 0, 1, "click", 1.0), (2, 10, 1, "click", 2.0),
            (3, 30, 1, "click", 4.0), (4, 95, 1, "click", 8.0),
            (5, 94, 2, "view", 0.5)]
    ev = spark.createDataFrame(
        [(e, base + dt.timedelta(hours=h), u, et, v)
         for e, h, u, et, v in rows], schema)
    state = ttl_window.window_state(ev)
    got = {(r["window_hour"], r["event_type"]):
           (r["sliding_events"], r["sliding_value"])
           for r in ttl_window.sliding_from_state(state).collect()}
    h0 = int(base.timestamp() // 3600)
    # h=30 is retained (30 > 95-72) but NOT servable (30 <= 46)
    assert (h0 + 30, "click") not in got
    assert got[(h0 + 95, "click")] == (1, 8.0)
    assert got[(h0 + 94, "view")] == (1, 0.5)
    assert len(got) == 2


def test_cms_maintainer_fold_is_exact_and_replay_safe(spark, tmp_path):
    """The folded CMS must be BIT-IDENTICAL to a single-pass sketch
    over the union (integer cell addition is exact), and replayed
    batch ids must be skipped."""
    from data_warehouse_project_spark.llm import sketches

    init, merge = sketches.cms_state, sketches.merge_cms_state
    state = str(tmp_path / "cms_state")
    rows_a = [(i, "alpha beta " * 4) for i in range(5)]
    rows_b = [(i + 5, "beta gamma " * 3) for i in range(5)]
    schema = "doc_id long, text string"
    a = spark.createDataFrame(rows_a, schema)
    b = spark.createDataFrame(rows_b, schema)

    assert fold_batch(a, 0, state, init, merge) is True
    assert fold_batch(b, 1, state, init, merge) is True
    assert fold_batch(b, 1, state, init, merge) is False  # replay

    folded = {(r["seed"], r["bucket"]): r["n"]
              for r in spark.read.parquet(state)
              .drop(BATCH_COL).collect()}
    single = {(r["seed"], r["bucket"]): r["n"]
              for r in sketches.cms_table(
                  sketches._token_counts(a.unionByName(b))).collect()}
    assert folded == single


def test_cms_streaming_maintainer_restart(spark, tmp_path):
    from data_warehouse_project_spark.llm import sketches

    init, merge = sketches.cms_state, sketches.merge_cms_state
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, text string"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(landing)

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        run_maintainer(stream, state, ck, init, merge)

    feed([(1, "alpha beta alpha")])
    run()
    feed([(2, "beta gamma")])
    run()  # restart of the same checkpoint
    folded = {(r["seed"], r["bucket"]): r["n"]
              for r in spark.read.parquet(state)
              .drop(BATCH_COL).collect()}
    single = {(r["seed"], r["bucket"]): r["n"]
              for r in sketches.cms_table(sketches._token_counts(
                  spark.read.parquet(landing))).collect()}
    assert folded == single


def test_attribution_hand_computed(spark):
    """Planted scenario with hand-computed credits for all three
    models, incl. the empty-lookback '(none)' bucket and NULL-user
    exclusion."""
    import datetime as dt

    from data_warehouse_project_spark.plans.attribution import (
        attribution_frame)

    base = dt.datetime(2024, 3, 1, 0, 0)
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    rows = [
        # user 1: view -> click -> purchase(10.00) inside 72h
        (10, 0.0, 1, "view", 1.0), (11, 1.0, 1, "click", 1.0),
        (12, 2.0, 1, "purchase", 10.0),
        # user 1: purchase(20.00) at h100 - every touch out of range
        (13, 100.0, 1, "purchase", 20.0),
        # user 2: click then purchase(7.00) 30 min later
        (20, 0.0, 2, "click", 1.0), (21, 0.5, 2, "purchase", 7.0),
        # NULL user purchase: excluded entirely
        (30, 1.0, None, "purchase", 99.0),
    ]
    ev = spark.createDataFrame(
        [(e, base + dt.timedelta(hours=h), u, et, v, None)
         for e, h, u, et, v in rows], schema)
    got = {r["touch_type"]: r for r in attribution_frame(ev).collect()}
    assert set(got) == {"view", "click", "(none)"}
    v, c, n = got["view"], got["click"], got["(none)"]
    assert (v["n_first"], v["first_revenue"]) == (1, 10.0)
    assert (v["n_last"], v["last_revenue"]) == (0, 0.0)
    assert v["linear_revenue"] == 5.0
    assert (c["n_first"], c["first_revenue"]) == (1, 7.0)
    assert (c["n_last"], c["last_revenue"]) == (2, 17.0)
    assert c["linear_revenue"] == 12.0
    assert (n["n_first"], n["first_revenue"]) == (1, 20.0)
    assert (n["n_last"], n["last_revenue"]) == (1, 20.0)
    assert n["linear_revenue"] == 20.0


# ---------------------------------------------------------------------------
# incremental sessionization maintainer (streaming/sessions.py)
# ---------------------------------------------------------------------------

def test_sessions_maintainer_restart_matches_batch(spark, tmp_path):
    """Checkpoint-restart parity for the incremental sessionizer: the
    foreachBatch maintainer fed ts-ordered chunks across TWO runs of
    the same checkpoint (run 2 is a restart) must serve exactly the
    batch twin's gaps-and-islands view — including the session that
    EXTENDS across the restart boundary (user 1), the session that
    CLOSES at the boundary because the next event is beyond the gap
    (user 2), and a user untouched by chunk 2 (user 3, the
    pseudo-event-alone island)."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import sessions as S

    init, merge = S.sessions_state, S.merge_sessions_state
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    schema = ("user_id long, event_id long, ts timestamp, "
              "event_type string, value double")

    def feed(rows):
        spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 1, h, m), "click", v)
             for u, e, h, m, v in rows], schema,
        ).coalesce(1).write.mode("append").parquet(landing)

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        run_maintainer(stream, state, ck, init, merge)

    # chunk 1: user 1 two events 10 min apart (one session); user 2
    # one event; user 3 one event
    feed([(1, 10, 9, 0, 1.25), (1, 11, 9, 10, 2.50),
          (2, 12, 9, 20, 4.00), (3, 13, 9, 40, 0.75)])
    run()
    # chunk 2 (restart): user 1 event 20 min after their last (same
    # session, extends across the boundary); user 2 event 65 min
    # after (new session); user 3 absent
    feed([(1, 20, 9, 30, 3.00), (2, 21, 10, 25, 1.00)])
    run()

    got = {(r["user_id"], r["session_seq"]):
           (r["session_start"], r["session_end"], r["n_events"],
            r["session_value"])
           for r in S.state_to_view(spark.read.parquet(state)).collect()}
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    assert got == {
        (1, 1): (t(9, 0), t(9, 30), 3, 6.75),
        (2, 1): (t(9, 20), t(9, 20), 1, 4.00),
        (2, 2): (t(10, 25), t(10, 25), 1, 1.00),
        (3, 1): (t(9, 40), t(9, 40), 1, 0.75),
    }
    # full-recompute parity on the same landing data
    full = {(r["user_id"], r["session_seq"]):
            (r["session_start"], r["session_end"], r["n_events"],
             r["session_value"])
            for r in S.state_to_view(S.sessions_state(
                spark.read.parquet(landing))).collect()}
    assert got == full
    # restart with no new data: nothing changes (exactly-once)
    run()
    again = {(r["user_id"], r["session_seq"]):
             (r["session_start"], r["session_end"], r["n_events"],
              r["session_value"])
             for r in S.state_to_view(spark.read.parquet(state)).collect()}
    assert again == got


def test_sessions_fold_replay_is_idempotent(spark, tmp_path):
    """The at-least-once crash window for the session maintainer: a
    replayed batch id must be skipped — an extended session can
    neither double-extend nor double-count its value sum."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import sessions as S

    init, merge = S.sessions_state, S.merge_sessions_state
    state = str(tmp_path / "state")
    schema = ("user_id long, event_id long, ts timestamp, "
              "event_type string, value double")

    def batch(rows):
        return spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 1, h, m), "click", v)
             for u, e, h, m, v in rows], schema)

    b0 = batch([(1, 10, 9, 0, 1.00), (1, 11, 9, 10, 2.00)])
    b1 = batch([(1, 20, 9, 30, 4.00)])

    assert fold_batch(b0, 0, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is False
    assert fold_batch(b0, 0, state, init, merge) is False

    got = {(r["user_id"], r["session_seq"]):
           (r["n_events"], r["session_value"])
           for r in S.state_to_view(spark.read.parquet(state)).collect()}
    assert got == {(1, 1): (3, 7.00)}


# ---------------------------------------------------------------------------
# allowed-lateness transition maintainer (streaming/late_transitions.py)
# ---------------------------------------------------------------------------

def test_late_transitions_fix_disorder_strict_miscounts(spark, tmp_path):
    """The capability is non-vacuous: an event arriving one batch late
    BETWEEN two already-seen events (5 h disorder < 6 h LATENESS) is
    handled correctly by the watermark maintainer — and demonstrably
    MIScounted by the strict-ordered maintainer on the same feed,
    which is exactly the documented contract gap this module closes."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import (late_transitions as L,
                                                        transitions as T)

    schema = "user_id long, event_id long, ts timestamp, event_type string"

    def batch(rows):
        return spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 1, h), et) for u, e, h, et in rows],
            schema)

    b0 = batch([(1, 10, 0, "a"), (1, 11, 10, "c")])
    b1 = batch([(1, 20, 5, "b")])          # lands BETWEEN a and c

    late_state = L.merge_late_transitions_state(
        L.late_transitions_state(b0), b1)
    got = {(r["prev_type"], r["next_type"]): r["n"]
           for r in L.state_to_report(late_state).collect()}
    assert got == {("a", "b"): 1, ("b", "c"): 1}
    assert dropped_late_count(late_state) == 0

    strict = {(r["prev_type"], r["next_type"]): r["n"]
              for r in T.state_to_report(T.merge_transitions_state(
                  T.transitions_state(b0), b1)).collect()}
    assert strict == {("a", "c"): 1}       # the documented miscount


def test_late_transitions_drops_and_counts_beyond_horizon(spark, tmp_path):
    """An event more disordered than LATENESS is dropped loudly (the
    watermark contract): it must not appear in any transition AND the
    dropped metric must count it."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import late_transitions as L

    schema = "user_id long, event_id long, ts timestamp, event_type string"

    def batch(rows):
        return spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 2, h), et) for u, e, h, et in rows],
            schema)

    b0 = batch([(1, 10, 0, "a"), (1, 11, 10, "c")])   # wm=10h, horizon=4h
    b1 = batch([(1, 20, 3, "x")])                      # 3h ≤ horizon: late
    state = L.merge_late_transitions_state(L.late_transitions_state(b0), b1)
    got = {(r["prev_type"], r["next_type"]): r["n"]
           for r in L.state_to_report(state).collect()}
    assert got == {("a", "c"): 1}
    assert dropped_late_count(state) == 1


def test_late_transitions_fold_replay_is_idempotent(spark, tmp_path):
    """Batch-id replay guard on the shared fold template."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import late_transitions as L

    init, merge = L.late_transitions_state, L.merge_late_transitions_state
    state = str(tmp_path / "state")
    schema = "user_id long, event_id long, ts timestamp, event_type string"

    def batch(rows):
        return spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 1, h, m), et)
             for u, e, h, m, et in rows], schema)

    b0 = batch([(1, 10, 9, 0, "a"), (1, 11, 9, 30, "b")])
    b1 = batch([(1, 20, 10, 0, "c")])
    assert fold_batch(b0, 0, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is False
    got = {(r["prev_type"], r["next_type"]): r["n"]
           for r in L.state_to_report(spark.read.parquet(state)).collect()}
    assert got == {("a", "b"): 1, ("b", "c"): 1}


def test_late_transitions_maintainer_restart_with_disorder(spark, tmp_path):
    """foreachBatch + checkpoint restart across a disordered feed:
    the served report converges to the batch twin's full recompute on
    everything the watermark admitted."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import late_transitions as L

    init, merge = L.late_transitions_state, L.merge_late_transitions_state
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    schema = "user_id long, event_id long, ts timestamp, event_type string"

    def feed(rows):
        spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 1, h), et) for u, e, h, et in rows],
            schema).coalesce(1).write.mode("append").parquet(landing)

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        run_maintainer(stream, state, ck, init, merge)

    feed([(1, 10, 0, "a"), (1, 11, 10, "c"), (2, 12, 8, "a")])
    run()
    feed([(1, 20, 5, "b"), (2, 21, 9, "b")])    # both within lateness
    run()
    got = {(r["prev_type"], r["next_type"]): r["n"]
           for r in L.state_to_report(spark.read.parquet(state)).collect()}
    assert got == {("a", "b"): 2, ("b", "c"): 1}
    run()                                        # no new data: unchanged
    again = {(r["prev_type"], r["next_type"]): r["n"]
             for r in L.state_to_report(spark.read.parquet(state)).collect()}
    assert again == got


# ---------------------------------------------------------------------------
# allowed-lateness sessionizer (streaming/late_sessions.py)
# ---------------------------------------------------------------------------

def test_late_sessions_fix_disorder_strict_miscounts(spark, tmp_path):
    """Non-vacuity: a late event at 0:40 (inside LATENESS) must EXTEND
    the session that starts at 1:00 backwards — truth is sessions
    {0:00} and {0:40, 1:00}. The watermark sessionizer gets it right;
    the strict-ordered sessionizer on the same feed demonstrably does
    not (its carry stitches forward only)."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import (late_sessions as L,
                                                        sessions as S)

    schema = ("user_id long, event_id long, ts timestamp, "
              "event_type string, value double")

    def batch(rows):
        return spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 1, h, m), "e", v)
             for u, e, h, m, v in rows], schema)

    b0 = batch([(1, 10, 0, 0, 1.00), (1, 11, 1, 0, 4.00)])
    b1 = batch([(1, 20, 0, 40, 2.00)])      # bridges backwards

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    late_state = L.merge_late_sessions_state(L.late_sessions_state(b0), b1)
    got = {(r["user_id"], r["session_seq"]):
           (r["session_start"], r["session_end"], r["n_events"],
            r["session_value"])
           for r in L.state_to_view(late_state).collect()}
    assert got == {
        (1, 1): (t(0, 0), t(0, 0), 1, 1.00),
        (1, 2): (t(0, 40), t(1, 0), 2, 6.00),
    }
    assert dropped_late_count(late_state) == 0

    strict = {(r["user_id"], r["session_seq"]):
              (r["session_start"], r["session_end"], r["n_events"],
               r["session_value"])
              for r in S.state_to_view(S.merge_sessions_state(
                  S.sessions_state(b0), b1)).collect()}
    assert strict != got                    # the documented miscount


def test_late_sessions_drops_and_counts_beyond_horizon(spark, tmp_path):
    """An event more disordered than LATENESS is dropped loudly."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import late_sessions as L

    schema = ("user_id long, event_id long, ts timestamp, "
              "event_type string, value double")

    def batch(rows):
        return spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 2, h), "e", v)
             for u, e, h, v in rows], schema)

    b0 = batch([(1, 10, 0, 1.0), (1, 11, 10, 1.0)])   # wm=10h, horizon=4h
    b1 = batch([(1, 20, 3, 9.0)])                      # 3h ≤ horizon: late
    state = L.merge_late_sessions_state(L.late_sessions_state(b0), b1)
    view = {(r["user_id"], r["session_seq"]): r["n_events"]
            for r in L.state_to_view(state).collect()}
    assert view == {(1, 1): 1, (1, 2): 1}              # late event absent
    assert dropped_late_count(state) == 1


def test_late_sessions_fold_replay_is_idempotent(spark, tmp_path):
    """Batch-id replay guard on the shared fold template."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import late_sessions as L

    init, merge = L.late_sessions_state, L.merge_late_sessions_state
    state = str(tmp_path / "state")
    schema = ("user_id long, event_id long, ts timestamp, "
              "event_type string, value double")

    def batch(rows):
        return spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 1, h, m), "e", v)
             for u, e, h, m, v in rows], schema)

    b0 = batch([(1, 10, 9, 0, 1.00), (1, 11, 9, 10, 2.00)])
    b1 = batch([(1, 20, 9, 30, 4.00)])
    assert fold_batch(b0, 0, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is False
    got = {(r["user_id"], r["session_seq"]):
           (r["n_events"], r["session_value"])
           for r in L.state_to_view(spark.read.parquet(state)).collect()}
    assert got == {(1, 1): (3, 7.00)}


def test_late_sessions_maintainer_restart_with_disorder(spark, tmp_path):
    """foreachBatch + checkpoint restart across a disordered feed
    must serve the batch twin's full recompute (the bridged session
    crosses the restart boundary backwards)."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import (late_sessions as L,
                                                        sessions as S)

    init, merge = L.late_sessions_state, L.merge_late_sessions_state
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    schema = ("user_id long, event_id long, ts timestamp, "
              "event_type string, value double")

    def feed(rows):
        spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 1, h, m), "e", v)
             for u, e, h, m, v in rows], schema,
        ).coalesce(1).write.mode("append").parquet(landing)

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        run_maintainer(stream, state, ck, init, merge)

    feed([(1, 10, 0, 0, 1.0), (1, 11, 1, 0, 2.0), (2, 12, 0, 30, 3.0)])
    run()
    feed([(1, 20, 0, 40, 4.0), (2, 21, 0, 45, 5.0)])   # disorder for u1
    run()

    def view(df):
        return {(r["user_id"], r["session_seq"]):
                (r["session_start"], r["session_end"], r["n_events"],
                 r["session_value"])
                for r in df.collect()}

    got = view(L.state_to_view(spark.read.parquet(state)))
    # full recompute on everything landed (all inside lateness)
    full = view(S.state_to_view(S.sessions_state(
        spark.read.parquet(landing))))
    assert got == full
    run()
    assert view(L.state_to_view(spark.read.parquet(state))) == got


def test_kmv_maintainer_fold_is_exact_and_replay_safe(spark, tmp_path):
    """The folded KMV sketch must be BIT-IDENTICAL to a single-pass
    sketch over all history (bottom-k merge lemma), and replayed
    batch ids must be skipped."""
    import datetime as dt

    from data_warehouse_project_spark.llm import sketches

    init, merge = sketches.kmv_state, sketches.merge_kmv_state
    state = str(tmp_path / "kmv_state")
    schema = "o_orderdate date, o_custkey long"
    # two batches over the same two years, 100 keys each with overlap
    a = spark.createDataFrame(
        [(dt.date(1995, 1, 1 + i % 27), i) for i in range(100)]
        + [(dt.date(1996, 2, 1 + i % 27), 1000 + i) for i in range(100)],
        schema)
    b = spark.createDataFrame(
        [(dt.date(1995, 3, 1 + i % 27), 50 + i) for i in range(100)]
        + [(dt.date(1996, 4, 1 + i % 27), 1050 + i) for i in range(100)],
        schema)

    assert fold_batch(a, 0, state, init, merge) is True
    assert fold_batch(b, 1, state, init, merge) is True
    assert fold_batch(b, 1, state, init, merge) is False
    assert fold_batch(a, 0, state, init, merge) is False

    folded = {(r["g"], r["h"], r["r"])
              for r in spark.read.parquet(state)
              .drop(BATCH_COL).collect()}
    single = {(r["g"], r["h"], r["r"])
              for r in sketches.kmv_state(a.unionByName(b)).collect()}
    assert folded == single
    # both years saturated (150 distinct keys > k)
    gs = {}
    for g, h, r in folded:
        gs[g] = max(gs.get(g, 0), r)
    assert gs == {1995: sketches.KMV_K, 1996: sketches.KMV_K}


def test_kmv_streaming_maintainer_restart(spark, tmp_path):
    import datetime as dt

    from data_warehouse_project_spark.llm import sketches

    init, merge = sketches.kmv_state, sketches.merge_kmv_state
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    schema = "o_orderdate date, o_custkey long"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(landing)

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        run_maintainer(stream, state, ck, init, merge)

    feed([(dt.date(1995, 1, 1 + i % 27), i) for i in range(80)])
    run()
    feed([(dt.date(1995, 2, 1 + i % 27), 40 + i) for i in range(80)])
    run()  # restart of the same checkpoint
    folded = {(r["g"], r["h"], r["r"])
              for r in spark.read.parquet(state)
              .drop(BATCH_COL).collect()}
    single = {(r["g"], r["h"], r["r"])
              for r in sketches.kmv_state(
                  spark.read.parquet(landing)).collect()}
    assert folded == single


def test_bloom_maintainer_fold_is_exact_and_replay_safe(spark, tmp_path):
    """The folded Bloom bitmap must be BIT-IDENTICAL to a single-pass
    build over all history (word-wise OR is exact), and replayed
    batch ids must be skipped."""
    from data_warehouse_project_spark.operators import bloom

    init, merge = bloom.bloom_state, bloom.merge_bloom_state
    state = str(tmp_path / "bloom_state")
    schema = "p_partkey long, p_size long"
    # sizes alternate qualifying (<=2) and not; batches overlap keys
    a = spark.createDataFrame(
        [(k, 1 + (k % 4)) for k in range(0, 60)], schema)
    b = spark.createDataFrame(
        [(k, 1 + (k % 4)) for k in range(30, 90)], schema)

    assert fold_batch(a, 0, state, init, merge) is True
    assert fold_batch(b, 1, state, init, merge) is True
    assert fold_batch(b, 1, state, init, merge) is False
    assert fold_batch(a, 0, state, init, merge) is False

    folded = [(r["w"], r["bits"])
              for r in spark.read.parquet(state)
              .drop(BATCH_COL).collect()]
    single = {(r["w"], r["bits"])
              for r in bloom.bloom_state(a.unionByName(b)).collect()}
    assert len(folded) == len(set(folded)), "one row per word"
    assert set(folded) == single
    # the folded filter still admits every qualifying key (no false
    # negatives through the fold path)
    qualifying = a.unionByName(b).filter("p_size <= 2") \
        .select("p_partkey").distinct()
    bits = spark.read.parquet(state).drop(BATCH_COL)
    passed = bloom.bloom_probe(
        qualifying.withColumnRenamed("p_partkey", "l_partkey"),
        ["l_partkey"], bits, bloom.BLOOM_M)
    assert passed.count() == qualifying.count()


def _ij_events(spark, rows):
    """rows: (user_id, event_id, hours_offset, type, value)"""
    import datetime as dt

    base = dt.datetime(2025, 1, 10)
    data = [(u, e, base + dt.timedelta(hours=h), t, float(v))
            for (u, e, h, t, v) in rows]
    return spark.createDataFrame(
        data, "user_id long, event_id long, ts timestamp, "
              "event_type string, value double")


def test_interval_join_cross_batch_pairs_hand_computed(spark):
    """Out-of-order two-batch fold with cross-batch matches in BOTH
    directions — the pairs a per-batch join cannot produce — plus an
    in-batch pair, a window-excluded pair, and a too-late drop."""
    from data_warehouse_project_spark.streaming import interval_join as IJ

    # batch 1: click c1 (u1, h=10) unmatched yet; purchase p1 (u2,
    # h=10.5) unmatched yet; in-batch pair c2->p2 (u3, h=11, 11.5);
    # watermark = h=20 sentinel click (u9) so horizon = h=14
    b1 = _ij_events(spark, [
        (1, 101, 10.0, "click", 0),
        (2, 201, 10.5, "purchase", 50),
        (3, 301, 11.0, "click", 0),
        (3, 302, 11.5, "purchase", 70),
        (9, 901, 20.0, "click", 0),
    ])
    # batch 2 (disordered, all above horizon h=14): purchase for u1?
    # NO - h=10 click was evicted (10 <= 14-1) so give u1 nothing.
    # u4: click at h=15 then purchase at h=15.5 split across... both
    # here; u2: late click at h=14.5 CANNOT match p1 (p1 ts 10.5 <
    # click ts) and p1 was evicted anyway; u5: click h=19.8, purchase
    # h=20.3 (cross-batch forward pair vs batch-1 watermark? both in
    # b2 - fine, in-batch). Cross-batch FORWARD: u9 sentinel click at
    # h=20 gets purchase at h=20.5. Cross-batch BACKWARD (late click
    # under an arrived purchase): u6 purchase lands h=19.5 in batch 2
    # first... needs two folds; instead use u9 for forward and test
    # backward via a third fold below.
    b2 = _ij_events(spark, [
        (4, 401, 15.0, "click", 0),
        (4, 402, 15.5, "purchase", 90),
        (9, 902, 20.5, "purchase", 30),
        (6, 601, 19.5, "purchase", 40),
    ])
    s1 = IJ.interval_join_state(b1)
    s2 = IJ.merge_interval_join_state(s1, b2)
    # wm now 20.5 -> horizon 14.5
    # batch 3: u6's LATE click at h=19.0 (below wm, inside lateness,
    # arrives after its purchase) must match p 601 backward; an
    # ancient event at h=8 (below horizon 14.5) must drop-and-count
    b3 = _ij_events(spark, [
        (6, 602, 19.0, "click", 0),
        (7, 701, 8.0, "purchase", 10),
    ])
    s3 = IJ.merge_interval_join_state(s2, b3)
    got = {(r["user_id"], r["click_id"], r["purchase_id"])
           for r in IJ.state_to_matches(s3).collect()}
    assert got == {
        (3, 301, 302),    # in-batch pair, batch 1
        (4, 401, 402),    # in-batch pair, batch 2
        (9, 901, 902),    # cross-batch forward: click b1, purchase b2
        (6, 602, 601),    # cross-batch BACKWARD: late click after its
                          # purchase — impossible for per-batch joins
    }
    assert dropped_late_count(s3) == 1   # the h=8 purchase
    # eviction really happened: no u1/u2 buffer rows linger
    bufs = {(r["kind"], r["user_id"]) for r in
            s3.filter("kind in ('c','p')").collect()}
    assert (("c", 1) not in bufs) and (("p", 2) not in bufs)


def test_interval_join_fold_replay_and_restart(spark, tmp_path):
    from data_warehouse_project_spark.streaming import interval_join as IJ

    init, merge = IJ.interval_join_state, IJ.merge_interval_join_state
    state = str(tmp_path / "ij_state")
    # watermark h=5 -> horizon h=-1: the h=1 click stays buffered and
    # the h=1.4 purchase is admissible in the next fold
    b1 = _ij_events(spark, [(1, 11, 1.0, "click", 0),
                            (9, 91, 5.0, "click", 0)])
    b2 = _ij_events(spark, [(1, 12, 1.4, "purchase", 5)])
    assert fold_batch(b1, 0, state, init, merge) is True
    assert fold_batch(b2, 1, state, init, merge) is True
    assert fold_batch(b2, 1, state, init, merge) is False  # replay
    assert fold_batch(b1, 0, state, init, merge) is False
    got = [r for r in spark.read.parquet(state).collect()
           if r["kind"] == "m"]
    assert len(got) == 1 and got[0]["click_id"] == 11 \
        and got[0]["purchase_id"] == 12

    # streaming restart on the same checkpoint
    landing = str(tmp_path / "landing")
    st2 = str(tmp_path / "st2")
    ck = str(tmp_path / "ck")
    sch = ("user_id long, event_id long, ts timestamp, "
           "event_type string, value double")

    def feed(df):
        df.coalesce(1).write.mode("append").parquet(landing)

    feed(b1)
    stream = spark.readStream.schema(sch).parquet(landing)
    run_maintainer(stream, st2, ck, init, merge)
    feed(b2)
    stream = spark.readStream.schema(sch).parquet(landing)
    run_maintainer(stream, st2, ck, init, merge)
    got2 = [r for r in spark.read.parquet(st2).collect()
            if r["kind"] == "m"]
    assert len(got2) == 1 and got2[0]["click_id"] == 11


# ---------------------------------------------------------------------------
# state_fold.ts_split / replay: the arrival-replay harness of the
# registered *_incremental queries
# ---------------------------------------------------------------------------


def test_ts_split_partitions_and_holds_back_slice(spark):
    """The midpoint split covers every event exactly once (ts == mid
    goes to batch 1), the held-back slice (mid - 6h, mid - 3h] moves
    to batch 2 with both edges exact, and an empty feed yields two
    empty batches without raising."""
    import datetime as dt

    from data_warehouse_project_spark.streaming.state_fold import (
        LATENESS_S, ts_split)

    t0 = dt.datetime(2024, 1, 1)
    hours = [0, 1, 4, 5, 7, 8, 9, 10, 12, 20]       # mid = 10 h
    ev = spark.createDataFrame(
        [(i, t0 + dt.timedelta(hours=h)) for i, h in enumerate(hours)],
        "event_id long, ts timestamp")

    def ids(df):
        return sorted(r["event_id"] for r in df.collect())

    assert [ids(b) for b in ts_split(ev)] == [
        [0, 1, 2, 3, 4, 5, 6, 7], [8, 9]]
    # slice (4 h, 7 h]: hour 4 stays in batch 1, hours 5 and 7 move
    assert [ids(b) for b in ts_split(ev, LATENESS_S)] == [
        [0, 1, 2, 5, 6, 7], [3, 4, 8, 9]]
    empty = ev.filter(F.lit(False))
    assert [b.count() for b in ts_split(empty, LATENESS_S)] == [0, 0]


@pytest.mark.parametrize("checkpoint", [None, "eager", "lazy"])
def test_replay_equals_one_shot_build(spark, checkpoint):
    """Folding three batches through a maintainer's (init, merge) pair
    equals init on their union under every checkpoint choice, and the
    choice is applied: only a checkpointed replay reads its prior state
    back from an RDD of state rows."""
    from data_warehouse_project_spark.streaming.dedup_ingest import (
        dedup_state, merge_dedup_state)
    from data_warehouse_project_spark.streaming.state_fold import replay

    texts = ["a b", "c", "A  b", "d", "c", "e", "a b"]
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    state = replay(batches, dedup_state, merge_dedup_state, checkpoint)
    assert sorted(state.collect()) == sorted(dedup_state(docs).collect())
    plan = state._jdf.queryExecution().analyzed().toString()
    assert ("LogicalRDD [fingerprint" in plan) == (checkpoint is not None)
    with pytest.raises(ValueError):
        replay(batches, dedup_state, merge_dedup_state, "always")


def test_interval_join_exact_and_subsumes_per_batch(spark, sf_dir):
    """On driver data: the served table equals the batch twin exactly
    on the registered disordered split, per-batch independent joins
    can only ever see a subset, and at sf0.1 (where the feed is dense
    enough to place pairs across the boundary) the subset is STRICT —
    asserting the registry docstring's cross-batch-pairs claim."""
    from data_warehouse_project_spark.streaming import (
        batch_parity, interval_join as IJ)

    served = IJ.events_click_purchase_incremental(spark, sf_dir)
    twin = batch_parity.events_click_purchase_join(spark, sf_dir)
    key = ["user_id", "click_id", "purchase_id"]
    s = {tuple(r) for r in served.select(*key).collect()}
    t = {tuple(r) for r in twin.select(*key).collect()}
    assert s == t and len(s) > 0

    # the query's own split; show per-batch joins lose pairs
    from data_warehouse_project_spark.sources.catalog import Catalog
    from data_warehouse_project_spark.streaming.state_fold import ts_split
    halves = ts_split(Catalog(spark, sf_dir).events, IJ.LATENESS_S)
    per_batch = set()
    for h in halves:
        st = IJ.interval_join_state(h)
        per_batch |= {tuple(r) for r in
                      IJ.state_to_matches(st).select(*key).collect()}
    # per-batch joins can only ever see a subset; whether the driver
    # feed happens to place a pair across the boundary depends on sf
    # (none at sf0.001's sparsity — there the planted hand-computed
    # test carries the strictly-missing-pairs evidence; at sf0.1 the
    # split measurably loses cross-batch pairs, asserted below)
    assert per_batch <= s
    if sf_dir.rstrip("/").endswith("sf0.1"):
        assert len(s - per_batch) >= 1


def test_enriched_view_fold_replay_restart_and_single_pass(spark, sf_dir,
                                                           tmp_path):
    """The folded enriched view must equal the one-shot star join
    row-for-row, a replayed batch must not double-append, and the
    streaming maintainer must survive a restart on the same
    checkpoint."""
    from data_warehouse_project_spark.plans import incremental as INC
    from data_warehouse_project_spark.sources.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    orders = cat.orders.limit(200).cache()
    b1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    b2 = orders.filter(F.col("o_orderkey") % 2 == 1)

    init, merge = INC.make_enriched_view_fns(cat.customer, cat.nation)
    state = str(tmp_path / "ev_state")
    assert fold_batch(b1, 0, state, init, merge) is True
    assert fold_batch(b2, 1, state, init, merge) is True
    assert fold_batch(b2, 1, state, init, merge) is False   # replay
    folded = spark.read.parquet(state).drop(BATCH_COL)
    single = init(orders)
    assert folded.count() == orders.count()
    assert folded.exceptAll(single).count() == 0
    assert single.exceptAll(folded).count() == 0

    # streaming restart on the same checkpoint
    landing = str(tmp_path / "landing")
    st2 = str(tmp_path / "st2")
    ck = str(tmp_path / "ck")
    b1.coalesce(1).write.mode("append").parquet(landing)
    sch = spark.read.parquet(landing).schema

    def run():
        stream = spark.readStream.schema(sch).parquet(landing)
        run_maintainer(stream, st2, ck, init, merge)

    run()
    b2.coalesce(1).write.mode("append").parquet(landing)
    run()
    got = spark.read.parquet(st2).drop(BATCH_COL)
    assert got.count() == orders.count()
    assert got.exceptAll(single).count() == 0
    orders.unpersist()


def test_mg_maintainer_replay_safe_and_bound_through_fold(spark, tmp_path):
    """Replayed batch ids are skipped; the folded MG state keeps the
    mergeable-summaries guarantees vs exact Python counts and carries
    the exact total mass in its meta row."""
    from collections import Counter

    from data_warehouse_project_spark.llm import sketches

    init, merge = sketches.mg_state, sketches.merge_mg_state
    state = str(tmp_path / "mg_state")
    schema = "doc_id long, text string"
    text_a = "alpha " * 30 + "beta " * 9 + "gamma delta epsilon zeta"
    text_b = "alpha " * 12 + "eta " * 8 + "beta theta iota kappa"
    a = spark.createDataFrame([(1, text_a)], schema)
    b = spark.createDataFrame([(2, text_b)], schema)

    assert fold_batch(a, 0, state, init, merge) is True
    assert fold_batch(b, 1, state, init, merge) is True
    assert fold_batch(b, 1, state, init, merge) is False

    rows = spark.read.parquet(state).drop(BATCH_COL).collect()
    exact = Counter((text_a + " " + text_b).split())
    n_total = sum(exact.values())
    meta = [r for r in rows if r["token"] is None]
    real = {r["token"]: r["weight"] for r in rows
            if r["token"] is not None}
    assert len(meta) == 1 and meta[0]["n_total"] == n_total
    assert len(real) <= sketches.MG_K
    s = sum(real.values())
    for t, w in real.items():
        assert 1 <= w <= exact[t]
        assert (exact[t] - w) * (sketches.MG_K + 1) <= n_total - s
    # alpha is overwhelmingly frequent -> must be present with the
    # dominant weight
    assert max(real, key=real.get) == "alpha"


def test_mg_streaming_maintainer_restart(spark, tmp_path):
    from data_warehouse_project_spark.llm import sketches

    init, merge = sketches.mg_state, sketches.merge_mg_state
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, text string"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(landing)

    def run():
        stream = spark.readStream.schema(schema).parquet(landing)
        run_maintainer(stream, state, ck, init, merge)

    feed([(1, "alpha beta alpha alpha")])
    run()
    feed([(2, "beta gamma beta")])
    run()  # restart of the same checkpoint
    rows = spark.read.parquet(state).drop(BATCH_COL).collect()
    meta = [r for r in rows if r["token"] is None]
    assert meta[0]["n_total"] == 7
    real = {r["token"]: r["weight"] for r in rows
            if r["token"] is not None}
    # tiny vocab (< k+1): no reduce fires, weights are exact counts
    assert real == {"alpha": 3, "beta": 3, "gamma": 1}


def test_late_fold_driver_action_budget(spark, tmp_path, monkeypatch):
    """Plan-pin (VERDICT r7 #7): one MERGE fold of each late-tolerant
    maintainer (transitions, sessions, interval join) performs at most
    3 driver actions — the batch-id sentinel read, watermark_prologue's
    one merged collect, and the atomic state write — and the first
    fold at most 2 (first_watermark's collect and the write). Their
    local wall time is driver-action-count bound, so a refactor that
    silently adds per-batch round-trips is the one regression class
    the wall-time standings would mask; this budget catches it.
    Counts every action class: collect / count / toPandas /
    localCheckpoint / writer save."""
    import datetime as dt

    from pyspark.sql.readwriter import DataFrameWriter

    from data_warehouse_project_spark.streaming import (interval_join as J,
                                                        late_sessions as S,
                                                        late_transitions as T)

    actions = {"n": 0}

    def counting(orig):
        def wrapped(self, *a, **kw):
            actions["n"] += 1
            return orig(self, *a, **kw)
        return wrapped

    # patch the session's concrete frame class: it overrides the
    # actions of pyspark.sql.DataFrame, so a patch on that base class
    # never sees a collect
    frame = type(spark.range(1))
    for cls, name in [(frame, "collect"),
                      (frame, "count"),
                      (frame, "toPandas"),
                      (frame, "localCheckpoint"),
                      (DataFrameWriter, "parquet"),
                      (DataFrameWriter, "save"),
                      (DataFrameWriter, "csv"),
                      (DataFrameWriter, "json")]:
        monkeypatch.setattr(cls, name, counting(getattr(cls, name)))

    t_schema = "user_id long, event_id long, ts timestamp, event_type string"
    s_schema = ("user_id long, event_id long, ts timestamp,"
                " event_type string, value double")

    def t_batch(rows):
        return spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 1, h), et) for u, e, h, et in rows],
            t_schema)

    def s_batch(rows):
        return spark.createDataFrame(
            [(u, e, dt.datetime(2024, 1, 1, h), et, 1.0)
             for u, e, h, et in rows], s_schema)

    # event types at hours 0, 5 and 10 (the hour-5 event arrives late);
    # the interval join folds only clicks and purchases, so its batches
    # carry those types and its merge runs past the empty-watermark exit
    for mod, batch, init, merge, (t0, t5, t10) in [
            (T, t_batch, T.late_transitions_state,
             T.merge_late_transitions_state, "abc"),
            (S, s_batch, S.late_sessions_state,
             S.merge_late_sessions_state, "abc"),
            (J, s_batch, J.interval_join_state,
             J.merge_interval_join_state,
             ("click", "purchase", "click"))]:
        state = str(tmp_path / f"state_{mod.__name__.rsplit('.', 1)[-1]}")
        b0 = batch([(1, 10, 0, t0), (1, 11, 10, t10)])
        b1 = batch([(1, 20, 5, t5)])
        actions["n"] = 0
        assert fold_batch(b0, 0, state, init, merge) is True
        assert actions["n"] <= 2, (mod.__name__, "init", actions["n"])
        actions["n"] = 0
        assert fold_batch(b1, 1, state, init, merge) is True
        assert actions["n"] <= 3, (mod.__name__, "merge", actions["n"])


# ---------------------------------------------------------------------------
# Interval join over random ts-ordered splits vs brute-force pairing
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings, strategies as st

_ij_stream = st.lists(
    st.tuples(st.integers(1, 3),                      # user
              st.sampled_from(["click", "purchase"]),
              st.integers(0, 40),                     # half-hours
              st.integers(0, 5)),                     # value
    max_size=16)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=_ij_stream, split=st.integers(0, 40))
def test_interval_join_any_ordered_split_matches_bruteforce(
        spark, events, split):
    """Random click/purchase streams folded through ANY ts-ordered
    two-batch split (empty batches included): the buffered
    incremental interval join must serve exactly the brute-force
    all-pairs answer — every same-user purchase in
    [click_ts, click_ts + 1 h], window endpoints inclusive, pairs
    crossing the batch boundary in either direction."""
    import datetime as dt

    from data_warehouse_project_spark.streaming import interval_join as IJ

    rows = [(u, i, h / 2.0, t, v)
            for i, (u, t, h, v) in enumerate(events)]
    df = _ij_events(spark, rows)
    cut = dt.datetime(2025, 1, 10) + dt.timedelta(hours=split / 2.0)
    state = IJ.merge_interval_join_state(
        IJ.interval_join_state(df.filter(F.col("ts") <= F.lit(cut))),
        df.filter(F.col("ts") > F.lit(cut)))
    got = {(r["user_id"], r["click_id"], r["purchase_id"],
            r["click_ts"], r["purchase_ts"], r["purchase_value"])
           for r in IJ.state_to_matches(state).collect()}
    base = dt.datetime(2025, 1, 10)
    expected = set()
    for ci, (cu, ct, ch, _) in enumerate(events):
        if ct != "click":
            continue
        for pi, (pu, pt, ph, pv) in enumerate(events):
            if pt != "purchase" or pu != cu:
                continue
            if ch <= ph <= ch + 2:                    # 1 h = 2 half-hours
                expected.add((cu, ci, pi,
                              base + dt.timedelta(hours=ch / 2.0),
                              base + dt.timedelta(hours=ph / 2.0),
                              float(pv)))
    assert got == expected, (events, split)


def test_hourly_rollup_hll_fold_identity_survives_dense_mode(spark):
    """The incremental_hourly_rollup ORACLE (round 10) rests on the
    HLL fold identity — merged-state estimate == single-pass estimate
    per group. The existing bitmask sweeps exercise it at small
    cardinalities where the DataSketches HLL stays in exact sparse
    mode; this pins the identity where it is non-trivial: 30k
    distinct users in one (hour, type) group forces dense-register
    mode, where the union must still reproduce the single-pass
    register state exactly (register-maxima merge is lossless for
    same-lgK sketches)."""
    import datetime as dt

    from data_warehouse_project_spark.plans import incremental as I

    t0 = dt.datetime(2024, 1, 1, 12, 0)
    rows = [(u, t0, u, "view", 1.0, "{}") for u in range(30000)]
    rows += [(100000 + u, t0.replace(hour=13), u, "click", 2.0, "{}")
             for u in range(200)]
    ev = spark.createDataFrame(
        [(i,) + r[1:] for i, r in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
    merged = I.state_to_report(I.merge_hourly_state(
        I.hourly_rollup_state(ev.filter(F.col("event_id") % 2 == 0)),
        ev.filter(F.col("event_id") % 2 == 1)))
    single = I.state_to_report(I.hourly_rollup_state(ev))
    j = (merged.select("hour", "event_type",
                       F.col("n_users_approx").alias("m"))
         .join(single.select("hour", "event_type",
                             F.col("n_users_approx").alias("s")),
               ["hour", "event_type"], "full"))
    got = {r["event_type"]: (r["m"], r["s"]) for r in j.collect()}
    assert len(got) == 2
    for et, (m, s) in got.items():
        assert m == s, (et, m, s)
    # dense mode actually engaged: the view group is a true estimate
    # (non-trivially large), not a tiny exact count
    assert got["view"][0] > 25000


# ---------------------------------------------------------------------------
# dedup-on-ingest maintainer (round 12)
# ---------------------------------------------------------------------------

def _planted_docs(spark):
    """Six docs, three duplicate pairs, crossing batch boundaries in
    every way: intra-batch dup (1,2), cross-batch dup (3,5),
    normalization-only dup (4,6: case + whitespace differ)."""
    return spark.createDataFrame(
        [(1, "alpha beta", "en", "s", 10),
         (2, "alpha beta", "en", "s", 10),
         (3, "gamma delta", "en", "s", 11),
         (4, "Epsilon  zeta", "en", "s", 12),
         (5, "gamma delta", "en", "s", 11),
         (6, "epsilon zeta", "en", "s", 12)],
        "doc_id long, text string, lang string, source string, n_chars int")


def test_dedup_ingest_fold_is_single_pass_identity(spark):
    """Folding batches must equal the single-pass state EXACTLY
    (min/sum associativity — the sketch_fold_identity discipline)."""
    from data_warehouse_project_spark.streaming import dedup_ingest as D

    docs = _planted_docs(spark)
    b1 = docs.filter(F.col("doc_id") <= 2)
    b2 = docs.filter((F.col("doc_id") > 2) & (F.col("doc_id") <= 4))
    b3 = docs.filter(F.col("doc_id") > 4)
    folded = D.merge_dedup_state(
        D.merge_dedup_state(D.dedup_state(b1), b2), b3)
    single = D.dedup_state(docs)
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(folded) == key(single)
    got = {r["first_doc_id"]: r["n_seen"] for r in folded.collect()}
    assert got == {1: 2, 3: 2, 4: 2}


def test_dedup_ingest_report_counts_arrival_dups(spark, monkeypatch):
    """Per-batch arrival stats on the planted corpus: batch 1 has the
    intra-batch dup, batches 2/3 the cross-batch and normalized
    dups."""
    from data_warehouse_project_spark.sources import catalog as C
    from data_warehouse_project_spark.streaming import dedup_ingest as D

    docs = _planted_docs(spark)
    monkeypatch.setattr(C.Catalog, "documents",
                        property(lambda self: docs), raising=False)
    rows = [tuple(r) for r in
            D.docs_dedup_ingest_incremental(spark, "unused").collect()]
    assert rows == [(1, 2, 1, 1),   # doc2 dups doc1 inside the batch
                    (2, 2, 2, 0),   # docs 3,4 both new at arrival
                    (3, 2, 0, 2)]   # doc5 dups doc3, doc6 dups doc4


def test_dedup_ingest_maintainer_replay_is_idempotent(spark, tmp_path):
    """At-least-once replay: a re-delivered batch id must be a no-op
    (the state_fold sentinel), and the folded state must match the
    single-pass build afterward."""
    from data_warehouse_project_spark.streaming import dedup_ingest as D

    init, merge = D.dedup_state, D.merge_dedup_state
    docs = _planted_docs(spark)
    b0 = docs.filter(F.col("doc_id") <= 3)
    b1 = docs.filter(F.col("doc_id") > 3)
    state = str(tmp_path / "dedup_state")
    assert fold_batch(b0, 0, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is False
    assert fold_batch(b0, 0, state, init, merge) is False
    got = {r["fingerprint"]: (r["first_doc_id"], r["n_seen"])
           for r in spark.read.parquet(state).collect()}
    want = {r["fingerprint"]: (r["first_doc_id"], r["n_seen"])
            for r in D.dedup_state(docs).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# near-dup (MinHash-LSH) ingest maintainer (round 12)
# ---------------------------------------------------------------------------

def _neardup_docs(spark):
    """Planted near-dups across the three ntile batches (two docs per
    batch): (1,2) intra-batch near-identical; (3,6) cross-batch
    near-identical — detected when doc 6 arrives; 4 and 5 unrelated."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    return spark.createDataFrame(
        [(1, base + " one", "en", "s", 1),
         (2, base + " two", "en", "s", 1),
         (3, "pack my box with five dozen liquor jugs every single day",
          "en", "s", 1),
         (4, "completely unrelated words that share nothing at all here",
          "en", "s", 1),
         (5, "another entirely different document with its own phrasing",
          "en", "s", 1),
         (6, "pack my box with five dozen liquor jugs every single night",
          "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars int")


def test_neardup_ingest_matches_oneshot_on_real_corpus(spark, sf_dir):
    """The union of per-batch discoveries over a full replay equals
    the one-shot dedup_minhash_lsh pair set exactly (no bucket
    exceeds MAX_BUCKET on driver testdata)."""
    from data_warehouse_project_spark import registry

    qs = registry.queries()
    inc = {(r["doc_a"], r["doc_b"], r["jaccard"])
           for r in qs["docs_neardup_ingest_incremental"](
               spark, sf_dir).collect()}
    one = {(r["doc_a"], r["doc_b"], r["jaccard"])
           for r in qs["dedup_minhash_lsh"](spark, sf_dir).collect()}
    assert inc == one and len(one) > 0


def test_neardup_ingest_detection_batches(spark, monkeypatch):
    """Planted: the intra-batch pair is detected in batch 1; the
    cross-batch pair when its later member arrives (batch 3); the
    unrelated docs produce nothing."""
    from data_warehouse_project_spark.sources import catalog as C
    from data_warehouse_project_spark.streaming import neardup_ingest as N

    docs = _neardup_docs(spark)
    monkeypatch.setattr(C.Catalog, "documents",
                        property(lambda self: docs), raising=False)
    rows = [(r["detected_batch"], r["doc_a"], r["doc_b"])
            for r in N.docs_neardup_ingest_incremental(
                spark, "unused").collect()]
    assert rows == [(1, 1, 2), (3, 3, 6)]


def test_neardup_ingest_fold_is_oneshot_banding(spark, tmp_path):
    """Band state after a batched fold equals the one-shot banding of
    all history (append-only union), and replayed batch ids are
    no-ops."""
    from data_warehouse_project_spark.streaming import neardup_ingest as N

    init, merge = N.banded, N.merge_band_state
    docs = _neardup_docs(spark)
    b0 = docs.filter(F.col("doc_id") <= 3)
    b1 = docs.filter(F.col("doc_id") > 3)
    state = str(tmp_path / "nd_state")
    assert fold_batch(b0, 0, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is True
    assert fold_batch(b1, 1, state, init, merge) is False
    got = sorted(map(tuple, spark.read.parquet(state)
                     .select("doc_id", "band", "bucket").collect()))
    want = sorted(map(tuple, N.banded(docs).collect()))
    assert got == want and len(want) > 0
