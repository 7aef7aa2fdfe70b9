"""Executed-plan metrics sampling — shuffle/spill bytes per query.

Spark's AppStatusStore (the store behind the UI's stage table) keeps
per-stage shuffle-read/shuffle-write/spill byte totals. Sampling it
before and after a query, windowed by MONOTONE stage id rather than
by diffing cumulative totals, yields the query's own exchange volume
even when the store evicts old stages (``spark.ui.retainedStages``
caps retention; a long bench run crosses it).

Why bytes and not wall time: at local test sizes the page cache and
fixed per-job cost dominate wall time, so a scale-killer (an
accidental broadcast→shuffle flip, an unguarded pair fan-out) can
hide inside wall-clock noise. Shuffle bytes are deterministic given
the data and the plan — they move if and only if the plan's exchange
structure moves. `bench.py` records them per query into
BENCH_LOCAL.json, and `scripts/shuffle_audit.py` gates them against
recorded bounds (tests/shuffle_bounds.json).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def stage_shuffle_totals(
    spark: SparkSession, since_id: int
) -> tuple[int, int, int, int]:
    """(shuffle_read, shuffle_write, spilled, max_stage_id) summed
    over stages with stageId > since_id. Pass -1 to sum everything
    retained; pass the previous call's max_stage_id to window."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stages = store.stageList(
        gw.jvm.java.util.ArrayList(),       # statuses: all
        False, False,                       # details, withSummaries
        gw.new_array(gw.jvm.double, 0),     # no task quantiles
        gw.jvm.java.util.ArrayList())       # taskStatus: all
    read = write = spilled = 0
    max_id = since_id
    for i in range(stages.size()):
        s = stages.apply(i)
        sid = s.stageId()
        max_id = max(max_id, sid)
        if sid > since_id:
            read += s.shuffleReadBytes()
            write += s.shuffleWriteBytes()
            spilled += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return read, write, spilled, max_id


def stable_shuffle_totals(spark: SparkSession, since_id: int,
                          polls: int = 20, interval_s: float = 0.1
                          ) -> tuple[int, int, int, int]:
    """AppStatusStore is fed by the async listener bus, so a sample
    taken the instant an action returns can miss the final stages'
    metrics under event-queue lag (ADVICE r10). Two equal consecutive
    samples can still both be stale if the bus hasn't started
    draining within one interval (ADVICE r11 #3), so first anchor on
    the statusTracker reporting no active jobs — the job-end event
    precedes the final stage metrics on the same ordered bus — then
    poll until two consecutive windowed samples agree (bounded:
    ~2 s worst case each phase) and return the stable reading."""
    import time

    tracker = spark.sparkContext.statusTracker()
    for _ in range(polls):
        if not tracker.getActiveJobsIds():
            break
        time.sleep(interval_s)
    prev = stage_shuffle_totals(spark, since_id)
    for _ in range(polls):
        time.sleep(interval_s)
        cur = stage_shuffle_totals(spark, since_id)
        if cur == prev:
            return cur
        prev = cur
    return prev


def measure_query_shuffle(spark: SparkSession, fn, sf_dir: str,
                          reps: int = 1) -> dict[str, int]:
    """Execute ``fn(spark, sf_dir)`` via the noop sink ``reps`` times
    and return its per-run exchange volume. Deterministic plans
    shuffle the same bytes every rep (AQE varies partition counts,
    never total bytes), so the window / reps IS one run's volume."""
    from .cache import release_all

    _, _, _, floor = stage_shuffle_totals(spark, -1)
    for _ in range(reps):
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_all()
    rd, wr, sp, _ = stable_shuffle_totals(spark, floor)
    return {
        "shuffle_read_bytes": rd // reps,
        "shuffle_write_bytes": wr // reps,
        "spilled_bytes": sp // reps,
    }


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(compiles, compile_s): Janino compiles of generated classes in
    this JVM so far, and their summed time. Launches no job; diff two
    readings to window a run. A compile happens only on a miss in
    Spark's codegen class cache, so a warm pass that reuses its classes
    reads ~0 (see session.STATIC_CONFS). The count is the
    CodegenMetrics compilation-time histogram's; its reservoir only
    samples durations, so the seconds come from CodeGenerator's own
    accumulator, which the same compile site adds to."""
    jvm = spark.sparkContext._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator.compileTime()
    return int(hist.getCount()), nanos / 1e9
