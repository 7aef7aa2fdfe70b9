"""Executed-plan metrics sampling: the jobs, stages and shuffle/spill
bytes of one run, read from Spark's AppStatusStore.

A run is windowed by a job group: ``job_group`` tags every job
launched inside it (AQE stage jobs and broadcast jobs inherit the
tag), and ``group_profile`` reads exactly those jobs and their
stages. The store is fed by the asynchronous listener bus, so the
reader first drains the bus (``waitUntilEmpty``) instead of polling
for the figures to settle; after the drain every posted job and stage
event has reached the store.

Retention: the store keeps the last ``spark.ui.retainedJobs`` and
``spark.ui.retainedStages`` (1 000 each by default). Every reader here
takes its read right after the run it measures, and the largest run
read at once is bench.py's 3 reps of one headline query (at most
3 × 46 jobs, ``join_skew_report``), far below that bound, so no job
of a run is evicted before it is read.

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

import uuid
from contextlib import contextmanager

from pyspark.sql import SparkSession

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")

#: group_profile's byte totals, named as in BENCH_LOCAL.json
BYTE_KEYS = ("shuffle_read_bytes", "shuffle_write_bytes", "spilled_bytes")


def stage_shuffle_totals(
    spark: SparkSession, since_id: int
) -> tuple[int, int, int, int]:
    """(shuffle_read, shuffle_write, spilled, max_stage_id) summed
    over stages with stageId > since_id. Pass -1 to sum everything
    retained; pass the previous call's max_stage_id to window.
    Its only remaining reader is perfbench/run.py (the benchmark's
    ``shuffle_bytes``); engine code windows by job group instead."""
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


@contextmanager
def job_group(spark: SparkSession, name: str):
    """Tag every Spark job launched inside the block with a job group
    unique to this call (``name#<uuid>``; a reused id would merge two
    runs' jobs), described as ``name``. Yields the group id; on exit the
    previous group's local properties are restored, so calls nest."""
    sc = spark.sparkContext
    saved = [sc.getLocalProperty(p) for p in _GROUP_PROPS]
    group = f"{name}#{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        yield group
    finally:
        for prop, value in zip(_GROUP_PROPS, saved):
            sc.setLocalProperty(prop, value)


def group_profile(spark: SparkSession, group: str) -> dict:
    """The jobs of ``group`` and the shuffle/spill bytes of their
    stages. Drains the listener bus first, so the last job's stages
    are in. Each job is (job_id, start, end, stages, tasks,
    description), times in epoch seconds; the byte totals (BYTE_KEYS)
    sum every stage attempt that ran (a SKIPPED attempt reused an earlier
    stage's output and moved nothing)."""
    sc = spark.sparkContext
    jsc, gw = sc._jsc.sc(), sc._gateway
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    prof = {"jobs": [], **dict.fromkeys(BYTE_KEYS, 0)}
    stage_ids = set()
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        j = store.job(jid)
        if j.completionTime().isEmpty():
            continue
        desc, ids = j.description(), j.stageIds()
        prof["jobs"].append({
            "job_id": jid, "start": j.submissionTime().get().getTime() / 1e3,
            "end": j.completionTime().get().getTime() / 1e3,
            "stages": j.numCompletedStages(), "tasks": j.numCompletedTasks(),
            "description": (f"{desc.get()}: {j.name()}"
                            if desc.isDefined() else j.name())})
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    for sid in stage_ids:
        attempts = store.stageData(sid, False, gw.jvm.java.util.ArrayList(),
                                   False, gw.new_array(gw.jvm.double, 0))
        for s in (attempts.apply(i) for i in range(attempts.size())):
            if s.status().toString() != "SKIPPED":
                prof["shuffle_read_bytes"] += s.shuffleReadBytes()
                prof["shuffle_write_bytes"] += s.shuffleWriteBytes()
                prof["spilled_bytes"] += (s.memoryBytesSpilled()
                                          + s.diskBytesSpilled())
    return prof


def measure_query_shuffle(spark: SparkSession, fn,
                          sf_dir: str) -> dict[str, int]:
    """Execute ``fn(spark, sf_dir)`` once via the noop sink and return
    its exchange volume."""
    from .cache import release_all

    with job_group(spark, getattr(fn, "__name__", "query")) as group:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_all()
    prof = group_profile(spark, group)
    return {k: prof[k] for k in BYTE_KEYS}


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
