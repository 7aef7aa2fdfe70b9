"""Tracing from outside the engine: spans kept in memory, Spark job
and stage figures read from the application status store, Catalyst
phase times read from a DataFrame's ``QueryPlanningTracker``.

Spans nest run -> setup/pass -> op -> build/exec/release -> job. Every
span carries its self time: its duration minus the part its children
cover. Spans are written out once, when the run ends.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from stats import self_time

CATALYST_PHASES = ("analysis", "optimization", "planning")


class SparkProbe:
    """Reads job, stage and planning figures for one Spark session."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._gw = self.sc._gateway

    def drain(self) -> None:
        """Wait until every posted listener event reached the status
        store, so figures read next include the last job's stages."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jvm_pid(self) -> int:
        return int(self._gw.jvm.java.lang.ProcessHandle.current().pid())

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid()}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def group_profile(self, group: str) -> dict:
        """Jobs and stage totals of every job tagged with ``group``."""
        self.drain()
        store = self._jsc.statusStore()
        empty = self._gw.jvm.java.util.ArrayList()
        no_q = self._gw.new_array(self._gw.jvm.double, 0)
        jobs, stage_ids = [], set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            j = store.job(jid)
            sub, done = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            jobs.append({"job_id": int(jid),
                         "start": sub.get().getTime() / 1000.0,
                         "end": done.get().getTime() / 1000.0})
            ids = j.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        prof = {"jobs": sorted(jobs, key=lambda x: x["job_id"]),
                "stages": 0, "tasks": 0, "failed_tasks": 0,
                "task_run_s": 0.0, "task_cpu_s": 0.0, "input_bytes": 0,
                "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                "spill_bytes": 0}
        for sid in stage_ids:
            attempts = store.stageData(sid, False, empty, False, no_q)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                prof["stages"] += 1
                prof["tasks"] += s.numTasks()
                prof["failed_tasks"] += s.numFailedTasks()
                prof["task_run_s"] += s.executorRunTime() / 1000.0
                prof["task_cpu_s"] += s.executorCpuTime() / 1e9
                prof["input_bytes"] += s.inputBytes()
                prof["shuffle_read_bytes"] += s.shuffleReadBytes()
                prof["shuffle_write_bytes"] += s.shuffleWriteBytes()
                prof["spill_bytes"] += (s.memoryBytesSpilled()
                                        + s.diskBytesSpilled())
        return prof

    @staticmethod
    def catalyst_phases(df) -> dict[str, float]:
        """Analysis, optimization and planning seconds of ``df``'s own
        query execution. The noop write plans a separate command, so
        this forces ``df``'s physical plan once to time the phases."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        return {p: (phases.apply(p).durationMs() / 1000.0
                    if phases.contains(p) else 0.0)
                for p in CATALYST_PHASES}


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; ``write`` adds self times and dumps
    every span as JSON."""

    def __init__(self):
        self.spans: list[Span] = []

    def add(self, name: str, parent: int | None, start: float,
            end: float = 0.0, **attrs) -> int:
        self.spans.append(Span(len(self.spans), parent, name, start, end,
                               attrs))
        return len(self.spans) - 1

    def close(self, span_id: int, end: float) -> None:
        self.spans[span_id].end = end

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        return {s.span_id: self_time((s.start, s.end),
                                     children.get(s.span_id, []))
                for s in self.spans}

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            json.dump([{"id": s.span_id, "parent": s.parent, "name": s.name,
                        "start": s.start, "end": s.end,
                        "dur_s": s.end - s.start, "self_s": selfs[s.span_id],
                        **s.attrs} for s in self.spans], fh, indent=0)
