"""Benchmark entry point.

    python3 perfbench/run.py --workload star_interactive --seed 1 \
        --seconds 20 --trace 0

Run from the root of a checkout. It generates its inputs under
``.bench_build/perfbench/``, starts one closed-loop client on a
``local[N]`` session (N = usable cores), sets up three times, runs one
warm-up pass whose outputs are checked against DuckDB, then runs
timed passes over the workload's ops in seeded order for ``--seconds``
seconds (at least five passes). The last stdout line is the JSON
result: ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics from passes tagged with Spark job groups,
alternating with untagged passes to measure the tracing overhead.
See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SETUPS = 3
MIN_PASSES = 5
PKG_LAYERS = ("plans", "operators", "llm", "streaming")

sys.path.insert(0, HERE)

import gen  # noqa: E402
from stats import (driver_gap, interval_union, median,  # noqa: E402
                   percentile_with_tail, slot_util, write_amp)


def _isolate(run_dir: str) -> None:
    """Point every scratch path of Python, the JVM and Spark into the
    run's own directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["DWPS_WAREHOUSE_DIR"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    os.environ.pop("DWPS_JDBC_URL", None)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


_TICK = os.sysconf("SC_CLK_TCK")


def _tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by this process, by process ``root`` and
    by every live descendant of it (the JVM and its Python workers).
    Time the hypervisor steals is not counted, so unlike wall time this
    does not grow when other guests load the host."""
    parent, used = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:        # the process ended while we listed /proc
            continue
        parent[int(d)] = int(f[1])
        # utime, stime, and cutime, cstime of children already reaped
        used[int(d)] = sum(int(x) for x in f[11:15]) / _TICK
    total, todo = 0.0, [root]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0.0)
        todo.extend(children.get(pid, []))
    t = os.times()
    return total + t.user + t.system


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK


def _source_stamp() -> dict:
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, check=False)
        commit = out.stdout.strip() or None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "data_warehouse_project_spark")
    for dirpath, dirs, names in os.walk(pkg):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(dirpath, n), "rb") as fh:
                    h.update(fh.read())
    return {"git_commit": commit, "engine_sha256": h.hexdigest()[:16]}


class OpRecord:
    __slots__ = ("name", "layer", "t0", "t1", "t2", "t3", "cpu", "pinned",
                 "prof", "catalyst", "written")

    def __init__(self, name, layer):
        self.name, self.layer = name, layer
        self.prof = self.catalyst = None
        self.written = {}

    @property
    def latency(self) -> float:
        return self.t3 - self.t0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool, run_dir: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced = traced
        self.run_dir = run_dir
        self.n_cpu = _nproc()
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        from tracing import Tracer
        self.tracer = Tracer()
        self.run_span = self.tracer.add("run", None, time.time(),
                                        workload=workload, seed=seed)

    # -- set-up -----------------------------------------------------------
    def setup(self) -> dict:
        from data_warehouse_project_spark.schemas import STAR_TABLES
        from data_warehouse_project_spark.session import get_spark
        from data_warehouse_project_spark.sources.catalog import Catalog
        sessions, scans = [], []
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.time()
            self.spark = get_spark("perfbench", cpus=self.n_cpu)
            t1 = time.time()
            self.spark.sparkContext.setLogLevel("ERROR")
            cat = Catalog(self.spark, self.data_dir)
            for t in STAR_TABLES:
                cat.table(t).write.format("noop").mode("overwrite").save()
            t2 = time.time()
            sessions.append(t1 - t0)
            scans.append(t2 - t1)
            sid = self.tracer.add(f"setup[{i}]", self.run_span, t0, t2)
            self.tracer.add("session.get_spark", sid, t0, t1)
            self.tracer.add("sources.catalog.first_scan", sid, t1, t2)
        return {"setup_s": median([a + b for a, b in zip(sessions, scans)]),
                "session.start_s": median(sessions),
                "sources.catalog.first_scan_s": median(scans)}

    # -- one op -----------------------------------------------------------
    def run_op(self, op, cycle: int, pass_span: int | None,
               traced: bool, timed_checks: list[float]) -> OpRecord | None:
        from data_warehouse_project_spark.cache import release_all
        sc = self.spark.sparkContext
        rec = OpRecord(op.name, op.layer)
        self.attempted += 1
        try:
            op.prepare(self.ctx, cycle)
            group = f"pass{cycle}:{op.name}"
            if traced:
                sc.setJobGroup(group, op.name)
            cpu0 = _tree_cpu_s(self.jvm_pid)
            rec.t0 = time.time()
            built = op.build(self.ctx)
            rec.t1 = time.time()
            op.execute(self.ctx, built)
            rec.t2 = time.time()
            rec.pinned = release_all()
            rec.t3 = time.time()
            rec.cpu = _tree_cpu_s(self.jvm_pid) - cpu0
            rec.written = op.written()
            if traced:
                df = op.plan_df(built)
                if df is not None:
                    rec.catalyst = self.probe.catalyst_phases(df)
                rec.prof = self.probe.group_profile(group)
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self._op_spans(rec, pass_span)
            if op.check_each or pass_span is None:
                c0 = time.time()
                op.check(self.ctx)
                timed_checks.append(time.time() - c0)
            return rec
        except Exception:
            self.failed += 1
            self.failures.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            print(f"# FAILED {op.name}\n{traceback.format_exc()}",
                  file=sys.stderr)
            return None

    def _op_spans(self, rec: OpRecord, pass_span: int) -> None:
        t = self.tracer
        oid = t.add(rec.name, pass_span, rec.t0, rec.t3, layer=rec.layer)
        phases = [t.add("build", oid, rec.t0, rec.t1),
                  t.add("exec", oid, rec.t1, rec.t2),
                  t.add("cache.release_all", oid, rec.t2, rec.t3,
                        pinned=rec.pinned)]
        bounds = [rec.t0, rec.t1, rec.t2]
        for j in rec.prof["jobs"]:
            k = max((i for i, b in enumerate(bounds) if j["start"] >= b),
                    default=0)
            t.add(f"job {j['job_id']}", phases[k], j["start"], j["end"])

    # -- passes -----------------------------------------------------------
    def run_pass(self, pass_no: int, traced: bool, timed: bool) -> dict:
        from data_warehouse_project_spark.metrics import stage_shuffle_totals
        names = [op.name for op in self.ops]
        by_name = {op.name: op for op in self.ops}
        checks: list[float] = []
        p0 = time.time()
        span = self.tracer.add(f"pass[{pass_no}]", self.run_span, p0,
                               traced=traced) if timed else None
        recs = [self.run_op(by_name[n], pass_no, span, traced, checks)
                for n in gen.op_order(names, self.seed, pass_no)]
        p1 = time.time()
        if span is not None:
            self.tracer.close(span, p1)
        self.probe.drain()
        _, wr, _, self.stage_floor = stage_shuffle_totals(self.spark,
                                                          self.stage_floor)
        ops = [r for r in recs if r is not None]
        return {"pass_s": p1 - p0 - sum(checks), "traced": traced,
                "cpu_s": sum(r.cpu for r in ops), "shuffle_bytes": wr,
                "ops": ops}

    def run(self) -> dict:
        from data_warehouse_project_spark.metrics import stage_shuffle_totals
        import check
        import workloads
        from tracing import SparkProbe

        load_start = os.getloadavg()[0]
        self.t_start = time.time()
        self.data_dir, inputs = gen.ensure_base(os.path.join(BUILD, "data"))
        setup = self.setup()
        self.probe = SparkProbe(self.spark)
        self.jvm_pid = self.probe.jvm_pid()
        con = check.connect(self.data_dir, list(gen.ROWS))
        for d in ("tables", "batches"):
            os.makedirs(os.path.join(self.run_dir, d))
        self.ctx = workloads.Ctx(self.spark, self.data_dir, self.run_dir,
                                 self.seed, con)
        self.ops = workloads.make_ops(self.workload, self.seed)
        for op in self.ops:
            op.setup(self.ctx)
        self.ctx.batch_bytes = 0
        self.stage_floor = stage_shuffle_totals(self.spark, -1)[3]

        t_warm = time.time()
        # one untimed pass that also checks every op's output; the timed
        # passes report medians, so a still-warming first one drops out
        self.run_pass(0, traced=False, timed=False)
        passes = []
        steal0 = _steal_s()
        t_end = time.time() + self.seconds
        self.phase_s = {"setup": t_warm - self.t_start,
                        "warmup": t_end - self.seconds - t_warm}
        # start another pass while at least half of one still fits
        while (len(passes) < MIN_PASSES or time.time()
               + 0.5 * passes[-1]["pass_s"] < t_end):
            n = len(passes) + 1     # pass 0 was the warm-up
            passes.append(self.run_pass(n, traced=self.traced and n % 2 == 1,
                                        timed=True))
        rss = self.probe.jvm_peak_rss_mb()
        self.phase_s["timed"] = time.time() - t_end + self.seconds
        self.steal_share = ((_steal_s() - steal0)
                            / (self.n_cpu * self.phase_s["timed"]))
        self.tracer.close(self.run_span, time.time())
        out = {"setup": setup, "passes": passes, "rss_mb": rss,
               "steal_share": self.steal_share,
               "stamp": self.stamp(load_start, inputs)}
        if self.workload == "ingest_write":
            orders = next(op for op in self.ops if op.name.endswith("upsert"))
            out["space"] = orders.space()
        return out

    def stamp(self, load_start: float, inputs: dict) -> dict:
        import duckdb
        import pyspark
        return {
            "workload": self.workload, "seed": self.seed,
            "seconds": self.seconds, "trace": int(self.traced),
            **_source_stamp(),
            "nproc": _nproc(), "master": f"local[{self.n_cpu}]",
            "load1_start": load_start, "load1_end": os.getloadavg()[0],
            "spark": pyspark.__version__, "python": platform.python_version(),
            "duckdb": duckdb.__version__,
            "inputs": {**inputs,
                       "write_batches": {"bytes": self.ctx.batch_bytes}},
        }


# -- metrics ----------------------------------------------------------------

def pass_cpu_s(passes: list[dict]) -> float:
    """CPU seconds per pass over the first MIN_PASSES timed passes. JIT
    compilation keeps lowering the CPU of later passes, so every run
    reads the same passes, however many fit in its time."""
    first = passes[:MIN_PASSES]
    return sum(p["cpu_s"] for p in first) / len(first)


def end_to_end(res: dict) -> dict:
    passes = res["passes"]
    return {
        "setup_s": (res["setup"]["setup_s"], "s"),
        "pass_cpu_s": (pass_cpu_s(passes), "s"),
        "shuffle_bytes": (median([p["shuffle_bytes"] for p in passes]), "B"),
    }


def _pass_layers(p: dict, n_cpu: int) -> dict[str, float]:
    ops = p["ops"]
    m: dict[str, float] = {}

    def total(sel, fn):
        return sum(fn(r) for r in ops if sel(r))

    for pkg in PKG_LAYERS + ("engine",):
        mine = lambda r, pkg=pkg: r.layer == pkg  # noqa: E731
        if pkg == "engine":
            m["engine.sql_s"] = total(mine, lambda r: r.t1 - r.t0)
        else:
            m[f"{pkg}.build_s"] = total(mine, lambda r: r.t1 - r.t0)
        m[f"{pkg}.exec_s"] = total(mine, lambda r: r.t2 - r.t1)
        m[f"{pkg}.jobs"] = total(mine, lambda r: len(r.prof["jobs"]))
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = total(lambda r: r.catalyst is not None,
                                      lambda r, ph=ph: r.catalyst[ph])
    every = lambda r: True  # noqa: E731

    def jobs_iv(r):
        return [(j["start"], j["end"]) for j in r.prof["jobs"]]

    busy = total(every, lambda r: interval_union(jobs_iv(r)))
    m["spark.jobs"] = total(every, lambda r: len(r.prof["jobs"]))
    for k in ("stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s"):
        m[f"spark.{k}"] = total(every, lambda r, k=k: r.prof[k])
    m["spark.job_busy_s"] = busy
    m["spark.driver_gap_s"] = total(
        every, lambda r: driver_gap(r.latency, jobs_iv(r)))
    m["spark.slot_util"] = slot_util(m["spark.task_run_s"], n_cpu, busy)
    m["sources.catalog.input_bytes"] = total(every,
                                             lambda r: r.prof["input_bytes"])
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"exchange.{k}"] = total(every, lambda r, k=k: r.prof[k])
    m["cache.pinned_frames"] = total(every, lambda r: r.pinned)
    m["cache.release_s"] = total(every, lambda r: r.t3 - r.t2)
    writes = lambda r: r.layer == "writes"  # noqa: E731
    fold = lambda r: r.layer == "streaming.state_fold"  # noqa: E731
    m["writes.merge_s"] = total(lambda r: r.name.endswith("upsert"),
                                lambda r: r.t2 - r.t0)
    m["writes.commit_s"] = total(writes, lambda r: r.t2 - r.t0)
    m["writes.bytes_written"] = total(writes, lambda r: r.written["bytes"])
    m["writes.files_written"] = total(writes, lambda r: r.written["files"])
    m["streaming.state_fold.fold_s"] = total(fold, lambda r: r.t2 - r.t0)
    m["streaming.state_fold.bytes_written"] = total(
        fold, lambda r: r.written["bytes"])
    user = total(lambda r: r.written, lambda r: r.written["batch_bytes"])
    m["writes.write_amp"] = (write_amp(m["writes.bytes_written"]
                                       + m["streaming.state_fold.bytes_written"],
                                       user) if user else 0.0)
    op_span = [(r.t0, r.t3) for r in ops]
    m["trace.pass_self_s"] = p["pass_s"] - interval_union(op_span)
    return m


LAYER_UNITS = {"_s": "s", "_bytes": "B", "bytes_written": "B", "_mb": "MB",
               "jobs": "count", "stages": "count", "tasks": "count",
               "frames": "count", "files_written": "count"}


def _unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio"


def per_layer(res: dict, n_cpu: int) -> dict:
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    rows = [_pass_layers(p, n_cpu) for p in traced]
    m = {k: median([r[k] for r in rows]) for k in rows[0]}
    commits = [r.t2 - r.t0 for p in traced for r in p["ops"]
               if r.layer in ("writes", "streaming.state_fold")]
    m["writes.commit_p50_s"] = median(commits) if commits else 0.0
    if "space" in res:
        stored, live = res["space"]
        m["writes.space_amp"] = stored / live
    else:
        m["writes.space_amp"] = 0.0
    m["session.start_s"] = res["setup"]["session.start_s"]
    m["sources.catalog.first_scan_s"] = res["setup"]["sources.catalog.first_scan_s"]
    m["session.jvm_peak_rss_mb"] = res["rss_mb"]
    m["trace.overhead_s"] = (
        median([p["pass_s"] for p in traced])
        - median([p["pass_s"] for p in plain])) if plain else 0.0
    # wall-clock figures of the client; they include time the hypervisor
    # gave to other guests, whose share of the CPUs host.steal_share is
    m["client.pass_wall_s"] = median([p["pass_s"] for p in plain or traced])
    m["client.op_wall_p50_s"] = median(
        [r.latency for p in res["passes"] for r in p["ops"]])
    m["client.op_cpu_p50_s"] = median(
        [r.cpu for p in res["passes"] for r in p["ops"]])
    m["host.steal_share"] = res["steal_share"]
    return {k: (v, _unit(k)) for k, v in sorted(m.items())}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import workloads
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {workloads.WORKLOADS}")
    sys.path.insert(0, ROOT)
    import data_warehouse_project_spark  # noqa: F401  (the program under test)
    os.makedirs(BUILD, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    _isolate(run_dir)

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  run_dir)
    try:
        res = bench.run()
    finally:
        _stop(bench)
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = (per_layer(res, bench.n_cpu) if args.trace
               else end_to_end(res))
    lat = [r.latency for p in res["passes"] for r in p["ops"]]
    p90 = percentile_with_tail(lat, 0.9)
    stamp = res["stamp"]
    stamp["op_samples"] = len(lat)
    stamp["op_p90_s"] = None if p90 is None else {"value": p90[0],
                                                  "beyond": p90[1]}
    stamp["passes"] = len(res["passes"])
    stamp["phase_s"] = bench.phase_s
    stamp["steal_share"] = res["steal_share"]
    stamp["pass_wall_s"] = [p["pass_s"] for p in res["passes"]]
    stamp["pass_cpu_s"] = [p["cpu_s"] for p in res["passes"]]
    if args.trace:
        # per-op job count and shuffle bytes of every traced pass: they
        # repeat exactly between runs unless AQE re-plans the op
        prof: dict[str, dict[str, list]] = {}
        for p in res["passes"]:
            for r in p["ops"]:
                if r.prof is not None:
                    d = prof.setdefault(r.name, {"jobs": [],
                                                 "shuffle_write_bytes": []})
                    d["jobs"].append(len(r.prof["jobs"]))
                    d["shuffle_write_bytes"].append(
                        r.prof["shuffle_write_bytes"])
        stamp["op_profile"] = prof
    by_op: dict[str, list[float]] = {}
    for p in res["passes"]:
        for r in p["ops"]:
            by_op.setdefault(r.name, []).append(r.latency)
    stamp["op_median_s"] = {k: median(v) for k, v in sorted(by_op.items())}
    stamp["failures"] = bench.failures
    result = {"correct": bench.failed == 0, "attempted": bench.attempted,
              "failed": bench.failed,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_dir = os.path.join(BUILD, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump({"stamp": stamp, **result}, fh, indent=1)
    if args.trace:
        bench.tracer.write(os.path.join(out_dir, f"{tag}-spans.json"))
    print("# stamp " + json.dumps(stamp, separators=(",", ":")))
    print(json.dumps(result, separators=(",", ":")))
    return 0


def _stop(bench: Bench) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    if bench.spark is None:
        return
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    bench.spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
