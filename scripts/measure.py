#!/usr/bin/env python
"""Wall-time measurements of registry queries, one subcommand per job.

Every timing is the min of N runs into the noop sink, with
release_all() between runs. Each subcommand prints one JSON line.

  python scripts/measure.py scaling [--out FILE] [--root DIR]
      A cross-family sample of headline queries at sf0.001 / sf0.01 /
      sf0.1 (100x data spread), min of 3, plus the 0.01 -> 0.1 ratio —
      the evidence behind the "linear in corpus, bounded tails" scale
      claims (a corpus-linear plan grows <~10x per 10x data once fixed
      job overhead is netted out; sub-linear growth means fixed
      overhead still dominates). --out (over)writes a markdown table.

  python scripts/measure.py cores
      Parallelism at a data-dominated scale: the top shuffle carriers
      on the derived sf1.0 corpus (built by sf1_regression.py), min
      of 2, at local[8] and local[32] in SEPARATE processes (a
      SparkSession's master is fixed per JVM), and the c8/c32 wall
      ratio. A plan that genuinely parallelizes reads ratio >> 1 once
      data dominates. `cores --child QUERY...` is the per-process
      worker: cores from $SPARK_GRAFT_CPUS, data from
      $SPARK_GRAFT_SF_DIR.

  python scripts/measure.py quiet QUERY...
      Targeted quiet-host re-measure (BASELINE.md adjudication
      policy): the flagged queries, min of 3, interleaved with
      code-unchanged controls, so a reading can be control-normalized
      — if the controls read 1.2-1.6x their standing minima, the host
      is warm and a flagged query inside the same band is drift, not
      regression. Each query also reports its Janino compiles over
      the three runs. Data from $SPARK_GRAFT_SF_DIR (default sf0.1).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from data_warehouse_project_spark import registry  # noqa: E402
from data_warehouse_project_spark.cache import release_all  # noqa: E402
from data_warehouse_project_spark.metrics import codegen_compiles  # noqa: E402
from data_warehouse_project_spark.session import get_spark  # noqa: E402
from sf1_regression import DST as SF1_DIR  # noqa: E402

#: scaling: one representative per workload family, mid-weight and
#: heavier shapes preferred (sub-100ms queries are pure scheduling
#: overhead at every sf and measure nothing)
PROBE = [
    "flagship_my_registrations",    # windows + joins + sort
    "q1_pricing_summary",           # scan-bound aggregate
    "q9_product_profit",            # star join
    "dedup_ngram_jaccard",          # capped blocking dedup
    "dedup_minhash_lsh",            # banded LSH
    "doc_lm_cross_entropy",         # heaviest text op
    "dup_ngram_spans",              # exact-substring spans
    "knn_brute_cosine",             # vector scoring
    "events_sessionize",            # gaps-and-islands window
    "part_copurchase_pagerank",     # iterative graph
    "part_affinity_topk",           # capped wedge join
    "chunk_dedup_report",           # chunk hash window
    "user_rfm_segments",            # histogram quartiles
    "cdc_changelog",                # full-outer snapshot diff
    "dedup_bridge_survivors",       # multi-signal CC bridge (r7)
    "events_ttl_window_state",      # TTL'd bounded-state fold (r7)
    "cms_accuracy_floor",           # count-min sketch build+probe (r7)
    "events_value_drift_daily",     # rolling histogram drift (late r7)
    "nation_revenue_trend_ols",     # sufficient-stats OLS + join (late r7)
    "orders_price_median_twopass",  # histogram-refinement median (late r7)
    "events_ab_cuped_report",       # per-user funnel + CUPED solve (late r7)
    "orders_revenue_cusum",         # daily groupBy + calendar CUSUM (late r7)
    "revenue_forecast_backtest",    # expanding-window OLS eval (late r7)
    "customer_churn_survival",      # per-customer KM fold (late r7)
    "orders_cusum_served",          # two-batch state fold + serve (late r7)
]

SFS = ["sf0.001", "sf0.01", "sf0.1"]

#: cores: the top-3 shuffle carriers (BENCH_LOCAL per-query exchange
#: volume) plus the inverse-scaling poster child from the r12 scaling
#: block
QUERIES = [
    "part_triangle_participation",
    "part_affinity_topk",
    "part_copurchase_pagerank",
    "part_label_propagation",
]

#: quiet: standing quiet minima (BASELINE.md round-12 re-baseline) for
#: control normalization — update alongside BASELINE.md
STANDING = {
    "q1_pricing_summary": 0.598,
    "flagship_my_registrations": 1.983,
    "dedup_exact": 0.237,
    "dedup_minhash_lsh": 1.401,
    "part_copurchase_pagerank": 4.733,
    "orders_backlog_timeseries": 0.669,
    "token_bigram_pmi": 1.103,
}

CONTROLS = ["q1_pricing_summary", "flagship_my_registrations",
            "dedup_exact", "dedup_minhash_lsh",
            "part_copurchase_pagerank"]


def min_of(spark, fn, sf_dir: str, n: int) -> float:
    """Best of n noop-sink runs of a registry query, in seconds."""
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
        release_all()
    return round(best, 3)


def scaling(out: str | None, root: str) -> int:
    spark = get_spark("dwps-scaling")
    queries = registry.queries()
    times: dict[str, dict[str, float]] = {q: {} for q in PROBE}
    for sf in SFS:
        sf_dir = os.path.join(root, sf)
        for name in PROBE:
            times[name][sf] = min_of(spark, queries[name], sf_dir, 3)
            print(f"# {sf} {name}: {times[name][sf]:.3f}s", file=sys.stderr)

    lines = [
        "| query | sf0.001 | sf0.01 | sf0.1 | 0.01→0.1 ratio |",
        "|---|---|---|---|---|",
    ]
    ratios = {}
    for name in PROBE:
        t = times[name]
        r = round(t["sf0.1"] / t["sf0.01"], 2) if t["sf0.01"] else None
        ratios[name] = r
        lines.append(f"| {name} | {t['sf0.001']:.3f} | {t['sf0.01']:.3f} "
                     f"| {t['sf0.1']:.3f} | {r}× |")
    table = "\n".join(lines)
    if out:
        with open(out, "w") as fh:
            fh.write(table + "\n")
    print(table, file=sys.stderr)
    print(json.dumps({"metric": "scaling_probe", "times": times,
                      "ratio_001_to_01": ratios}))
    spark.stop()
    return 0


def cores_child(names: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF1_DIR)
    spark = get_spark("dwps-cores-ratio")
    qs = registry.queries()
    print(json.dumps({name: min_of(spark, qs[name], sf_dir, 2)
                      for name in names}))
    spark.stop()
    return 0


def cores() -> int:
    if not os.path.exists(os.path.join(SF1_DIR, "lineitem.parquet")):
        print("derived sf1.0 corpus missing — run sf1_regression.py first",
              file=sys.stderr)
        return 2
    results: dict[str, dict[str, float]] = {}
    for n_cores in ("8", "32"):
        env = dict(os.environ, SPARK_GRAFT_CPUS=n_cores,
                   SPARK_GRAFT_SF_DIR=SF1_DIR)
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "cores", "--child"]
            + QUERIES, env=env, capture_output=True, text=True, cwd=REPO)
        if p.returncode != 0:
            print(p.stderr[-2000:], file=sys.stderr)
            return 1
        results[n_cores] = json.loads(p.stdout.strip().splitlines()[-1])
    ratios = {q: round(results["8"][q] / results["32"][q], 2)
              for q in QUERIES}
    print(json.dumps({"sf_dir": SF1_DIR, "c8": results["8"],
                      "c32": results["32"],
                      "c8_over_c32_ratio": ratios}))
    return 0


def quiet(flagged: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load1 = round(os.getloadavg()[0], 2)
    spark = get_spark("quiet-remeasure")
    qs = registry.queries()
    # warm-up: touch inputs once
    from data_warehouse_project_spark.schemas import STAR_TABLES
    from data_warehouse_project_spark.sources.catalog import Catalog
    cat = Catalog(spark, sf_dir)
    for t in STAR_TABLES:
        cat.table(t).write.format("noop").mode("overwrite").save()

    # interleave: control, flagged, control, flagged, ...
    order: list[str] = []
    pool = list(CONTROLS)
    for q in flagged:
        if pool:
            order.append(pool.pop(0))
        order.append(q)
    order.extend(pool)

    out = {}
    for name in order:
        compiles0, _ = codegen_compiles(spark)
        sec = min_of(spark, qs[name], sf_dir, 3)
        std = STANDING.get(name)
        out[name] = {"sec": sec, "standing": std,
                     "ratio": round(sec / std, 2) if std else None,
                     "role": "flagged" if name in flagged else "control",
                     "compiles": codegen_compiles(spark)[0] - compiles0}
        print(f"# {name}: {sec:.3f}s "
              f"({out[name]['ratio']}x standing, {out[name]['role']})",
              file=sys.stderr)
    print(json.dumps({"load1_start": load1, "sf_dir": sf_dir,
                      "results": out}))
    spark.stop()
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(prog="measure.py")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sc = sub.add_parser("scaling", help="wall time across sf0.001..sf0.1")
    sc.add_argument("--out", default=None,
                    help="markdown file to (over)write with the table")
    sc.add_argument("--root", default="/root/testdata")
    co = sub.add_parser("cores", help="local[8] vs local[32] at sf1.0")
    co.add_argument("--child", nargs="+", metavar="QUERY",
                    help=argparse.SUPPRESS)
    qu = sub.add_parser("quiet", help="control-normalized re-measure")
    qu.add_argument("flagged", nargs="*", metavar="QUERY")
    args = ap.parse_args()

    if args.cmd == "scaling":
        return scaling(args.out, args.root)
    if args.cmd == "cores":
        return cores_child(args.child) if args.child else cores()
    return quiet(args.flagged)


if __name__ == "__main__":
    sys.exit(main())
