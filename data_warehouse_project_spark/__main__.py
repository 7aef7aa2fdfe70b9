"""CLI entry point — run any registered query from the shell.

    python -m data_warehouse_project_spark list
    python -m data_warehouse_project_spark run flagship_my_registrations \
        --sf-dir /root/testdata/sf0.01 --limit 20
    python -m data_warehouse_project_spark explain q5_local_supplier_volume
    python -m data_warehouse_project_spark profile flagship_my_registrations
"""

from __future__ import annotations

import argparse
import sys


def main() -> int:
    from .sources.catalog import DEFAULT_SF_DIR

    parser = argparse.ArgumentParser(prog="data_warehouse_project_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    for cmd, help_ in (
            ("run", "run a query and print rows"),
            ("explain", "print a query's physical plan"),
            ("profile", "run a query twice and print the warm run's "
                        "Spark jobs and driver gap"),
            ("healthcheck", "run the warehouse audit family (FK "
                            "integrity, order reconciliation); exit 1 on "
                            "orphans/NULL FKs")):
        cmd_p = sub.add_parser(cmd, help=help_)
        if cmd != "healthcheck":
            cmd_p.add_argument("query")
        cmd_p.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    sub.choices["run"].add_argument("--limit", type=int, default=20)

    args = parser.parse_args()

    from .registry import oracle_sql, queries
    if args.cmd == "list":
        oracles = oracle_sql()
        for name in sorted(queries()):
            kind = "oracle" if name in oracles else "rows-only"
            print(f"{name:35s} [{kind}]")
        return 0

    if args.cmd == "healthcheck":
        from .plans.audits import (order_consistency_audit,
                                   referential_integrity_report)
        from .session import get_spark
        spark = get_spark("dwps-healthcheck")
        bad = 0
        print("== referential integrity ==")
        for r in referential_integrity_report(spark, args.sf_dir).collect():
            flag = "" if (r["n_orphans"] == 0 and r["n_null_fk"] == 0) \
                else "  <-- VIOLATION"
            bad += r["n_orphans"] + r["n_null_fk"]
            print(f"{r['edge']:40s} child={r['n_child']:>10d} "
                  f"null_fk={r['n_null_fk']} orphans={r['n_orphans']}{flag}")
        print("== primary-key uniqueness ==")
        from .plans.audits import pk_uniqueness_report
        # Known dataset property (recorded finding, every sf): the
        # synthetic generator assigns lineitem linenumbers randomly,
        # so (l_orderkey, l_linenumber) is NOT unique in driver data
        # — reported, never failed on. All other tables gate.
        known_nonunique = {"lineitem"}
        for r in pk_uniqueness_report(spark, args.sf_dir).collect():
            if r["n_dup_keys"] == 0:
                flag = ""
            elif r["tbl"] in known_nonunique:
                flag = "  (known synthetic-data property)"
            else:
                flag = "  <-- VIOLATION"
                bad += r["n_dup_keys"]
            print(f"{r['tbl']:12s} rows={r['n_rows']:>10d} "
                  f"dup_keys={r['n_dup_keys']} "
                  f"excess={r['n_excess_rows']}{flag}")
        print("== order reconciliation ==")
        for r in order_consistency_audit(spark, args.sf_dir).collect():
            print(f"status={r['o_orderstatus']} orders={r['n_orders']} "
                  f"no_lines={r['n_no_lines']} "
                  f"mismatch_gt1pct={r['n_mismatch']} "
                  f"max_drift_cents={r['max_abs_diff_cents']}")
        print("== sketch/index quality gates ==")
        from .llm.dedup import minhash_accuracy_floor
        from .llm.similarity import ann_recall_floor
        from .llm.distributions import pca_projection_floor
        from .llm.sketches import (cms_accuracy_floor, kmv_accuracy_floor,
                                   sketch_fold_identity_floor)
        from .operators.bloom import bloom_filter_floor
        from .plans.warehouse import (approx_quantile_accuracy_floor,
                                      hll_distinct_accuracy_floor)
        for gate_name, gate_fn in [
            ("ann_recall_floor", ann_recall_floor),
            ("minhash_accuracy_floor", minhash_accuracy_floor),
            ("approx_quantile_accuracy_floor",
             approx_quantile_accuracy_floor),
            ("hll_distinct_accuracy_floor", hll_distinct_accuracy_floor),
            ("cms_accuracy_floor", cms_accuracy_floor),
            ("kmv_accuracy_floor", kmv_accuracy_floor),
            ("bloom_filter_floor", bloom_filter_floor),
            ("pca_projection_floor", pca_projection_floor),
            ("sketch_fold_identity_floor", sketch_fold_identity_floor),
        ]:
            row = gate_fn(spark, args.sf_dir).collect()[0].asDict()
            fails = [k for k, v in row.items() if v is False]
            bad += len(fails)
            state = "OK" if not fails else f"VIOLATION {fails}"
            print(f"{gate_name:35s} {state}")
        # per-key incremental HLL gate (one boolean per (type, day))
        from .streaming.distinct_users import (
            events_distinct_users_incremental)
        misses = [r for r in events_distinct_users_incremental(
            spark, args.sf_dir).collect() if not r["within_gate"]]
        bad += len(misses)
        print(f"{'events_distinct_users_incremental':35s} "
              + ("OK" if not misses else
                 f"VIOLATION {[(r['event_type'], str(r['day'])) for r in misses[:5]]}"))
        print("== dimension entity duplicates (informational) ==")
        from .plans.audits import entity_dedup_parts
        dup_rows = entity_dedup_parts(spark, args.sf_dir).collect()
        n_extra = sum(r["n_parts"] - 1 for r in dup_rows)
        print(f"duplicate part-name groups: {len(dup_rows)} "
              f"(redundant keys: {n_extra}); largest: "
              + ", ".join(f"{r['name_signature']}×{r['n_parts']}"
                          for r in dup_rows[:3]))
        spark.stop()
        print("HEALTHCHECK", "FAIL" if bad else "OK")
        return 1 if bad else 0

    fn = queries().get(args.query)
    if fn is None:
        print(f"unknown query {args.query!r}; try 'list'", file=sys.stderr)
        return 2

    from .session import get_spark
    spark = get_spark("dwps-cli")
    if args.cmd == "profile":
        _profile(spark, args.query, fn, args.sf_dir)
    else:
        df = fn(spark, args.sf_dir)
        if args.cmd == "run":
            df.show(args.limit, truncate=False)
        else:
            df.explain("formatted")
    spark.stop()
    return 0


def _profile(spark, name: str, fn, sf_dir: str) -> None:
    """Print the second (warm) of two noop-sink runs: one line per
    Spark job, the summed job time, and the driver gap (wall time
    minus summed job time: planning, driver-side work, job launch;
    concurrent broadcast jobs make it an underestimate)."""
    import time

    from .cache import release_all
    from .metrics import group_profile, job_group

    for _ in range(2):
        with job_group(spark, name) as group:
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            release_all()
    jobs = group_profile(spark, group)["jobs"]
    print(f"== {name}: wall {wall:.3f}s, {len(jobs)} jobs ==")
    for j in jobs:
        print(f"  job {j['job_id']:4d} {j['end'] - j['start']:7.3f}s "
              f"stages={j['stages']:2d} tasks={j['tasks']:4d}  "
              f"{j['description']}")
    busy = sum(j["end"] - j["start"] for j in jobs)
    print(f"  sum(job s) {busy:.3f}  driver gap {wall - busy:.3f}s")


if __name__ == "__main__":
    raise SystemExit(main())
