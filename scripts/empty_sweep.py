"""Run EVERY registry query against a ZERO-ROW copy of the catalog and
compare engines — the round-9 empty-input discipline's full sweep.

Why this exists: at warehouse scale an empty input is REACHABLE (a
date-range filter matching nothing, an all-late micro-batch, a source
partition that produced no files), and the round-8/9 history shows the
degenerate-input bugs cluster exactly there (ANSI divide-by-zero,
``None - None`` watermark arithmetic, MLlib fits on empty frames,
schema inference over footerless writes). The sweep asserts:

- NO query crashes on a zero-row corpus;
- every oracle-checkable query matches its DuckDB twin (None/NaN
  unified — both render SQL NULL), EXCEPT the documented-divergence
  list ``tests.oracle_utils.EMPTY_INPUT_DIVERGENT`` (pinned-constant
  accuracy floors, and Spark-vs-DuckDB GROUPING SETS semantics on
  empty input), which must merely run crash-free.

Usage: python scripts/empty_sweep.py [template_sf_dir]
Exit code 1 on any crash or non-allowlisted mismatch.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    template = (sys.argv[1] if len(sys.argv) > 1
                else "/root/testdata/sf0.001")
    from pyspark.sql import SparkSession

    from data_warehouse_project_spark import registry
    from data_warehouse_project_spark.cache import release_all
    from data_warehouse_project_spark.session import STATIC_CONFS
    from tests.oracle_utils import (EMPTY_INPUT_DIVERGENT, compare_empty,
                                    duckdb_con, make_empty_sf_dir)

    sf_dir = os.path.join(tempfile.gettempdir(), "dwps-sf-empty")
    make_empty_sf_dir(sf_dir, template)

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count()}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config(map=STATIC_CONFS)
        .getOrCreate()
    )
    con = duckdb_con(sf_dir)
    ok, allowed, fails = 0, 0, []
    for name in sorted(registry.queries()):
        fn, sql = registry.REGISTRY[name]
        try:
            df = fn(spark, sf_dir)
            if name in EMPTY_INPUT_DIVERGENT or sql is None:
                df.count()                    # crash-free is the bar
                allowed += 1
                status = "ok (divergence documented)" \
                    if name in EMPTY_INPUT_DIVERGENT else "ok (rows-only)"
            else:
                compare_empty(df, con, sql, name)
                ok += 1
                status = "ok"
            print(f"  {status:28s} {name}", file=sys.stderr)
        except Exception as e:                # noqa: BLE001
            fails.append((name, repr(e)[:200]))
            print(f"  FAIL {name}: {repr(e)[:200]}", file=sys.stderr)
        release_all()
    print(f"EMPTY SWEEP {ok} matched, {allowed} crash-free "
          f"(documented/rows-only), {len(fails)} failed")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
