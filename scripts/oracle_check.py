#!/usr/bin/env python
"""Oracle-check registry queries against their DuckDB twins.

Usage: python scripts/oracle_check.py SF_DIR [QUERY...]

With no QUERY, checks every oracle-backed query (the scale-evidence
sweep). Named queries are the fast loop after touching an operator;
a named rows-only query (no oracle) is executed and row-counted.
Exit code 1 on any failure.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1]
    from pyspark.sql import SparkSession

    from data_warehouse_project_spark import registry
    from data_warehouse_project_spark.cache import release_all
    from tests.oracle_utils import compare, duckdb_con

    names = sys.argv[2:] or sorted(
        n for n, (_, sql) in registry.REGISTRY.items() if sql is not None)
    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count()}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb_con(sf_dir)
    bad = []
    for name in names:
        fn, sql = registry.REGISTRY[name]
        t0 = time.time()
        try:
            if sql is None:
                n = fn(spark, sf_dir).count()
                print(f"  ran  {name} rows={n} ({time.time()-t0:.2f}s)",
                      flush=True)
            else:
                compare(fn(spark, sf_dir), con, sql, name)
                print(f"  ok   {name} ({time.time()-t0:.2f}s)", flush=True)
        except Exception as e:  # noqa: BLE001 — report and continue
            bad.append(name)
            print(f"  FAIL {name}: {e}", flush=True)
        release_all()
    print(f"CHECK {len(names) - len(bad)} ok, {len(bad)} failed @ {sf_dir}"
          + (f" failures: {bad}" if bad else ""))
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
