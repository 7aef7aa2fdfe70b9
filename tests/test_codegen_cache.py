"""Codegen class cache of the engine's session.

Spark compiles generated code only on a miss in its per-JVM class
cache, which `session.STATIC_CONFS` sizes to the engine's working set.
At Spark's default of 100 entries one star-dashboard pass already
overflows the cache, so every warm pass recompiles and re-JITs the
classes it compiled a pass earlier. The Janino compile count of a warm
pass depends on the plans, not on the host's speed, so unlike wall
time it can be gated: a second pass over the same queries compiles at
most the recorded residual.
"""

from __future__ import annotations

from data_warehouse_project_spark import registry
from data_warehouse_project_spark.cache import release_all
from data_warehouse_project_spark.metrics import codegen_compiles
from data_warehouse_project_spark.session import STATIC_CONFS
from tests.test_job_budget import budget_sf_dir  # noqa: F401

#: the six star ops plus two incremental maintainers. The job budget's
#: late-tolerant replays stay out: AQE re-plans the sessions replay
#: between calls, so its warm pass compiles 0 to 25 classes
QUERIES = ["bloom_semijoin_revenue", "bm25_top_docs",
           "flagship_my_registrations", "q6_forecast_revenue",
           "rollup_status_priority", "window_running_totals",
           "events_distinct_users_incremental",
           "docs_dedup_ingest_incremental"]

#: Compiles of a warm pass, measured at sf0.01 over 12 warm passes:
#: 0 to 8, in units of 4 from bm25_top_docs and
#: flagship_my_registrations (both pin a frame; now and then a warm
#: call compiles 4 classes no earlier call needed). With the cache at
#: Spark's default of 100 entries every warm pass compiles 196-198.
WARM_COMPILES_MAX = 16


def test_session_sizes_codegen_cache(spark):
    for key, value in STATIC_CONFS.items():
        assert spark.conf.get(key) == value


def test_warm_pass_reuses_generated_classes(spark, budget_sf_dir):
    queries = registry.queries()

    def one_pass():
        for name in QUERIES:
            queries[name](spark, budget_sf_dir) \
                .write.format("noop").mode("overwrite").save()
            release_all()

    one_pass()
    before, _ = codegen_compiles(spark)
    one_pass()
    compiles = codegen_compiles(spark)[0] - before
    assert compiles <= WARM_COMPILES_MAX, compiles
