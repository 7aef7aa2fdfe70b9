"""SparkSession factory and session-level tuning.

The engine does not own the session in driver-invoked paths (the
harness passes one in), so `tune(spark)` applies the runtime-settable
configuration we depend on to any session: once per session, and
without overriding a key the caller set. `get_spark` builds a local
session with the same settings plus the static ones for tests/bench.

Scale notes (100 TB orientation): everything here is configuration,
not code — AQE on (runtime re-plan, skew-join splitting, partition
coalescing), broadcast threshold sized for dim tables, shuffle
partitions sized to cores locally but expected to be overridden to
~2-3x total cluster cores in a real deployment.

Codegen cache. Spark compiles each whole-stage-codegen plan and each
generated projection/predicate to a Janino class and keeps the class
in an LRU cache keyed by the generated source. At Spark's default of
100 entries the cache is smaller than one pass of the engine's
working set: one pass over the six star-dashboard queries compiles 128
classes at sf0.01, so every class is evicted before it is reused, and
each warm pass recompiles (and re-JITs) code it compiled a pass
earlier. A registry sweep at sf0.01 (270 queries, build plus noop
sink, in one session) compiles 4 584 distinct classes cold, then 278
and 133 on two warm rounds: literal churn, from plans that inline a
per-call value. At the default cache the warm round
compiles 6 847 (45.7 s of compile time instead of 3.1 s). So
`STATIC_CONFS` sizes the cache to 8 192, the next power of two, which
that sweep never fills. The cost is Metaspace: the retained classes
take 34 MB more after a warm sweep round (238 MB vs 204 MB). The key
is a static conf: the cache is sized once per JVM, when the first
session's first plan is compiled, so `tune()` cannot set it. A
harness that builds its own session should pass
`--conf spark.sql.codegen.cache.maxEntries=8192` at submit time.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

#: Static confs: fixed when the session's JVM starts, so they go on the
#: builder (`get_spark` and the scripts that build their own session);
#: `spark.conf.set` raises on them.
STATIC_CONFS: dict[str, str] = {
    # Codegen class cache (see the module docstring): 8 192 covers the
    # 4 584 classes a cold sf0.01 registry sweep compiles, plus churn.
    "spark.sql.codegen.cache.maxEntries": "8192",
}

#: Runtime-settable confs the engine relies on. Applied via ``tune``.
RUNTIME_CONFS: dict[str, str] = {
    # The driver testdata's events.ts is parquet TIMESTAMP(NANOS,false),
    # which Spark's vectorized reader rejects; read it as raw long nanos
    # and convert in sources.catalog (lossless: data is µs-granular).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics: all TIMESTAMP<->NTZ casts and
    # any TimestampType arithmetic happen in UTC regardless of host tz.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime join-strategy switch, skew-join
    # splitting, post-shuffle partition coalescing.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for all pandas_udf / mapInPandas / toPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

#: RUNTIME_CONFS that results depend on, so every `tune` call sets them
#: even over the caller's value: the UTC time zone fixes what every
#: timestamp cast and date bucket returns, and the catalog's per-read
#: TIMESTAMP(NANOS) conversion needs nanosAsLong. The other keys are
#: performance defaults, set once and only where the caller has not.
ENFORCED = ("spark.sql.legacy.parquet.nanosAsLong",
            "spark.sql.session.timeZone")

#: Session-conf marker: set by the first `tune` of a session.
_TUNED = "spark.dwps.tuned"


def _set(spark: SparkSession, key: str, value: str) -> None:
    try:
        spark.conf.set(key, value)
    except Exception:
        # Non-settable in this deployment — keep going; each conf
        # has a safe-degraded behavior except nanosAsLong, which
        # sources.catalog works around per-read anyway.
        pass


def tune(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime configuration to an existing session.

    `ENFORCED` keys are set on every call. The rest of `RUNTIME_CONFS`
    is applied on the session's first call only, skipping any key the
    caller set explicitly, so a host application's (or an A/B run's)
    choice of AQE or Arrow survives every `Catalog` read."""
    for key in ENFORCED:
        _set(spark, key, RUNTIME_CONFS[key])
    conf = spark._jsparkSession.sessionState().conf()
    if conf.contains(_TUNED):
        return spark
    for key, value in RUNTIME_CONFS.items():
        if key not in ENFORCED and not conf.contains(key):
            _set(spark, key, value)
    try:
        # Right-size shuffle partitions when still at the stock default:
        # AQE coalesces batch shuffles anyway, but stateful streaming
        # disables AQE and would otherwise run 200 state partitions on
        # a laptop-sized deployment. A real cluster overrides this.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(spark.sparkContext.defaultParallelism))
    except Exception:
        pass
    _set(spark, _TUNED, "true")
    return spark


def get_spark(app_name: str = "data_warehouse_project_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a local session tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions default to the core count — right-sized for local runs;
    a cluster deployment overrides via spark-submit conf.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    warehouse = os.environ.get(
        "DWPS_WAREHOUSE_DIR",
        os.path.join(tempfile.gettempdir(), "dwps-warehouse"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-mode scan parallelism: the testdata tables are single
        # small parquet files; default 128 MiB split size reads them on
        # 1-3 cores. A cluster deployment keeps the default (small
        # splits at 100 TB would drown the scheduler).
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config(map=STATIC_CONFS)
    )
    return tune(builder.getOrCreate())
