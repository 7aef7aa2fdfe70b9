"""Engine facade + source-format breadth (CSV / JSON round-trips —
the engine is parquet-first but reads any Spark source through the
same schema discipline)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from data_warehouse_project_spark import schemas
from data_warehouse_project_spark.engine import Engine
from data_warehouse_project_spark.sources.catalog import Catalog

from tests.helpers import count_jobs


def test_engine_sql_and_named_queries(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    # ad-hoc SQL over auto-registered views, including conformed dims
    seg = eng.sql("""
        SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY 1
    """).collect()
    assert sum(r["n"] for r in seg) == eng.table("customer").count()
    dim = eng.sql("SELECT DISTINCT region FROM dim_customer").collect()
    assert len(dim) == 5
    # named registry query
    assert eng.query("q1_pricing_summary").count() > 0
    assert "flagship_my_registrations" in eng.queries()


def test_csv_source_roundtrip(spark, sf_dir, tmp_path):
    orders = Catalog(spark, sf_dir).orders
    path = str(tmp_path / "orders_csv")
    orders.write.option("header", True).csv(path)
    back = (spark.read.schema(schemas.ORDERS)
            .option("header", True).csv(path))
    assert back.count() == orders.count()
    a = orders.agg(F.sum(F.floor(F.col("o_totalprice") * 100)
                         .cast("long"))).collect()[0][0]
    b = back.agg(F.sum(F.floor(F.col("o_totalprice") * 100)
                       .cast("long"))).collect()[0][0]
    assert a == b


def test_json_source_roundtrip(spark, sf_dir, tmp_path):
    events = Catalog(spark, sf_dir).events
    path = str(tmp_path / "events_json")
    events.write.json(path)
    back = spark.read.schema(schemas.EVENTS).json(path)
    assert back.count() == events.count()
    a = {r["event_type"]: r["n"] for r in
         events.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    b = {r["event_type"]: r["n"] for r in
         back.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert a == b


def test_jdbc_options_basic_and_partitioned(monkeypatch):
    from data_warehouse_project_spark.sources import catalog as cat_mod

    monkeypatch.delenv(cat_mod.JDBC_URL_ENV, raising=False)
    with pytest.raises(ValueError):
        cat_mod.jdbc_options("orders")

    url = "jdbc:mysql://localhost:3306/dwps"
    opts = cat_mod.jdbc_options("orders", url, user="u", password="p")
    assert opts["url"] == url and opts["dbtable"] == "orders"
    assert opts["user"] == "u" and opts["password"] == "p"
    # scale defaults: pushdowns on, streaming fetch batched
    assert opts["pushDownPredicate"] == "true"
    assert int(opts["fetchsize"]) >= 1000
    assert "numPartitions" not in opts

    part = cat_mod.jdbc_options(
        "orders", url, num_partitions=8, lower_bound=1, upper_bound=60_000)
    # default partition column = first integer key of the schema
    assert part["partitionColumn"] == "o_orderkey"
    assert part["numPartitions"] == "8"
    assert part["lowerBound"] == "1" and part["upperBound"] == "60000"

    with pytest.raises(ValueError):
        cat_mod.jdbc_options("orders", url, num_partitions=8)  # no bounds
    with pytest.raises(KeyError):
        cat_mod.jdbc_options("no_such_table", url)


def test_jdbc_env_gate_reads_env(monkeypatch):
    from data_warehouse_project_spark.sources import catalog as cat_mod

    monkeypatch.setenv(cat_mod.JDBC_URL_ENV, "jdbc:mysql://h:3306/db")
    monkeypatch.setenv("DWPS_JDBC_USER", "svc")
    opts = cat_mod.jdbc_options("nation")
    assert opts["url"].endswith("/db") and opts["user"] == "svc"


def test_orc_source_roundtrip(spark, sf_dir, tmp_path):
    # ORC is the other built-in columnar source; same catalog frames
    # round-trip through it with values intact
    nation = Catalog(spark, sf_dir).nation
    path = str(tmp_path / "nation_orc")
    nation.write.orc(path)
    back = spark.read.schema(schemas.NATION).orc(path)
    assert sorted(r["n_nationkey"] for r in back.collect()) == \
        sorted(r["n_nationkey"] for r in nation.collect())


def test_catalog_normalizes_every_ts_encoding(spark, sf_dir, tmp_path):
    """The catalog's generic timestamp dispatch: the same events data
    written as TIMESTAMP(NANOS) (reads as long under nanosAsLong),
    TIMESTAMP(MICROS) ntz, and TIMESTAMP(MICROS) tz-adjusted must all
    load to the identical TimestampNTZType values — the driver has
    already flipped the physical encoding once mid-project."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_warehouse_project_spark.sources.catalog import (_file_key,
                                                              load_table)

    base_us = 1_700_000_000_000_000
    us_vals = [base_us + i * 60_000_000 for i in range(3)]

    def write_events(d, ts_arr):
        d.mkdir()
        pq.write_table(pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": ts_arr,
            "user_id": pa.array([1, 1, 2], pa.int64()),
            "event_type": pa.array(["click", "view", "click"]),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }), str(d / "events.parquet"), version="2.6")

    write_events(tmp_path / "nanos",
                 pa.array([v * 1000 for v in us_vals], pa.timestamp("ns")))
    write_events(tmp_path / "micros",
                 pa.array(us_vals, pa.timestamp("us")))
    write_events(tmp_path / "micros_utc",
                 pa.array(us_vals, pa.timestamp("us", tz="UTC")))

    results = {}
    for enc in ("nanos", "micros", "micros_utc"):
        df = load_table(spark, str(tmp_path / enc), "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp_ntz", enc
        results[enc] = [r["ts"] for r in
                        df.orderBy("event_id").collect()]
    assert results["nanos"] == results["micros"] == results["micros_utc"]
    assert results["micros"][0].year >= 2000

    # schema memo: a second load of an unchanged file infers nothing
    nanos = str(tmp_path / "nanos")
    assert count_jobs(spark, lambda: load_table(spark, nanos, "events")) == 0
    # the same file rewritten in place with the micros encoding has a
    # new identity: its schema is inferred again, values unchanged
    key = _file_key(f"{nanos}/events.parquet")
    shutil.copyfile(tmp_path / "micros" / "events.parquet",
                    tmp_path / "nanos" / "events.parquet")
    assert _file_key(f"{nanos}/events.parquet") != key
    assert count_jobs(spark, lambda: load_table(spark, nanos, "events")) > 0
    df = load_table(spark, nanos, "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
    assert [r["ts"] for r in df.orderBy("event_id").collect()] \
        == results["micros"]

    # a Spark-written directory table (part files, _SUCCESS, .crc) is
    # keyed by its part files, and an overwrite re-keys it
    sparkdir = str(tmp_path / "spark_sf")
    table = f"{sparkdir}/events.parquet"
    df.write.parquet(table)
    key = _file_key(table)
    parts = sorted(n for n in os.listdir(table) if n.startswith("part-"))
    assert [f[0] for f in key] == parts
    load_table(spark, sparkdir, "events")
    assert count_jobs(spark,
                      lambda: load_table(spark, sparkdir, "events")) == 0
    (df.withColumn("ts", F.col("ts").cast("timestamp"))
     .write.mode("overwrite").parquet(table))
    assert _file_key(table) != key
    again = load_table(spark, sparkdir, "events")
    assert again.schema["ts"].dataType.typeName() == "timestamp_ntz"
    assert [r["ts"] for r in again.orderBy("event_id").collect()] \
        == results["micros"]


def test_catalog_read_keeps_callers_confs_and_enforces_utc(spark, sf_dir):
    """`tune` (run by every Catalog) leaves a key the caller set alone —
    on the session's first tune and on every later one — but always
    pins the UTC time zone that results depend on."""
    aqe, tz = "spark.sql.adaptive.enabled", "spark.sql.session.timeZone"
    for session in (spark.newSession(), spark):
        session.conf.set(aqe, "false")
        session.conf.set(tz, "America/New_York")
        try:
            for _ in range(2):
                Catalog(session, sf_dir).table("nation").count()
                assert session.conf.get(aqe) == "false"
                assert session.conf.get(tz) == "UTC"
        finally:
            session.conf.set(aqe, "true")


def test_cache_release_frees_all_storage(spark, sf_dir):
    """Back-to-back registry queries on one session must not
    accumulate pinned storage once release_all() runs (VERDICT r2:
    unpersist discipline for intra-query persists). Only RDDs cached
    after the loop starts count: storage an earlier test left in the
    shared session is not this test's."""
    from data_warehouse_project_spark import cache
    from data_warehouse_project_spark.llm.dedup import dedup_ngram_jaccard
    from data_warehouse_project_spark.plans.flagship import flagship

    def cached():
        return {(r.id(), r.name())
                for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = cached()
    for fn in (flagship, dedup_ngram_jaccard):
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        assert cached() - before       # the tracked persist is live
        cache.release_all()
        assert not cached() - before   # and fully released


def test_load_table_missing_ts_column_raises_clear_error(
        spark, sf_dir, tmp_path):
    """ADVICE r6 / VERDICT r6 #5: a parquet file that drops a
    schema-declared timestamp column must fail with a clear
    ValueError naming the column, not a KeyError deep in the
    encoding-normalization loop (sources/catalog.py)."""
    from data_warehouse_project_spark.sources.catalog import load_table
    events = Catalog(spark, sf_dir).events
    bad_dir = str(tmp_path / "bad_sf")
    (events.drop("ts").write
     .parquet(f"{bad_dir}/events.parquet"))
    with pytest.raises(ValueError, match="missing expected.*'ts'"):
        load_table(spark, bad_dir, "events")


def test_json_permissive_corrupt_record_quarantine(spark, tmp_path):
    """Malformed lines and type-mismatched rows route to the corrupt
    output with their raw text; clean rows come back fully typed with
    no capture column."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from data_warehouse_project_spark.operators.quarantine import (
        read_json_with_quarantine)

    path = str(tmp_path / "feed.json")
    lines = [
        '{"id": 1, "name": "ok-one"}',
        '{"id": 2, "name": "ok-two"}',
        '{"id": "not-a-number", "name": "bad-type"}',
        '{broken json!!',
        '{"id": 5, "name": "ok-three"}',
    ]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    schema = StructType([StructField("id", LongType()),
                         StructField("name", StringType())])
    clean, corrupt = read_json_with_quarantine(spark, path, schema)
    got = {(r["id"], r["name"]) for r in clean.collect()}
    assert got == {(1, "ok-one"), (2, "ok-two"), (5, "ok-three")}
    assert "_corrupt_record" not in clean.columns
    raw = {r["raw_line"] for r in corrupt.collect()}
    assert raw == {lines[2], lines[3]}
    from data_warehouse_project_spark import cache
    cache.release_all()
