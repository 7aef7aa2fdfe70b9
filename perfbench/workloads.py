"""The workloads and the ops they run.

Every op has the same life cycle, driven by ``run.py``:
``prepare`` (untimed: writes this cycle's input batch), ``build``
(the call that constructs the plan, including any eager actions of a
query function), ``execute`` (runs it: noop sink for reads, commit and
read-back for writes), then ``cache.release_all`` and, outside every
timed region, ``check``.
"""

from __future__ import annotations

import datetime as dt
import functools
import os

from pyspark.sql import functions as F

import gen
from check import CheckFailed, expect_match

#: registry ops per workload; the layer is the package that registered
#: the op (plans, operators, llm, streaming)
STAR_OPS = ["flagship_my_registrations", "q6_forecast_revenue",
            "rollup_status_priority", "window_running_totals",
            "bloom_semijoin_revenue", "bm25_top_docs"]
INGEST_OPS = ["events_distinct_users_incremental",
              "docs_dedup_ingest_incremental"]

#: ad-hoc statements for Engine.sql; each runs verbatim in DuckDB too
SQL_TEMPLATES = {
    "segment_nation_revenue": """
SELECT n.n_name, COUNT(*) AS n_orders, SUM(o.o_totalprice) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_mktsegment = '{segment}' AND n.n_regionkey = {region}
  AND o.o_orderdate >= DATE '{year}-01-01'
  AND o.o_orderdate < DATE '{next_year}-01-01'
GROUP BY n.n_name""",
    "discounted_lines": """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines,
       SUM(l_extendedprice * (1 - l_discount)) AS disc_price,
       AVG(l_quantity) AS avg_qty
FROM lineitem
WHERE l_discount >= {discount} AND l_quantity < {quantity}
GROUP BY l_returnflag, l_linestatus""",
    "priority_part_types": """
SELECT p.p_type, o.o_orderpriority, COUNT(*) AS n_lines,
       SUM(l.l_quantity) AS qty
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE o.o_orderpriority = '{priority}' AND l.l_shipdate >= DATE '{year}-01-01'
GROUP BY p.p_type, o.o_orderpriority""",
}


class Ctx:
    """What ops share within one run."""

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, con):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.con = con
        self.batch_bytes = 0   # user batch bytes handed to writes so far

    @functools.cached_property
    def engine(self):
        """The ``Engine`` facade (registers every table as a view), built
        on first use: only the ad-hoc SQL ops need it."""
        from data_warehouse_project_spark.engine import Engine
        return Engine(self.spark, self.data_dir)

    def table(self, name: str):
        from data_warehouse_project_spark.sources.catalog import load_table
        return load_table(self.spark, self.data_dir, name)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) of the parquet files under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


class Op:
    layer = ""
    #: True: check after every execution (write ops own evolving state)
    check_each = False

    def setup(self, ctx: Ctx) -> None:
        pass

    def prepare(self, ctx: Ctx, cycle: int) -> None:
        pass

    def plan_df(self, built):
        """The DataFrame whose planning phases the traced run reads."""
        return None

    def written(self) -> dict[str, int]:
        """Bytes and files the last execution wrote, and the user batch
        bytes it was handed."""
        return {}


class ReadOp(Op):
    """Builds a DataFrame and runs it into the noop sink."""

    def execute(self, ctx, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def plan_df(self, built):
        return built


class RegistryOp(ReadOp):
    def __init__(self, name: str, fn, oracle: str | None):
        self.name = name
        self.fn = fn
        self.oracle = oracle
        self.layer = fn.__module__.split(".")[1]

    def build(self, ctx):
        return self.fn(ctx.spark, ctx.data_dir)

    def check(self, ctx) -> None:
        from data_warehouse_project_spark.cache import release_all
        got = self.fn(ctx.spark, ctx.data_dir).toPandas()
        release_all()
        if self.oracle is not None:
            expect_match(self.name, got, ctx.con.execute(self.oracle).fetchdf())
        elif got.empty:
            raise CheckFailed(f"{self.name}: no rows")


class SqlOp(ReadOp):
    layer = "engine"

    def __init__(self, name: str, text: str):
        self.name = f"sql.{name}"
        self.text = text

    def build(self, ctx):
        return ctx.engine.sql(self.text)

    def check(self, ctx) -> None:
        expect_match(self.name, ctx.engine.sql(self.text).toPandas(),
                     ctx.con.execute(self.text).fetchdf())


class BatchOp(Op):
    """An op that hands a seeded batch to the write path each cycle."""
    check_each = True
    table = ""

    def prepare(self, ctx: Ctx, cycle: int) -> None:
        self.cycle = cycle
        self.batch = os.path.join(ctx.work_dir, "batches",
                                  f"{self.table}-{cycle}.parquet")
        self.batch_bytes = gen.write_table(self.make_batch(ctx.seed, cycle),
                                           self.batch)
        ctx.batch_bytes += self.batch_bytes
        self.out_bytes = self.out_files = 0

    def written(self) -> dict[str, int]:
        return {"bytes": self.out_bytes, "files": self.out_files,
                "batch_bytes": self.batch_bytes}

    def compare_sql(self, ctx, name: str, got_sql: str, want_sql: str) -> None:
        got = ctx.con.execute(got_sql).fetchdf()
        want = ctx.con.execute(want_sql).fetchdf()
        expect_match(name, got, want)


class OrdersUpsert(BatchOp):
    """writes.merge_upsert + overwrite_table_versioned on a copy of
    ``orders``, then a read of the new version."""
    name = "write.orders_upsert"
    layer = "writes"
    table = "orders"
    make_batch = staticmethod(gen.orders_batch)

    def setup(self, ctx: Ctx) -> None:
        from data_warehouse_project_spark import writes
        self.path = os.path.join(ctx.work_dir, "tables", "orders")
        writes.overwrite_table_versioned(ctx.spark, ctx.table("orders"),
                                         self.path)
        ctx.con.execute("CREATE TABLE exp_orders AS SELECT * FROM orders")

    def build(self, ctx):
        from data_warehouse_project_spark import writes
        target = writes.read_table_version(ctx.spark, self.path)
        return writes.merge_upsert(target, ctx.spark.read.parquet(self.batch),
                                   ["o_orderkey"])

    def execute(self, ctx, merged) -> None:
        from data_warehouse_project_spark import writes
        self.version = writes.overwrite_table_versioned(ctx.spark, merged,
                                                        self.path)
        self.readback = writes.read_table_version(ctx.spark, self.path).count()
        self.out_bytes, self.out_files = dir_bytes(
            os.path.join(self.path, f"v={self.version}"))

    def space(self) -> tuple[int, int]:
        """(bytes of every retained version, bytes of the live one)."""
        return (dir_bytes(self.path)[0],
                dir_bytes(os.path.join(self.path, f"v={self.version}"))[0])

    def check(self, ctx) -> None:
        c = ctx.con
        c.execute(f"CREATE OR REPLACE TEMP VIEW b AS "
                  f"SELECT * FROM read_parquet('{self.batch}')")
        c.execute("DELETE FROM exp_orders WHERE o_orderkey IN "
                  "(SELECT o_orderkey FROM b)")
        c.execute("INSERT INTO exp_orders SELECT * FROM b")
        got = os.path.join(self.path, f"v={self.version}", "*.parquet")
        row = ("COUNT(*) AS n, CAST(SUM(hash(o_orderkey, o_custkey, "
               "o_orderstatus, o_totalprice, o_orderdate::TIMESTAMP, "
               "o_orderpriority)) AS VARCHAR) AS h")
        self.compare_sql(ctx, self.name,
                         f"SELECT {row} FROM read_parquet('{got}')",
                         f"SELECT {row} FROM exp_orders")
        n = c.execute("SELECT COUNT(*) FROM exp_orders").fetchone()[0]
        if self.readback != n:
            raise CheckFailed(f"{self.name}: read {self.readback} rows, "
                              f"expected {n}")


class CustomerScd2(BatchOp):
    """writes.scd2_apply on a type-2 history of ``customer``."""
    name = "write.customer_scd2"
    layer = "writes"
    table = "customer"
    make_batch = staticmethod(gen.customer_batch)
    TRACKED = ["c_mktsegment", "c_acctbal"]
    OPEN_END = "9999-12-31 00:00:00"

    def setup(self, ctx: Ctx) -> None:
        from data_warehouse_project_spark import writes
        self.path = os.path.join(ctx.work_dir, "tables", "customer_scd2")
        dim = ctx.table("customer").select(
            "c_custkey", *self.TRACKED,
            F.lit("1990-01-01 00:00:00").cast("timestamp_ntz").alias("valid_from"),
            F.lit(self.OPEN_END).cast("timestamp_ntz").alias("valid_to"),
            F.lit(1).alias("is_current"))
        writes.overwrite_table(ctx.spark, dim, self.path)
        ctx.con.execute(
            "CREATE TABLE exp_scd2 AS SELECT c_custkey, c_mktsegment, "
            "c_acctbal, TIMESTAMP '1990-01-01' AS valid_from, "
            f"TIMESTAMP '{self.OPEN_END}' AS valid_to, 1 AS is_current "
            "FROM customer")

    def batch_ts(self) -> str:
        return str(dt.datetime(2025, 1, 1) + dt.timedelta(days=self.cycle))

    def build(self, ctx):
        from data_warehouse_project_spark import writes
        dim = ctx.spark.read.parquet(self.path)
        return writes.scd2_apply(dim, ctx.spark.read.parquet(self.batch),
                                 "c_custkey", self.TRACKED, self.batch_ts(),
                                 self.OPEN_END)

    def execute(self, ctx, new_dim) -> None:
        from data_warehouse_project_spark import writes
        writes.overwrite_table(ctx.spark, new_dim, self.path)
        self.readback = (ctx.spark.read.parquet(self.path)
                         .filter("is_current = 1").count())
        self.out_bytes, self.out_files = dir_bytes(self.path)

    def check(self, ctx) -> None:
        c = ctx.con
        ts = f"TIMESTAMP '{self.batch_ts()}'"
        c.execute(f"CREATE OR REPLACE TEMP VIEW u AS "
                  f"SELECT * FROM read_parquet('{self.batch}')")
        c.execute("CREATE OR REPLACE TEMP TABLE chg AS SELECT u.* FROM u "
                  "LEFT JOIN exp_scd2 e ON e.c_custkey = u.c_custkey "
                  "AND e.is_current = 1 WHERE e.c_custkey IS NULL "
                  "OR e.c_mktsegment IS DISTINCT FROM u.c_mktsegment "
                  "OR e.c_acctbal IS DISTINCT FROM u.c_acctbal")
        c.execute(f"UPDATE exp_scd2 SET valid_to = {ts}, is_current = 0 "
                  "WHERE is_current = 1 AND c_custkey IN "
                  "(SELECT c_custkey FROM chg)")
        c.execute(f"INSERT INTO exp_scd2 SELECT c_custkey, c_mktsegment, "
                  f"c_acctbal, {ts}, TIMESTAMP '{self.OPEN_END}', 1 FROM chg")
        row = ("COUNT(*) AS n, CAST(SUM(hash(c_custkey, c_mktsegment, "
               "c_acctbal, valid_from::TIMESTAMP, valid_to::TIMESTAMP, "
               "is_current::INTEGER)) AS VARCHAR) AS h")
        got = os.path.join(self.path, "*.parquet")
        self.compare_sql(ctx, self.name,
                         f"SELECT {row} FROM read_parquet('{got}')",
                         f"SELECT {row} FROM exp_scd2")
        n = c.execute("SELECT COUNT(*) FROM exp_scd2 "
                      "WHERE is_current = 1").fetchone()[0]
        if self.readback != n:
            raise CheckFailed(f"{self.name}: read {self.readback} current "
                              f"rows, expected {n}")


def _hourly(batch):
    return batch.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").alias("n"), F.sum("value").alias("v"))


def _merge_hourly(prev, batch):
    return (prev.unionByName(_hourly(batch))
            .groupBy("event_type", "hour")
            .agg(F.sum("n").alias("n"), F.sum("v").alias("v")))


class EventsFold(BatchOp):
    """streaming.state_fold.fold_batch of event micro-batches into an
    hourly (event_type, hour) -> count, sum(value) state."""
    name = "write.events_fold"
    layer = "streaming.state_fold"
    table = "events"
    make_batch = staticmethod(gen.events_batch)

    def setup(self, ctx: Ctx) -> None:
        self.path = os.path.join(ctx.work_dir, "tables", "events_hourly")
        self.folded: list[str] = []

    def build(self, ctx):
        return ctx.spark.read.parquet(self.batch)

    def execute(self, ctx, batch) -> None:
        from data_warehouse_project_spark.streaming import state_fold
        if not state_fold.fold_batch(batch, self.cycle, self.path,
                                     _hourly, _merge_hourly):
            raise CheckFailed(f"{self.name}: batch {self.cycle} skipped")
        self.readback = ctx.spark.read.parquet(self.path).agg(
            F.sum("n")).collect()[0][0]
        self.out_bytes, self.out_files = dir_bytes(self.path)

    def check(self, ctx) -> None:
        self.folded.append(self.batch)
        files = ", ".join(f"'{f}'" for f in self.folded)
        got = os.path.join(self.path, "*.parquet")
        self.compare_sql(
            ctx, self.name,
            f"SELECT event_type, epoch(hour) AS h, n, v "
            f"FROM read_parquet('{got}')",
            f"SELECT event_type, epoch(date_trunc('hour', ts)) AS h, "
            f"COUNT(*) AS n, SUM(value) AS v FROM read_parquet([{files}]) "
            f"GROUP BY ALL")
        n = ctx.con.execute(
            f"SELECT COUNT(*) FROM read_parquet([{files}])").fetchone()[0]
        if self.readback != n:
            raise CheckFailed(f"{self.name}: state holds {self.readback} "
                              f"events, expected {n}")


WORKLOADS = ("star_interactive", "ingest_write")


def make_ops(workload: str, seed: int) -> list[Op]:
    from data_warehouse_project_spark import registry
    queries, oracles = registry.queries(), registry.oracle_sql()

    def reg(names):
        return [RegistryOp(n, queries[n], oracles.get(n)) for n in names]

    if workload == "star_interactive":
        lit = gen.sql_literals(seed)
        return reg(STAR_OPS) + [SqlOp(k, t.format(**lit))
                                for k, t in SQL_TEMPLATES.items()]
    if workload == "ingest_write":
        return [OrdersUpsert(), CustomerScd2(), EventsFold()] + reg(INGEST_OPS)
    raise ValueError(f"unknown workload {workload!r}")
