"""Physical-layout tests: partition pruning and exchange-free bucketed
joins — explain()-verified, because the *plan* is the deliverable."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from data_warehouse_project_spark import writes
from data_warehouse_project_spark.sources.catalog import Catalog


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_date_partitioned_write_prunes(spark, sf_dir, tmp_path):
    orders = Catalog(spark, sf_dir).orders
    path = str(tmp_path / "orders_part")
    writes.write_date_partitioned(orders, path, "o_orderdate")

    pruned = spark.read.parquet(path).filter(
        F.col("o_orderdate_month") == "1996-03")
    plan = _plan(pruned)
    # the partition predicate must reach the scan as a PartitionFilter
    assert "PartitionFilters" in plan and "o_orderdate_month" in plan
    # equivalence: pruned read == direct read of the one partition dir
    # (inputFiles() lists pre-pruning, so it can't verify pruning)
    direct = spark.read.parquet(path + "/o_orderdate_month=1996-03")
    assert pruned.count() == direct.count() > 0


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    writes.write_bucketed(cat.orders, "b_orders", "o_orderkey", 8,
                          sort_col="o_orderkey")
    writes.write_bucketed(
        cat.lineitem.limit(2000), "b_lineitem", "l_orderkey", 8,
        sort_col="l_orderkey")
    try:
        joined = (
            spark.table("b_orders").hint("merge")
            .join(spark.table("b_lineitem"),
                  F.col("o_orderkey") == F.col("l_orderkey"))
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan          # co-located: no shuffle
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_zorder_narrows_both_dimensions(spark, sf_dir, tmp_path):
    """Z-ordered files must cover narrow ranges of BOTH cluster
    columns; a linear sort leaves the secondary column spanning
    ~the full range in every file (no pruning power)."""
    import glob

    import pyarrow.parquet as pq

    from data_warehouse_project_spark import writes

    li = Catalog(spark, sf_dir).lineitem.select(
        "l_partkey", "l_suppkey", "l_quantity")

    zpath = str(tmp_path / "zorder")
    writes.write_zordered(li, zpath, "l_partkey", "l_suppkey", n_files=8)
    lpath = str(tmp_path / "linear")
    (li.repartitionByRange(8, "l_partkey").sortWithinPartitions("l_partkey")
     .write.mode("overwrite").parquet(lpath))

    def avg_span(path, col):
        gmin, gmax, spans = None, None, []
        per_file = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.read_metadata(f)
            fmin, fmax = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics:
                        s = c.statistics
                        fmin = s.min if fmin is None else min(fmin, s.min)
                        fmax = s.max if fmax is None else max(fmax, s.max)
            if fmin is None:
                continue
            per_file.append((fmin, fmax))
            gmin = fmin if gmin is None else min(gmin, fmin)
            gmax = fmax if gmax is None else max(gmax, fmax)
        width = max(gmax - gmin, 1)
        return sum((b - a) / width for a, b in per_file) / len(per_file)

    # the linear layout prunes its leading column well...
    assert avg_span(lpath, "l_partkey") < 0.5
    # ...but its secondary column spans nearly everything per file
    assert avg_span(lpath, "l_suppkey") > 0.8
    # z-order narrows BOTH dimensions per file
    assert avg_span(zpath, "l_partkey") < 0.6
    assert avg_span(zpath, "l_suppkey") < 0.6


def test_compact_parquet_reduces_files_preserves_rows(spark, sf_dir,
                                                      tmp_path):
    import os

    from data_warehouse_project_spark import writes

    path = str(tmp_path / "frag")
    orders = Catalog(spark, sf_dir).orders
    # simulate per-batch accretion: 24 appends of small slices
    for i in range(24):
        orders.filter(F.col("o_orderkey") % 24 == i).coalesce(1) \
            .write.mode("append").parquet(path)
    before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert before >= 24
    n_rows = orders.count()

    after = writes.compact_parquet(spark, path, target_files=4)
    assert after <= 4
    assert spark.read.parquet(path).count() == n_rows


def test_dynamic_partition_pruning_engages(spark, sf_dir, tmp_path):
    """DPP: when the partition column is constrained only THROUGH a
    join (a filtered dim, not a literal), Spark must inject a runtime
    subquery that prunes fact partitions before the scan — the
    mechanism that keeps a 100 TB date-partitioned fact from full-
    scanning on every dim-filtered query."""
    orders = Catalog(spark, sf_dir).orders
    path = str(tmp_path / "orders_dpp")
    writes.write_date_partitioned(orders, path, "o_orderdate")
    fact = spark.read.parquet(path)

    months = (fact.select(F.col("o_orderdate_month").alias("month"))
              .distinct()
              .withColumn("quarter",
                          F.when(F.substring("month", 6, 2)
                                 .isin("01", "02", "03"), "Q1")
                          .otherwise("other")))
    dim_path = str(tmp_path / "month_dim")
    months.write.parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("quarter") == "Q1")

    joined = fact.join(dim, fact.o_orderdate_month == dim.month)
    plan = _plan(joined)
    assert "dynamicpruningexpression" in plan.lower(), plan[:2000]

    got = joined.count()
    want = fact.filter(
        F.substring("o_orderdate_month", 6, 2).isin("01", "02", "03")
    ).count()
    assert got == want > 0
