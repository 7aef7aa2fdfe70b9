"""Engine facade — the one-object API a reference user migrates to.

    from data_warehouse_project_spark.engine import Engine
    eng = Engine(spark, "/root/testdata/sf0.1")
    eng.sql("SELECT c_mktsegment, count(*) FROM customer GROUP BY 1").show()
    eng.query("q1_pricing_summary").show()
    eng.table("orders").filter(...)

All driver tables (plus the conformed dim views) register as temp
views on construction, so ad-hoc Spark SQL works immediately; named
engine queries run through the registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import registry
from .plans.warehouse import build_views
from .sources.catalog import Catalog


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self.catalog = Catalog(spark, sf_dir)
        self.catalog.register_views()
        build_views(spark, sf_dir)          # dim_customer / fact_* views

    def sql(self, query: str) -> DataFrame:
        """Ad-hoc Spark SQL over all registered views."""
        return self.spark.sql(query)

    def table(self, name: str) -> DataFrame:
        return self.catalog.table(name)

    def query(self, name: str) -> DataFrame:
        """Run a named engine query from the registry."""
        return registry.queries()[name](self.spark, self.sf_dir)

    def queries(self) -> list[str]:
        return sorted(registry.queries())
