from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_warehouse_project_spark.cache import release_all
from data_warehouse_project_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: tests/slow_tests.txt: one heavy test FUNCTION per line — marked
#: `slow` here at collection time so pytest.ini's `-m "not slow"`
#: default keeps the driver-facing tier inside its timeout.
#: Data-driven (a single reviewable file) instead of scattered
#: decorators; conftest hooks run before the mark plugin's
#: deselection, so the dynamic marker participates in -m filtering.
_SLOW_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "slow_tests.txt")


def _slow_set() -> set[str]:
    try:
        with open(_SLOW_PATH) as f:
            return {line for line in map(str.strip, f)
                    if line and not line.startswith("#")}
    except OSError:
        return set()


def pytest_collection_modifyitems(config, items):
    slow = _slow_set()
    for item in items:
        # function granularity: strip the parametrization suffix and
        # normalize the path to repo-relative (the recorded form)
        nodeid = (item.nodeid if item.nodeid.startswith("tests/")
                  else f"tests/{item.nodeid}")
        if nodeid.split("[")[0] in slow:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("dwps-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def release_pins():
    """Unpersist what a registry query pinned once its test is done, so
    a sweep over every query does not accumulate cached frames."""
    yield
    release_all()


@pytest.fixture(scope="session")
def kmv_hash_universe(spark):
    """120 engine-computed xxhash64 values (the KMV key hash), pulled
    once for the pure-Python bottom-k merge-lemma property test."""
    from pyspark.sql import functions as F

    df = spark.range(120).select(
        F.xxhash64(F.col("id").cast("string")).alias("h"))
    return [r["h"] for r in df.collect()]
