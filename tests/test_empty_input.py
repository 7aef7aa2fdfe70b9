"""Empty-input discipline (round 9): zero-row inputs are REACHABLE at
warehouse scale (a date-range filter matching nothing, an all-late
micro-batch, a source partition with no files), and the degenerate
bugs cluster exactly there — ANSI divide-by-zero, ``None - None``
watermark arithmetic, MLlib fits on empty frames, schema inference
over footerless writes. Every registry query runs against a zero-row
copy of the catalog: none may crash, and every oracle-backed query
outside ``EMPTY_INPUT_DIVERGENT`` must match its DuckDB twin.
"""

from __future__ import annotations

import pytest

from data_warehouse_project_spark import registry
from tests.oracle_utils import (EMPTY_INPUT_DIVERGENT, compare_empty,
                                duckdb_con, make_empty_sf_dir)


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory, sf_dir):
    d = str(tmp_path_factory.mktemp("sf-empty"))
    make_empty_sf_dir(d, sf_dir)
    return d


@pytest.fixture(scope="module")
def empty_con(empty_dir):
    con = duckdb_con(empty_dir)
    yield con
    con.close()


@pytest.mark.usefixtures("release_pins")
@pytest.mark.parametrize("name", sorted(registry.queries()))
def test_empty_input_agrees_or_documented(spark, empty_dir, empty_con,
                                          name):
    fn, sql = registry.REGISTRY[name]
    df = fn(spark, empty_dir)
    if name in EMPTY_INPUT_DIVERGENT or sql is None:
        # documented divergence / rows-only: crash-free is the bar
        assert df.count() >= 0
        return
    compare_empty(df, empty_con, sql, name)


def test_divergence_list_is_closed():
    """Every allowlisted name must still exist in the registry (a
    renamed or dropped query must not leave a stale allowlist row)."""
    qs = registry.queries()
    stale = [n for n in EMPTY_INPUT_DIVERGENT if n not in qs]
    assert not stale, stale
