"""Job budget of the star-dashboard registry queries, the loop and
replay queries (the two late-tolerant replays, the dedup bridge, the
BPE trainer and the near-dup ingest), and the queries whose jobs the
`cache.pin` sweep cut by three or more, so a change that re-adds a
barrier to any of them fails here.

At the test and bench scales a query's cost is mostly the fixed cost
of each Spark job it launches, not data volume, so the job count is
the figure to gate. Unlike wall time it is deterministic for a given
plan. `tests/job_budget.json` records, per query, the jobs of one warm
call (the second one in the session): building the frame, including
any eager actions of the query function, plus a noop-sink execute. A
change that adds a job to any of them fails here; a change that
removes jobs lowers the recorded count with it. Each budget is the
largest warm count over at least five fresh sessions, so where AQE
re-plans a query between sessions (`events_sessions_late_tolerant`
reads 23 or 24) the extra job is absorbed for that query alone.
"""

from __future__ import annotations

import json
import os

import pytest

from data_warehouse_project_spark import registry
from data_warehouse_project_spark.cache import release_all
from tests.helpers import count_jobs

BUDGET_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "job_budget.json")

with open(BUDGET_PATH) as _f:
    BUDGET = json.load(_f)


@pytest.fixture(scope="module")
def budget_sf_dir(sf_dir):
    d = os.path.join(os.path.dirname(sf_dir), BUDGET["scale"])
    if not os.path.isdir(d):
        pytest.skip(f"no {BUDGET['scale']} test data next to {sf_dir}")
    return d


@pytest.mark.parametrize("name", sorted(BUDGET["jobs"]))
def test_warm_query_within_job_budget(spark, budget_sf_dir, name):
    fn = registry.queries()[name]

    def run():
        fn(spark, budget_sf_dir).write.format("noop").mode("overwrite").save()
        release_all()

    run()   # cold call: schema inference, JIT, first broadcasts
    jobs = count_jobs(spark, run)
    assert jobs <= BUDGET["jobs"][name], (name, jobs)
