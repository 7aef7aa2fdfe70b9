"""The engine's Spark status reader (`metrics.job_group` plus
`metrics.group_profile`): every job a run launches carries the run's
group, the group's byte totals match the stage-id window the
benchmark reads (`metrics.stage_shuffle_totals`), and nested groups
restore the outer one."""

from __future__ import annotations

from data_warehouse_project_spark import registry
from data_warehouse_project_spark.cache import release_all
from data_warehouse_project_spark.metrics import (job_group,
                                                  stage_shuffle_totals)
from tests.helpers import group_run

#: a broadcast star join whose plan also runs AQE shuffle stages
QUERY = "flagship_my_registrations"


def _marker_job(spark) -> int:
    noop = spark.range(4).write.format("noop").mode("overwrite")
    return group_run(spark, noop.save)["jobs"][0]["job_id"]


def test_group_tags_every_job_and_matches_stage_window(spark, sf_dir):
    def run():
        (registry.queries()[QUERY](spark, sf_dir)
         .write.format("noop").mode("overwrite").save())
        release_all()

    run()
    # job ids follow submission order, so the jobs recorded during
    # the call are exactly those between two marker jobs
    before, floor = _marker_job(spark), stage_shuffle_totals(spark, -1)[3]
    prof = group_run(spark, run, QUERY)
    window = stage_shuffle_totals(spark, floor)[:3]
    recorded = set(range(before + 1, _marker_job(spark)))

    assert len(recorded) > 1
    assert {j["job_id"] for j in prof["jobs"]} == recorded
    assert all(j["end"] >= j["start"] and j["stages"] >= 1
               and j["description"].startswith(QUERY)
               for j in prof["jobs"])
    # the engine reader agrees with the benchmark's stage-id window
    assert prof["shuffle_write_bytes"] > 0
    assert (prof["shuffle_read_bytes"], prof["shuffle_write_bytes"],
            prof["spilled_bytes"]) == window


def test_nested_groups_restore_the_outer_group(spark):
    sc = spark.sparkContext
    outside = sc.getLocalProperty("spark.jobGroup.id")
    with job_group(spark, "outer") as outer:
        with job_group(spark, "outer") as inner:
            assert inner != outer
            assert sc.getLocalProperty("spark.jobGroup.id") == inner
        assert sc.getLocalProperty("spark.jobGroup.id") == outer
        assert sc.getLocalProperty("spark.job.description") == "outer"
    assert sc.getLocalProperty("spark.jobGroup.id") == outside
