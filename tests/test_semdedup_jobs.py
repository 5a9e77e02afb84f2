"""Spark job counts of the SemDeDup and k-means registered rows.

At fixture scale this family's wall is dominated by job scheduling, not
by data work, so a refactor that adds a job is a measurable slowdown
even when its rows are identical. Each row runs once to stage its
artifacts, then once more under a job group; the warm count must stay
at or below the bound measured on the four-operator layout that
preceded the single semdedup_survivors operator.
"""

from __future__ import annotations

import pytest

_WARM_JOBS = {
    "semdedup_survivors": 16,
    "semdedup_multiprobe": 16,
    "semdedup_trained": 17,
    "semdedup_survivors_v2": 19,
    "semdedup_recall_eval": 9,
    "semdedup_incremental": 12,
    "kmeans_assign_summary": 8,
}


def _jobs(spark, group, fn):
    """Run fn under a job group; return the jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(_WARM_JOBS))
def test_warm_job_count_bounded(spark, sf_dir, name):
    from databus_spark.registry import QUERIES

    def run():
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()  # stages the trained model / base index on a cold fixture
    jobs = _jobs(spark, f"semdedup-jobs-{name}", run)
    assert jobs <= _WARM_JOBS[name], (name, jobs)
