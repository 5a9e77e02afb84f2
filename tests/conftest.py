from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"

_JOB_GROUPS = itertools.count()


def count_jobs(spark, group, fn):
    """Run fn under a fresh job group; return (its result, the jobs it
    ran, their stages). The status tracker keeps every group's jobs for
    the whole session, so the group name gets a per-call suffix: two
    calls never share a group, whatever names the tests pick."""
    group = f"{group}-{next(_JOB_GROUPS)}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    ids = tracker.getJobIdsForGroup(group)
    return out, len(ids), sum(len(tracker.getJobInfo(j).stageIds) for j in ids)


@pytest.fixture(scope="session")
def spark():
    from databus_spark.session import build_session

    s = build_session("databus_spark_tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL
