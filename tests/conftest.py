from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osmix_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The whole suite shares one JVM (~180 tests, ~30min wall): give the
# driver heap headroom for the block-manager churn unless the caller
# already sized it.
os.environ.setdefault("SPARK_DRIVER_MEM", "12g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("osmix-tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture
def spark_jobs(spark):
    """run(fn) -> (fn's result, {job id: [stage names]} of the Spark jobs
    fn launched), counted through a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        st = sc.statusTracker()
        jobs = {}
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            stages = [st.getStageInfo(s) for s in (info.stageIds if info else [])]
            jobs[jid] = [s.name for s in stages if s is not None]
        return out, jobs

    return run


@pytest.fixture(scope="module", autouse=True)
def _clear_cache_between_modules():
    """Drop explicit .cache() leftovers after each test module so the
    shared session's heap stays flat across the suite."""
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.catalog.clearCache()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
