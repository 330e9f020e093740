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


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def cache_is_empty(spark):
    """() -> whether Spark's cache manager holds no frame."""
    return lambda: _cache_is_empty(spark)


@pytest.fixture(scope="module", autouse=True)
def _no_cached_frame_left(request):
    """The engine caches nothing, so Spark's cache manager must be empty
    after each test module. The cache is cleared either way, so one leak
    fails one module and not every module after it."""
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is None:
        return
    leaked = not _cache_is_empty(active)
    active.catalog.clearCache()
    assert not leaked, f"{request.module.__name__} left a frame in Spark's cache manager"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
