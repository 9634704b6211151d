import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Small-data tests: fewer local cores/shuffle partitions → far less
# task-scheduling and Python-worker overhead than the prod local[32].
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

from iceberg_catalog_bench_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "spark_free: starts no SparkSession; `pytest -m spark_free` runs "
        "the Spark-free tier alone")


def pytest_collection_modifyitems(config, items):
    for item in items:
        if (item.get_closest_marker("spark_free")
                and "spark" in getattr(item, "fixturenames", ())):
            raise pytest.UsageError(
                f"{item.nodeid} is marked spark_free but uses the spark "
                "fixture")


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_sf_dir():
    return SF_DIR_ORACLE


@pytest.fixture()
def spark_jobs(spark):
    """Count the Spark jobs started inside a block::

        with spark_jobs() as jobs:
            ...
        assert jobs.count == 0

    Compares the newest ``statusTracker`` job id (outside any job
    group) before and after the block, once the listener bus has
    drained, so it sees every job the block started, including
    broadcast and shuffle-map jobs. ``jobs.sites`` names each counted
    job by its call site (its final stage's name, e.g. ``collect at
    .../table.py:2490``), so a failed pin can say which call started
    the extra job: ``assert jobs.count <= 4, jobs.sites``."""
    from contextlib import contextmanager
    from types import SimpleNamespace

    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_id() -> int:
        bus.waitUntilEmpty()  # job starts reach the tracker asynchronously
        return max(tracker.getJobIdsForGroup(None), default=-1)

    def site(job_id: int) -> str:
        info = tracker.getJobInfo(job_id)
        stage = info and tracker.getStageInfo(max(info.stageIds))
        return stage.name if stage else "?"

    @contextmanager
    def counting():
        jobs = SimpleNamespace(count=None, sites=None)
        before = last_id()
        yield jobs
        after = last_id()
        jobs.count = after - before
        jobs.sites = [site(j) for j in sorted(tracker.getJobIdsForGroup(None))
                      if before < j <= after]

    return counting
