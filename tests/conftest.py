import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from finance_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn, *args)`` -> (fn's result, Spark jobs it launched),
    counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext

    def run(fn, *args):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count")
        try:
            out = fn(*args)
            return out, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    return run
