import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jorvik_spark.session import get_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_session("jorvik_spark_tests")
    yield s


@pytest.fixture
def few_shuffle_partitions(spark):
    """Four shuffle partitions for the test, restored after it: a stateful
    drain over one or two keys then runs four state stores per micro-batch
    instead of the session's 32."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)``: the Spark jobs ``fn()`` submits, counted with
    ``statusTracker`` under a fresh job group."""

    def count(fn) -> int:
        sc = spark.sparkContext
        group = f"count-jobs-{uuid.uuid4()}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
