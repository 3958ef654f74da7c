from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_graph_native_database__spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` → (fn(), number of Spark jobs fn started).

    Calls nest: an inner call's jobs count only for the inner call, and
    the outer group is restored when it returns."""
    import uuid

    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description")

    def run(fn):
        group = f"spark-jobs-{uuid.uuid4().hex}"
        outer = [sc.getLocalProperty(key) for key in keys]
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for key, value in zip(keys, outer):
                sc.setLocalProperty(key, value)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
