from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from ed_twitter_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s


def jobs_of(spark, fn):
    """``(fn(), number of Spark jobs fn started)``, counted under a job
    group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4()}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
