from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from shards_prometheus_spark.session import get_spark

    spark = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    from tools.parity import duck_connection

    return duck_connection(SF_SMOKE)


def count_spark_jobs(spark, fn):
    """Run `fn()` under a fresh Spark job group on this thread →
    (its result, the number of Spark jobs it ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count_spark_jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
