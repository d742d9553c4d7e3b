from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_processor_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"


def jobs_in_group(spark, group, fn):
    """(fn(), number of Spark jobs fn ran), counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    # local[$SPARK_GRAFT_CPUS] (8 when unset), shuffle partitions 2 x cpus
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("pytest")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL
