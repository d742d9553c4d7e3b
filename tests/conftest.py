from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_processor_spark.session import get_spark, jobs_in_group  # noqa: F401 — re-exported to the tests

SF_SMALL = "/root/testdata/sf0.001"


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
