"""Shared fixtures: one SparkSession per test session, DuckDB oracle
connections per scale factor.

Default correctness SF for local tests is sf0.001 (fast); set
TEST_SF_DIR=/root/testdata/sf0.01 to run the same suite at the driver's
correctness scale.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_warehouse_hive_spark.registry import load_all  # noqa: E402
from data_warehouse_hive_spark.session import get_spark  # noqa: E402
from data_warehouse_hive_spark.testing import duckdb_connection  # noqa: E402

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dwh-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb_connection(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="session")
def registry():
    return load_all()


@pytest.fixture(scope="session")
def jobs_run_by(spark):
    """`jobs_run_by(group, fn)` runs `fn` under a Spark job group and
    returns the ids of the jobs it started."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    return run
