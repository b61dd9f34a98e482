"""The catalog-held parquet schema behind `tables.t`: repeat reads run no
inference job, a rewritten file is re-inferred, and entries of another
session are evicted."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from data_warehouse_hive_spark import tables
from data_warehouse_hive_spark.tables import parquet_schema, t, table_path


def test_repeat_read_runs_no_spark_job(spark, sf_dir, jobs_run_by):
    t(spark, sf_dir, "lineitem")
    jobs = jobs_run_by(
        "tables-repeat-read", lambda: t(spark, sf_dir, "lineitem").schema
    )
    assert jobs == []


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_file_serves_new_schema(spark, tmp_path, layout):
    """Rewriting the parquet file in place, also a part file inside a
    table directory (whose own stat does not change), serves the new
    schema."""
    table = table_path(str(tmp_path), "region")
    path = table
    if layout == "directory":
        os.mkdir(table)
        path = os.path.join(table, "part-0.parquet")
    pd.DataFrame({"r_regionkey": [0, 1], "r_name": ["A", "B"]}).to_parquet(path)
    assert t(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]

    pd.DataFrame(
        {"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_comment": ["x", "y"]}
    ).to_parquet(path)
    assert parquet_schema(spark, table).fieldNames() == [
        "r_regionkey", "r_name", "r_comment"
    ]
    rows = t(spark, str(tmp_path), "region").orderBy("r_regionkey").collect()
    assert [r.r_comment for r in rows] == ["x", "y"]


def test_other_session_entries_evicted(spark, tmp_path):
    path = str(tmp_path / "one.parquet")
    pd.DataFrame({"a": [1]}).to_parquet(path)
    stale = ("app-of-a-stopped-session", path, (0, 0))
    tables._SCHEMA_CACHE[stale] = parquet_schema(spark, path)

    other = str(tmp_path / "two.parquet")
    pd.DataFrame({"b": [1]}).to_parquet(other)
    parquet_schema(spark, other)

    assert stale not in tables._SCHEMA_CACHE
    app = spark.sparkContext.applicationId
    assert {k[1] for k in tables._SCHEMA_CACHE if k[0] == app} >= {path, other}
