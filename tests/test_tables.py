"""The session memo behind `tables.t` and the shared indexes: repeat
reads run no inference job, a rewritten file is re-inferred and rebuilds
what was built from it, and entries that can never hit again are
evicted."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from data_warehouse_hive_spark import tables
from data_warehouse_hive_spark.extensions.dedup import (
    candidate_pairs_cached,
    minhash_candidate_pairs,
)
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
    """A miss drops the entries that can never hit again: another
    session's, and an older file version of the same key."""
    path = str(tmp_path / "one.parquet")
    pd.DataFrame({"a": [1]}).to_parquet(path)
    stale = ("app-of-a-stopped-session", ("schema", path), ((0, 0),))
    tables._MEMO[stale] = parquet_schema(spark, path)
    app = spark.sparkContext.applicationId
    (first,) = [k for k in tables._MEMO if k[:2] == (app, ("schema", path))]

    other = str(tmp_path / "two.parquet")
    pd.DataFrame({"b": [1]}).to_parquet(other)
    parquet_schema(spark, other)

    assert stale not in tables._MEMO
    assert {k[1] for k in tables._MEMO if k[0] == app} >= {
        ("schema", path), ("schema", other)
    }

    pd.DataFrame({"a": [1, 2], "c": [3, 4]}).to_parquet(path)
    parquet_schema(spark, path)
    assert first not in tables._MEMO


def test_rewritten_documents_rebuild_candidate_pairs(spark, tmp_path):
    """The LSH candidate-pair memo is keyed by the documents file
    version: after the file is rewritten in place, the same session gets
    the pairs of the new corpus, not the memoized ones."""
    src = pq.read_table(table_path(tables.DEFAULT_SF_DIR, "documents"))
    path = table_path(str(tmp_path), "documents")
    pq.write_table(src, path)
    n_full = candidate_pairs_cached(spark, str(tmp_path)).count()

    pq.write_table(src.slice(0, src.num_rows // 2), path)
    fresh = minhash_candidate_pairs(t(spark, str(tmp_path), "documents"))
    n_half = fresh.count()
    assert n_half != n_full
    assert candidate_pairs_cached(spark, str(tmp_path)).count() == n_half
