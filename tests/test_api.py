"""Endpoint-parity facade: each reference route's library twin returns
the reference's response SHAPE (top-level keys + nesting), so a client
ports by swapping the HTTP call for a function call."""

from __future__ import annotations

import os

import pytest

from data_warehouse_hive_spark import api
from data_warehouse_hive_spark.sources import catalog as cat


def _write_csv(tmp_path):
    p = str(tmp_path / "people.csv")
    with open(p, "w") as f:
        f.write("id,name,score,joined\n")
        f.write("1,alice,9.5,2024-01-02\n")
        f.write("2,bob,7.25,2024-02-03\n")
        f.write("3,carol,8.0,2024-03-04\n")
    return p


def test_process_csv_response_shape(spark, tmp_path):
    p = _write_csv(tmp_path)
    out = api.process_csv(spark, p, "api_people")
    # reference success payload keys (backend/app.py:100-111)
    assert out["status"] == "success"
    assert out["table_name"] == "api_people"
    assert out["table_type"] == "external"
    assert out["schema_columns"] == 4
    assert {c["name"] for c in out["columns"]} == {"id", "name", "score", "joined"}
    assert out["has_header"] is True and out["sample_file_size_mb"] is not None
    # and the table actually answers queries
    assert spark.table("api_people").count() == 3
    spark.sql("DROP TABLE IF EXISTS api_people")


def test_health_shape(spark):
    out = api.health(spark)
    assert out["status"] == "healthy"
    assert set(out["connections"]) == {"engine", "catalog"}
    assert all(v == "connected" for v in out["connections"].values())


def test_schema_preview_shape(spark, tmp_path):
    p = _write_csv(tmp_path)
    out = api.schema_preview(spark, p)
    assert out["sample_rows"] == 3 and out["columns"] == 4
    assert out["schema"]["id"]["hive_type"] in ("INT", "BIGINT")
    assert out["schema"]["score"]["hive_type"] == "DOUBLE"
    assert out["schema"]["name"]["hive_type"] == "STRING"
    assert out["schema"]["joined"]["hive_type"] == "DATE"
    assert "id" in out["statistics"] and "null_count" in str(out["statistics"]["id"]) or out["statistics"]["id"]


def test_table_info_shape(spark, tmp_path):
    p = _write_csv(tmp_path)
    api.process_csv(spark, p, "api_info_t")
    try:
        out = api.table_info(spark, "api_info_t")
        assert out["row_count"] == 3
        assert out["is_external"] is True
        assert {c["name"] for c in out["columns"]} >= {"id", "name"}
        assert out["sanitized_name"] == "api_info_t"
    finally:
        spark.sql("DROP TABLE IF EXISTS api_info_t")


def test_upload_status_lifecycle(spark, tmp_path):
    """Reference upload-status contract: success path carries
    completedAt, failure path carries the error, unknown id 404-shapes
    (frontend .../upload-status/[id]/route.ts:1-60)."""
    from data_warehouse_hive_spark import api

    csv = tmp_path / "ok.csv"
    csv.write_text("a,b\n1,x\n2,y\n")
    uid = api.process_csv_tracked(spark, str(csv), "upload_ok_t")
    st = api.upload_status(uid)
    assert st["status"] == "success" and st["uploadId"] == uid
    assert st["completedAt"]

    bad_uid = api.process_csv_tracked(spark, str(tmp_path / "missing.csv"))
    st_bad = api.upload_status(bad_uid)
    assert st_bad["status"] == "error" and st_bad["error"]

    assert api.upload_status("nope") == {"error": "Upload not found"}
    spark.sql("DROP TABLE IF EXISTS upload_ok_t")


def test_list_tables_shape(spark, tmp_path):
    """GET /tables twin (reference backend/app.py:182-202): payload is
    {database, tables, count} with count == len(tables) and a created
    table visible in the list."""
    p = _write_csv(tmp_path)
    api.process_csv(spark, p, "api_list_t")
    try:
        out = api.list_tables(spark)
        assert set(out) == {"database", "tables", "count"}
        assert out["count"] == len(out["tables"])
        assert "api_list_t" in out["tables"]
        assert isinstance(out["database"], str) and out["database"]
    finally:
        spark.sql("DROP TABLE IF EXISTS api_list_t")


def test_drop_table_shape(spark, tmp_path):
    """DELETE /table/<name> twin (reference backend/app.py:218-234):
    success payload is {status, message}; the table is really gone; a
    second drop of the now-missing table still succeeds (DROP TABLE IF
    EXISTS semantics, reference hive_manager.py:120-139)."""
    p = _write_csv(tmp_path)
    api.process_csv(spark, p, "api_drop_t")
    out = api.drop_table(spark, "api_drop_t")
    assert out == {
        "status": "success",
        "message": "Table api_drop_t dropped successfully",
    }
    assert "api_drop_t" not in api.list_tables(spark)["tables"]
    again = api.drop_table(spark, "api_drop_t")
    assert again["status"] == "success"


# --- table_info row counts from ingest-time stats ----------------------------
# A validated upload has counted its rows already; table_info serves that
# count while the file version it was taken at still holds.

def _write_rows(path, n):
    with open(path, "w") as f:
        f.write("id,v\n" + "".join(f"{i},{i * 1.5}\n" for i in range(n)))


def test_table_info_counts_from_ingest_stats(spark, tmp_path, jobs_run_by):
    p = str(tmp_path / "stats.csv")
    _write_rows(p, 7)
    api.process_csv(spark, p, "api_stats_t", validate=True)
    try:
        out = {}
        jobs = jobs_run_by(
            "info-from-stats",
            lambda: out.update(api.table_info(spark, "api_stats_t")),
        )
        assert jobs == []
        assert out["row_count"] == 7
    finally:
        spark.sql("DROP TABLE IF EXISTS api_stats_t")


def test_table_info_recounts_rewritten_file(spark, tmp_path):
    p = str(tmp_path / "rewritten.csv")
    _write_rows(p, 7)
    api.process_csv(spark, p, "api_rewritten_t", validate=True)
    try:
        _write_rows(p, 12)
        assert api.table_info(spark, "api_rewritten_t")["row_count"] == 12
    finally:
        spark.sql("DROP TABLE IF EXISTS api_rewritten_t")


def test_table_info_counts_without_validation(spark, tmp_path):
    p = str(tmp_path / "unvalidated.csv")
    _write_rows(p, 9)
    api.process_csv(spark, p, "api_unvalidated_t", validate=False)
    try:
        assert api.table_info(spark, "api_unvalidated_t")["row_count"] == 9
    finally:
        spark.sql("DROP TABLE IF EXISTS api_unvalidated_t")


def test_process_csv_header_with_dot_and_space(spark, tmp_path):
    """`unit.price` is one column name, not struct access."""
    p = str(tmp_path / "odd_header.csv")
    with open(p, "w") as f:
        f.write("id,unit.price,qty n\n1,2.5,3\n2,,x\n3,4.0,5\n")
    out = api.process_csv(spark, p, "api_odd_header", validate=True)
    try:
        cols = out["validation"]["columns"]
        assert cols["unit.price"]["null_count"] == 1
        assert cols["unit.price"]["type_violations"] == 0
        assert api.table_info(spark, "api_odd_header")["row_count"] == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS api_odd_header")


# --- database-qualified table names ("db.table") ----------------------------

@pytest.fixture
def other_db_table(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS api_other")
    spark.sql("CREATE TABLE api_other.t USING parquet AS SELECT 1 AS a, 'x' AS b")
    yield "api_other.t"
    spark.sql("DROP DATABASE IF EXISTS api_other CASCADE")


def test_table_info_qualified_name(spark, other_db_table):
    out = api.table_info(spark, other_db_table)
    assert out["row_count"] == 1
    assert out["columns"] == [
        {"name": "a", "type": "int"}, {"name": "b", "type": "string"}
    ]
    assert out["is_external"] is False


def test_drop_table_qualified_name(spark, other_db_table):
    out = api.drop_table(spark, other_db_table)
    assert out["status"] == "success"
    assert not spark.catalog.tableExists(other_db_table)


def test_describe_qualified_name(spark, other_db_table):
    assert cat.describe(spark, other_db_table) == [
        {"col_name": "a", "data_type": "int", "comment": ""},
        {"col_name": "b", "data_type": "string", "comment": ""},
    ]
