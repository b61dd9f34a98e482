"""Catalog operations — the reference's table-management surface, on
`spark.catalog` / `spark.sql` (reference citations per function).

These are metadata-only operations: none of them touch data files except
`table_info`'s row count (which the reference also runs — the only real
query its backend ever issues, backend/hive_manager.py:400-401).  Listing
and describe are driver-side commands (`SHOW TABLES`, `DESCRIBE TABLE`)
that start no Spark job; `spark.catalog.listTables` / `listColumns`
would drain their results through `toLocalIterator`, one job per
partition.

Row counts come from ingest-time stats where they are still true, the
way Hive keeps `numRows` in its metastore.  A validated ingest has
already counted the file, so `csv_ingest.ingest_csv` registers the table
with two table properties: the row count (`ROWS_PROPERTY`) and a token of
the file version it counted (`VERSION_PROPERTY`, from `file_token`).
`table_info` serves the stored count only while the token of the
table's location still matches; a rewritten file, a table without the
properties, or a location that is not a local file falls back to a
`COUNT(*)` scan.  The stats belong to the table definition: they persist
with it in a Hive metastore and go away with DROP TABLE.

Table names may be qualified (`db.table`): every statement quotes them
through `_ident`, one backquoted identifier per dot-separated part.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import Row, SparkSession

from data_warehouse_hive_spark.tables import _file_version

_DETAIL_MARKER = "# Detailed Table Information"
ROWS_PROPERTY = "dwh.ingest.rows"
VERSION_PROPERTY = "dwh.ingest.file_version"


def file_token(location: str) -> str | None:
    """A short digest of the file version at `location` (a local path or
    a `file:` URI), by the session memo's rule (mtime and size of each
    file); None when it is not a local file that can be stat'ed."""
    uri = urlparse(location)
    if uri.scheme == "file":
        location = unquote(uri.path)
    elif uri.scheme:
        return None
    try:
        version = _file_version(os.path.abspath(location))
    except OSError:
        return None
    return hashlib.sha1(repr(version).encode()).hexdigest()[:16]


def _ident(name: str) -> str:
    """`db`.`table` SQL form of a possibly qualified table name."""
    return ".".join(f"`{part.replace('`', '``')}`" for part in name.split("."))


def show_tables(spark: SparkSession, database: str | None = None) -> list[str]:
    """SHOW TABLES (reference backend/app.py:186-195).  Temp views are
    listed too, as `spark.catalog.listTables` lists them."""
    in_db = f" IN {_ident(database)}" if database else ""
    return [r["tableName"] for r in spark.sql(f"SHOW TABLES{in_db}").collect()]


def table_exists(spark: SparkSession, name: str) -> bool:
    """SHOW TABLES LIKE '<name>' existence check
    (reference backend/hive_manager.py:105-118)."""
    return spark.catalog.tableExists(name)


def drop_table(spark: SparkSession, name: str, if_exists: bool = True) -> bool:
    """DROP TABLE [IF EXISTS] — for external tables this removes metadata
    only, data files stay (reference backend/hive_manager.py:120-133)."""
    existed = table_exists(spark, name)
    clause = "IF EXISTS " if if_exists else ""
    spark.sql(f"DROP TABLE {clause}{_ident(name)}")
    return existed


def _columns(rows: list[Row]) -> list[dict[str, str]]:
    """The column rows of a DESCRIBE TABLE result: those before the first
    blank or `#`-prefixed `col_name` (partition columns are repeated
    after a `# Partition Information` header)."""
    cols = []
    for r in rows:
        if not r["col_name"] or r["col_name"].startswith("#"):
            break
        cols.append({
            "col_name": r["col_name"],
            "data_type": r["data_type"],
            "comment": r["comment"] or "",
        })
    return cols


def describe(spark: SparkSession, name: str) -> list[dict[str, str]]:
    """DESCRIBE — column name/type/comment rows
    (reference backend/hive_manager.py:396-407)."""
    return _columns(spark.sql(f"DESCRIBE TABLE {_ident(name)}").collect())


def repair_table(spark: SparkSession, name: str) -> None:
    """MSCK REPAIR TABLE / partition re-sync after external file changes
    (reference backend/hive_manager.py:334-349, invoked backend/app.py:98).
    For unpartitioned external tables REFRESH drops the stale file-listing
    cache; for partitioned ones recoverPartitions re-syncs the metastore."""
    try:
        spark.catalog.recoverPartitions(name)
    except Exception:
        # unpartitioned tables: only the file cache needs refreshing
        pass
    spark.sql(f"REFRESH TABLE {_ident(name)}")


@dataclass
class TableInfo:
    name: str
    columns: list[dict[str, str]]
    row_count: int
    is_external: bool
    location: str | None


def _table_properties(text: str | None) -> dict[str, str]:
    """The `[k1=v1, k2=v2]` value of DESCRIBE's `Table Properties` row."""
    pairs = (text or "").strip("[]").split(", ")
    return dict(p.split("=", 1) for p in pairs if "=" in p)


def table_info(spark: SparkSession, name: str) -> TableInfo:
    """Schema + row count + external flag (reference
    backend/app.py:204-216 → backend/hive_manager.py:386-418: DESCRIBE,
    SELECT COUNT(*), DESCRIBE FORMATTED + 'EXTERNAL' scrape).  One
    DESCRIBE TABLE EXTENDED serves the columns, the detail and the
    ingest-time stats.

    The row count is the stored one only while the file version it was
    counted at still matches the table's location (module docstring);
    otherwise it is a `COUNT(*)` over the table, two Spark jobs."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {_ident(name)}").collect()
    marker = next(
        (i for i, r in enumerate(rows) if r["col_name"] == _DETAIL_MARKER),
        len(rows),
    )
    detail = {r["col_name"]: r["data_type"] for r in rows[marker + 1:]}
    table_type = (detail.get("Type") or "").upper()
    location = detail.get("Location")
    props = _table_properties(detail.get("Table Properties"))
    stored = props.get(VERSION_PROPERTY)
    if stored and location and file_token(location) == stored:
        row_count = int(props[ROWS_PROPERTY])
    else:
        row_count = spark.table(name).count()
    return TableInfo(
        name=name,
        columns=_columns(rows),
        row_count=row_count,
        is_external=table_type == "EXTERNAL",
        location=location,
    )


def health_check(spark: SparkSession) -> dict[str, bool]:
    """Connectivity self-check: SELECT 1 + catalog reachability (reference
    backend/app.py:120-147, backend/hive_manager.py:150-154)."""
    ok_engine = spark.sql("SELECT 1 AS ok").collect()[0]["ok"] == 1
    ok_catalog = isinstance(spark.catalog.currentDatabase(), str)
    return {"engine": ok_engine, "catalog": ok_catalog}
