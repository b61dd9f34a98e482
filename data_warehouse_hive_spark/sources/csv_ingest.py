"""CSV ingestion pipeline — the reference's flagship path, Spark-native.

Reference behavior being re-expressed (all cited file:line are in
/root/reference/):
  * delimiter sniffed over ",;\\t|" from a 1 KiB prefix
    (backend/csv_processor.py:25-34,89-91)
  * bounded schema inference: 1000-row sample, date parsing on
    (backend/csv_processor.py:94-103, backend/config.py:26)
  * table-name sanitization rules (backend/hive_manager.py:69-92) — kept,
    but the reference's Unix-time suffix is nondeterministic AND buggy
    (re-sanitizing on lookup generates a fresh suffix so lookups by
    original name can never match, hive_manager.py:109,124,390); here the
    suffix is opt-in and content-deterministic instead.
  * external table = metadata-only registration over files in object
    storage; dropping keeps data (backend/hive_manager.py:169-181,121)
  * header skip via table property (backend/hive_manager.py:180-181) →
    the `header` CSV option.

The reference's 3-process HTTP/Thrift topology (browser → Next.js tus →
Sanic → HiveServer2, reference backend/app.py:32-118) collapses into
`ingest_csv()` — one in-process call on a SparkSession.

Scale: inference reads ONLY the bounded sample (mirroring the reference's
sample discipline) and infers over it as a JVM-local dataset, so no
Python worker runs; registration moves no data; the actual reads are
distributed schema-on-read scans, splittable per file by Spark.

Per-call cost: at upload sizes every step is overhead-bound, so each
step is one statement the JVM parses, not a chain of Python Column
calls (each a py4j round trip).  Validation is one `selectExpr` of SQL
aggregate strings, which also quotes every header as an identifier (a
header such as `unit.price` is a column name, not struct access).  The
row count that validation takes is kept with the table as ingest-time
stats (`catalog.ROWS_PROPERTY` / `catalog.VERSION_PROPERTY`), keyed by
the file version seen before the scan, so `catalog.table_info` answers
COUNT(*) without a second scan while the file is unchanged.
"""

from __future__ import annotations

import csv as _csv
import io
import os
import re
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from data_warehouse_hive_spark.sources.catalog import (
    ROWS_PROPERTY,
    VERSION_PROPERTY,
    file_token,
)

SNIFF_DELIMITERS = ",;\t|"  # reference backend/csv_processor.py:29
SNIFF_PREFIX_BYTES = 1024  # reference backend/csv_processor.py:90
MAX_SAMPLE_ROWS = 1000  # reference backend/config.py:26
MAX_TABLE_NAME_LEN = 32  # reference backend/hive_manager.py:84-86


def sniff_delimiter(path_or_text: str, default: str = ",") -> str:
    """Detect the delimiter from a 1 KiB prefix over the reference's
    candidate set (csv.Sniffer, same as Polars' default behavior the
    reference relies on)."""
    if os.path.exists(path_or_text):
        with io.open(path_or_text, "r", errors="replace") as f:
            prefix = f.read(SNIFF_PREFIX_BYTES)
    else:
        prefix = path_or_text[:SNIFF_PREFIX_BYTES]
    try:
        return _csv.Sniffer().sniff(prefix, delimiters=SNIFF_DELIMITERS).delimiter
    except _csv.Error:
        return default


def sanitize_table_name(name: str, *, unique_suffix: bool = False) -> str:
    """Reference sanitize rules (backend/hive_manager.py:69-92), made
    deterministic: non-alnum → '_', digit-prefix → 'table_' prefix, empty →
    'table_unknown', truncate to 32 chars.  The reference appends a 6-digit
    Unix-time suffix unconditionally; that is opt-in here (and when used,
    callers should persist the result — see module docstring for the
    reference's re-sanitize lookup bug)."""
    sanitized = re.sub(r"[^a-zA-Z0-9_]", "_", name)
    if sanitized and sanitized[0].isdigit():
        sanitized = f"table_{sanitized}"
    if not sanitized:
        sanitized = "table_unknown"
    sanitized = sanitized[:MAX_TABLE_NAME_LEN]
    if unique_suffix:
        suffix = str(int(time.time()))[-6:]
        sanitized = f"{sanitized[: MAX_TABLE_NAME_LEN - 7]}_{suffix}"
    return sanitized


def normalize_upload_key(key: str) -> str:
    """Object-store key layout normalization (reference
    backend/csv_processor.py:43-71): a file uploaded at the prefix root,
    e.g. ``uploads/<id>.csv``, is addressed as ``uploads/<id>/<id>.csv``
    (directory-per-upload, so Spark/Hive can scan the directory).  Keys
    already in directory form pass through unchanged."""
    parts = key.split("/")
    fname = parts[-1]
    stem = os.path.splitext(fname)[0]
    if len(parts) >= 2 and parts[-2] == stem:
        return key
    return "/".join(parts[:-1] + [stem, fname])


def infer_csv_schema(
    spark: SparkSession,
    path: str,
    *,
    delimiter: str | None = None,
    header: bool = True,
    sample_rows: int = MAX_SAMPLE_ROWS,
) -> tuple[T.StructType, str]:
    """Bounded schema inference: infer from at most `sample_rows` rows
    (the Spark equivalent of the reference's 1000-row Polars inference
    window).  Returns (schema, delimiter).

    The bound is enforced on the INPUT, not the output: `inferSchema`
    runs its own pass over everything the reader can see, so a `.limit()`
    after `.csv(path)` would not bound the inference scan (it would scan
    the whole file and merely truncate the rows).  Instead the first
    N(+header) physical lines are read as text — a scan that stops early
    — and CSV inference runs on that sample only.  The sample goes back
    to the JVM as a local dataset (a `LocalRelation`, no Python worker
    runs) and Spark's CSV reader infers over it.  Assumes
    records are single-line (no embedded newlines in quoted fields),
    matching the reference's line-oriented sample.  At 100 TB this is
    what keeps ingest registration O(sample), not O(data).

    Scheme-agnostic: both the sample read and the delimiter sniff go
    through Spark's Hadoop filesystem layer, so `path` may be a local
    path, `file://`, `s3a://`, `hdfs://`, … — the reference's S3 GET
    prefix-sniff (backend/csv_processor.py:36-103) becomes a bounded
    `spark.read.text` against the same object store (see SCALING.md
    "Object-store ingest" for the s3a conf surface)."""
    n_lines = sample_rows + (1 if header else 0)
    lines = [r[0] for r in spark.read.text(path).limit(n_lines).collect()]
    delim = delimiter or sniff_delimiter("\n".join(lines[:50]))
    jvm = spark._jvm
    # One gateway call carries the whole sample (py4j would convert a
    # Python list one element per round trip); text-source lines never
    # hold a "\n", so the JVM-side split gives the same lines back.
    jlines = (
        jvm.java.util.regex.Pattern.compile("\n")
        .splitAsStream("\n".join(lines))
        .toList()
    )
    jsample = spark._jsparkSession.createDataset(
        jlines, jvm.org.apache.spark.sql.Encoders.STRING()
    )
    reader = spark.read.options(
        header=str(header).lower(),
        sep=delim,
        inferSchema="true",
        # Polars try_parse_dates=True equivalents:
        dateFormat="yyyy-MM-dd",
        timestampFormat="yyyy-MM-dd HH:mm:ss",
        nullValue="",
        samplingRatio="1.0",
    )
    # DataFrameReader.csv(Dataset[String]) — the call PySpark's own
    # .csv(rdd) makes, minus its Python mapPartitions hop.
    return reader._df(reader._jreader.csv(jsample)).schema, delim


def _sql_string(text: str) -> str:
    """`text` escaped for a single-quoted SQL string literal."""
    return text.replace("\\", "\\\\").replace("'", "\\'")


def _quote(name: str) -> str:
    """`name` as one backquoted SQL identifier, backquotes doubled."""
    return "`" + name.replace("`", "``") + "`"


class SchemaValidationError(ValueError):
    """Raised in strict mode when ingest-time validation fails — the twin
    of pandera's SchemaError surfacing through the reference pipeline
    (backend/csv_processor.py:136-145 raises; backend/app.py returns the
    error payload)."""


def validate_against_schema(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    delimiter: str = ",",
    header: bool = True,
) -> dict:
    """Declarative per-column validation of a CSV against its declared
    schema — the reference's Pandera step (backend/csv_processor.py:
    112-145: one inferred Column(type, nullable=True) per column,
    then `schema.validate(df)` over the loaded frame) re-expressed as
    ONE distributed aggregation pass.

    Semantics mirror the reference's inferred contract: every column is
    nullable (so empty cells are *counted*, never violations), and a
    type violation is a NON-EMPTY cell whose text does not parse as the
    declared type (`try_cast` → NULL).  Reading the file as all-strings
    and try_casting inside conditional aggregates keeps it a single
    narrow scan — no second typed read, no row materialization, O(cols)
    state per task — the shape that still works when the CSV is a 100 TB
    directory.

    The aggregates are SQL strings handed to one `selectExpr`, so the
    JVM parses the whole projection at once: `count(1)`, then per column
    `count_if(c IS NULL)` and `count_if(c IS NOT NULL AND try_cast(c AS
    type) IS NULL)`.  Every column name is a backquoted identifier
    (backquotes doubled), so headers holding `.`, spaces or backquotes
    are read as names.

    Returns {"status": "passed"|"failed", "rows": n, "columns":
    {name: {"type", "nullable", "null_count", "type_violations"}}}.
    """
    raw_schema = T.StructType(
        [T.StructField(f.name, T.StringType(), True) for f in schema.fields]
    )
    raw = spark.read.options(
        header=str(header).lower(), sep=delimiter, nullValue=""
    ).schema(raw_schema).csv(path)

    exprs = ["count(1)"]
    for f in schema.fields:
        c = _quote(f.name)
        exprs.append(f"count_if({c} IS NULL)")
        if isinstance(f.dataType, T.StringType):
            exprs.append("0L")
        else:
            exprs.append(
                f"count_if({c} IS NOT NULL AND "
                f"try_cast({c} AS {f.dataType.simpleString()}) IS NULL)"
            )
    row = raw.selectExpr(*exprs).collect()[0]
    cols = {
        f.name: {
            "type": f.dataType.simpleString(),
            "nullable": True,
            "null_count": row[1 + 2 * i],
            "type_violations": row[2 + 2 * i],
        }
        for i, f in enumerate(schema.fields)
    }
    failed = any(c["type_violations"] > 0 for c in cols.values())
    return {
        "status": "failed" if failed else "passed",
        "rows": row[0],
        "columns": cols,
    }


@dataclass
class IngestResult:
    """What the reference's POST /process-csv returns (backend/app.py:100-111),
    minus the HTTP envelope."""

    table_name: str
    location: str
    delimiter: str
    schema: T.StructType
    columns: list[dict[str, str]] = field(default_factory=list)
    validation: dict | None = None


def create_external_csv_table(
    spark: SparkSession,
    table_name: str,
    location: str,
    schema: T.StructType,
    *,
    delimiter: str = ",",
    header: bool = True,
    replace: bool = False,
    properties: dict[str, str] | None = None,
) -> None:
    """External (unmanaged) CSV table: metadata-only registration, data
    stays in place, DROP keeps the files — the Spark form of the
    reference's CREATE EXTERNAL TABLE ... ROW FORMAT DELIMITED ...
    LOCATION DDL (backend/hive_manager.py:169-181).

    `replace=True` is the reference's `drop_if_exists` re-ingestion path
    (backend/app.py:51,80-84 → hive_manager.py:120-133's DROP TABLE IF
    EXISTS before re-create): the external table's metadata is replaced
    while the data files stay in place.  Under the default, an existing
    table is a LOUD TableAlreadyExistsException — never an IF-NOT-EXISTS
    silence that would keep serving a stale schema after the underlying
    file changed.

    `properties` become the table's TBLPROPERTIES (`ingest_csv` records
    its ingest-time stats there)."""
    cols = ", ".join(
        f"{_quote(f.name)} {f.dataType.simpleString()}" for f in schema.fields
    )
    delim_sql = _sql_string(delimiter)
    tblprops = ""
    if properties:
        tblprops = " TBLPROPERTIES (" + ", ".join(
            f"'{_sql_string(k)}' = '{_sql_string(v)}'"
            for k, v in properties.items()
        ) + ")"
    if replace:
        spark.sql(f"DROP TABLE IF EXISTS `{table_name}`")
    spark.sql(
        f"CREATE TABLE `{table_name}` ({cols}) "
        f"USING CSV OPTIONS (header '{str(header).lower()}', sep '{delim_sql}') "
        f"LOCATION '{location}'{tblprops}"
    )


def create_managed_table(
    spark: SparkSession, df: DataFrame, table_name: str, *, format: str = "parquet"
) -> None:
    """Managed table (engine-owned storage) — the reference's fallback path
    (backend/hive_manager.py:234-264).  Parquet-first per our standard."""
    df.write.format(format).mode("errorifexists").saveAsTable(table_name)


def insert_into(spark: SparkSession, df: DataFrame, table_name: str) -> None:
    """Batched INSERT sink (reference backend/hive_manager.py:282-332 does
    10k-row VALUES batches with per-row fallback; Spark task batching +
    retry subsumes both)."""
    df.write.insertInto(table_name)


def ingest_csv(
    spark: SparkSession,
    path: str,
    table_name: str | None = None,
    *,
    header: bool = True,
    delimiter: str | None = None,
    validate: bool = False,
    strict: bool = False,
    replace: bool = False,
) -> IngestResult:
    """The end-to-end pipeline (reference backend/app.py:32-118, steps
    numbered :61-98): sniff → bounded inference → [validation] →
    external-table registration → refresh.  One in-process call; no data
    is moved.

    `validate=True` runs the declarative per-column check
    (`validate_against_schema`) the reference's pipeline performs via
    Pandera between inference and table creation (backend/app.py:61-98
    step comments; backend/csv_processor.py:112-145) and attaches the
    result to `IngestResult.validation`.  `strict=True` additionally
    raises SchemaValidationError on failure — the reference's behavior,
    where a pandera SchemaError aborts processing.  Its row count is
    registered with the table as ingest-time stats, keyed by the file
    version taken before the scan, for `catalog.table_info` to serve
    while that version holds; a path that is not a local file records
    none.

    `replace=True` is the reference's `drop_if_exists` knob
    (backend/app.py:51, dropped before re-create at :80-84): re-ingesting
    a path whose file/schema changed serves the NEW schema.  Under the
    default, hitting an existing table raises loudly instead of silently
    keeping the stale definition."""
    name = sanitize_table_name(
        table_name or os.path.splitext(os.path.basename(path))[0]
    )
    schema, delim = infer_csv_schema(
        spark, path, delimiter=delimiter, header=header
    )
    validation = None
    stats = None
    if validate:
        # the file version the count below is true for, taken before
        # the scan so a rewrite during it is not mistaken for this one
        token = file_token(path)
        validation = validate_against_schema(
            spark, path, schema, delimiter=delim, header=header
        )
        if strict and validation["status"] == "failed":
            bad = {
                k: v["type_violations"]
                for k, v in validation["columns"].items()
                if v["type_violations"]
            }
            raise SchemaValidationError(
                f"schema validation failed for {path}: type violations {bad}"
            )
        if token is not None:
            stats = {
                ROWS_PROPERTY: str(validation["rows"]),
                VERSION_PROPERTY: token,
            }
    create_external_csv_table(
        spark, name, path, schema, delimiter=delim, header=header,
        replace=replace, properties=stats,
    )
    # MSCK REPAIR / REFRESH equivalent (reference backend/app.py:98)
    spark.sql(f"REFRESH TABLE `{name}`")
    return IngestResult(
        table_name=name,
        location=path,
        delimiter=delim,
        schema=schema,
        columns=[
            {"name": f.name, "spark_type": f.dataType.simpleString()}
            for f in schema.fields
        ],
        validation=validation,
    )
