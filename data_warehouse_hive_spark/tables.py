"""Fixture-table access.

The driver materializes a TPC-H-ish star schema plus ``events`` /
``documents`` / ``embeddings`` as one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/`` (see TESTDATA.md / FIXTURES.md).
Every query callable receives ``(spark, sf_dir)`` and reads lazily from
here — scans stay declarative so Catalyst applies column pruning and
predicate pushdown into the parquet reader.

Each table's schema is held per session and per file version, the way a
catalog holds it (``parquet_schema``): the first read of a file infers
the schema from its footer, which costs one Spark job; every later read
passes that schema to the reader and runs no inference job.

That store is ``session_memo``, the package's one memo: it also holds
the shared indexes several queries build from the same tables (LSH
candidate pairs, k-means and LPA fixpoints, kNN graphs, evaluation
top-k lists, BPE merges), each keyed by the version of the files it
reads so a rewritten table is never served stale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _file_version(path: str) -> tuple:
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    version = []
    for root, _, names in os.walk(path):
        for n in names:
            f = os.path.join(root, n)
            st = os.stat(f)
            version.append((f, st.st_mtime_ns, st.st_size))
    return tuple(sorted(version))


_MEMO: dict[tuple, object] = {}
memo_misses = 0


def session_memo(spark: SparkSession, key: tuple, build, reads=()):
    """`build()`, run at most once per session and version of the files
    it reads.

    The package's one "build once per session" store: inferred parquet
    schemas, and the checkpointed indexes and driver-side fixpoints that
    several queries share (LSH candidate pairs, converged k-means and
    LPA, evaluation top-k lists, kNN graphs, learned BPE merges).
    Memoizing is sound because every build is deterministic — a pure
    function of the files it reads — so sharing one result cannot
    change any consumer's answer; a production system likewise builds
    such an index once per corpus version and persists it, which the
    per-session entry (often a localCheckpoint) models.

    An entry is keyed by ``(applicationId, key, file versions)``, where
    `key` names the value (e.g. ``("pairs", sf_dir)``) and `reads` lists
    the table paths the build reads; a rewritten file is a new version,
    so it is never served stale.  The session conf the builds depend on
    (nanosAsLong, timezone) is pinned by get_spark / ensure_engine_conf,
    so the applicationId stands in for it.  On a miss every entry that
    can never hit again is dropped — another session's, and older file
    versions of `key` — before `build()` runs; a build may itself call
    session_memo.
    """
    global memo_misses
    app = spark.sparkContext.applicationId
    full = (app, key, tuple(_file_version(p) for p in reads))
    if full in _MEMO:
        return _MEMO[full]
    memo_misses += 1
    for stale in [k for k in _MEMO if k[0] != app or k[1] == key]:
        del _MEMO[stale]
    value = _MEMO[full] = build()
    return value


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet file at `path`, inferred
    once per session and file version."""
    return session_memo(
        spark, ("schema", path), lambda: spark.read.parquet(path).schema,
        reads=(path,),
    )


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a lazy DataFrame.

    The schema comes from `parquet_schema`: held per session and file
    version like a catalog entry, so only the first read of a file runs a
    footer-inference job and every later read runs none.

    `events.ts` is nanosecond-precision in the parquet file, which Spark's
    reader rejects (PARQUET_TYPE_ILLEGAL) unless nanos are read as long
    (conf set in session.ensure_engine_conf); the raw nanos are truncated
    to microseconds here — the same truncation DuckDB applies when casting
    TIMESTAMP_NS → TIMESTAMP — so both engines see identical values.
    """
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    path = table_path(sf_dir, name)
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # integer division — a double division would lose precision
            # (ns epoch values exceed 2^53)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            # Spark 4.1 reads the ns column natively as TIMESTAMP_NTZ
            # (nanosAsLong is ignored).  Normalize to the session-zoned
            # TIMESTAMP every query was written against — the session tz
            # is pinned to UTC (ensure_engine_conf), so the NTZ wall time
            # maps to the identical microsecond instant and NTZ-illegal
            # ops (cast to double, unix_timestamp) keep working.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql queries."""
    for name in TABLES:
        t(spark, sf_dir, name).createOrReplaceTempView(name)


def spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition a narrow scan across the cluster IF its source
    parallelism is below the core count — else pass through untouched.

    Parquet splits cannot cut inside a row group, so a table written as
    one row group scans on ONE core no matter how many are free; any
    per-row compute layered on that scan (md5, regex, shingling)
    serializes with it.  When that's detected (source file count well
    below the core count — file count, not partition count, because
    `df.rdd.getNumPartitions()` costs ~0.1-0.8 s of driver-side plan
    conversion while `inputFiles()` is a cached listing), a round-robin
    repartition of the *pruned* columns costs one small shuffle and
    unlocks full-width execution.  On a real many-file layout (any
    at-scale writer produces ≥ one file per task) the condition is false
    and no shuffle is ever added.  Call AFTER selecting the needed
    columns so only those bytes shuffle.
    """
    want = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) * 4 <= want:
        return df.repartition(want)
    return df
