"""SparkSession factory tuned for the target deployment.

The reference delegates execution to a deployed Hive 4.1.0
(reference: docker/docker-compose.yml:73-105); here the engine IS Spark, so
session construction carries the performance posture: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow transfers for
any pandas exchange, UTC session time so timestamp semantics are stable
across engines, and shuffle partitioning sized from the environment.

At 100 TB on a real cluster the same builder applies — only master() and the
shuffle-partition count change (cores × ~2-3 tasks per core); everything
else (AQE, broadcast thresholds, Arrow) scales as-is.

PySpark's DataFrame call-site capture is off in sessions `get_spark`
builds (`spark.python.sql.dataFrameDebugging.enabled=false`).  With it
on, every Column and DataFrame method runs through a wrapper that reads
a conf, looks up a JVM class, walks the Python stack and sets then
clears the origin on the JVM: `F.col` costs 13 py4j round trips instead
of 3, and building a query plan is dominated by that chatter.  What is
lost is the Python `file:line` fragment in the DataFrameQueryContext of
a runtime error; the error class and message are unchanged.  The key is
a static conf, so it can only be set here, in the builder;
`ensure_engine_conf` cannot retrofit it, and a session built elsewhere
(an external driver's) keeps PySpark's default.  PySpark reads the flag
once per process, from the first active session that asks.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "data-warehouse-hive-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    enable_hive: bool = False,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    `enable_hive=True` backs the catalog with a Hive metastore (the
    reference's architecture — HiveServer2 + metastore at reference
    docker/docker-compose.yml:24-105 — collapses to
    `spark.sql.catalogImplementation=hive`; point
    `spark.hadoop.javax.jdo.option.ConnectionURL` at Postgres in
    production, embedded Derby locally).  All query semantics here are
    catalog-independent; Hive mode adds metastore-persistent tables.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no Python call-site capture per Column/DataFrame call (module
        # docstring); static, so it cannot be set after the build
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # local default 16m: sf0.1 files are a few tens of MB, so 128m (the
        # right value for a real cluster against 100 TB) would scan in 2-3
        # tasks and idle 29 of 32 cores; env-overridable for deployment
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)),
        )
        # ns-precision parquet timestamps (events.ts) are otherwise illegal
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # runtime bloom-filter semi-join reduction: when a selective dim
        # filter survives a non-broadcast join, inject might_contain() on
        # the fact scan.  Default size thresholds are kept (creation side
        # ≤10MB, application side ≥10GB) so this only fires in the
        # shuffle-join regime it is built for — i.e. at scale, not on
        # local fixtures; tests/test_plans.py pins the injection with
        # thresholds overridden.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    if enable_hive:
        builder = builder.config(
            "spark.sql.catalogImplementation", "hive"
        ).enableHiveSupport()
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def s3a_conf(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    *,
    path_style_access: bool | None = None,
    max_connections: int = 200,
) -> dict[str, str]:
    """Object-store (s3a://) session conf — the topology the reference
    actually deploys (MinIO service + boto3 client, reference
    docker/docker-compose.yml:125, backend/csv_processor.py:36-71),
    expressed as the Hadoop-S3A keys a Spark build consumes.

    * `endpoint` set → MinIO/on-prem mode: endpoint override +
      path-style addressing (virtual-host style needs wildcard DNS,
      which MinIO deployments rarely have).  Omitted → AWS mode.
    * Static credentials only when BOTH keys are given; otherwise the
      provider chain (instance profile / env / web identity) applies.
    * Committer: the zero-rename S3A "magic" committer — task output
      goes up as uncommitted multipart uploads completed at job commit.
      The default rename-based FileOutputCommitter on S3 is an O(data)
      server-side copy AND non-atomic; at 100 TB that is the difference
      between a commit taking seconds and taking hours (SCALING.md
      "Object-store ingest").
    * Listing/read tuning: connection pool sized for many concurrent
      tasks per host; sequential fadvise for full-scan CSV/Parquet.

    Pass the result as `get_spark(extra_conf=s3a_conf(...))`; every
    `path`-taking API in this package is scheme-agnostic, so `s3a://`
    URIs then flow through ingest/scan/write unchanged.
    """
    conf: dict[str, str] = {
        # zero-rename commit path
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
        "spark.sql.sources.commitProtocolClass":
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
        "spark.sql.parquet.output.committer.class":
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
        # listing + read tuning
        "spark.hadoop.fs.s3a.connection.maximum": str(max_connections),
        "spark.hadoop.fs.s3a.experimental.input.fadvise": "sequential",
    }
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
        if path_style_access is None:
            path_style_access = True
    if path_style_access:
        conf["spark.hadoop.fs.s3a.path.style.access"] = "true"
    if access_key and secret_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
        conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
        )
    return conf


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally-provided session.

    The verification driver constructs its own SparkSession; these confs are
    all runtime-mutable and make query results deterministic (UTC timestamps)
    and well-planned (AQE) regardless of how the session was built.
    """
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.optimizer.runtime.bloomFilter.enabled", "true"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf may be static in some builds
            pass
    return spark


@contextmanager
def conf_scope(spark: SparkSession, settings: dict[str, str]):
    """Set runtime conf for the body of a `with` block, then restore each
    prior value; a key that was unset before is unset again."""
    prior = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
