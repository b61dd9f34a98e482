"""True Structured Streaming pipelines — SURVEY.md §2.10 extension.

The reference has no streaming surface (request-driven batch only); these
are the streaming twins of the batch time-window queries in
time_windows.py, built on readStream → event-time windows + watermark →
writeStream.  Tests drive them with Trigger.AvailableNow over parquet
input (one bounded run through the real streaming engine — micro-batch
planner, state store, watermark bookkeeping).

At scale: file/Kafka source partitions map to tasks; the windowed
aggregation keeps per-(window, key) state in the state store, pruned by
the watermark — the watermark delay bounds state size, which is the knob
that keeps unbounded streams at bounded memory on a 1000-executor
cluster.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from data_warehouse_hive_spark.tables import parquet_schema


def read_events_stream(
    spark: SparkSession, path: str, schema=None, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream (each new parquet file = new micro-batch
    input; swap for Kafka in production — the downstream plan is
    unchanged)."""
    reader = spark.readStream
    if schema is None:
        # streaming requires a fixed schema: the one tables.t holds for
        # this file version (a bounded batch inference on first use)
        schema = parquet_schema(spark, path)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(path):
        # the file-stream source requires a directory; expose a single
        # fixture file through a symlinked staging dir
        staging = tempfile.mkdtemp(prefix="dwh_stream_src_")
        os.symlink(os.path.abspath(path), os.path.join(staging, os.path.basename(path)))
        path = staging
    stream = reader.schema(schema).parquet(path)
    # ns-precision parquet timestamps arrive as long (nanosAsLong conf);
    # convert to a proper event-time column (same truncation as tables.t)
    from pyspark.sql import types as T

    if "ts" in stream.columns and isinstance(stream.schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif "ts" in stream.columns and isinstance(
        stream.schema["ts"].dataType, T.TimestampNTZType
    ):
        # Spark 4.1 reads ns parquet timestamps natively as TIMESTAMP_NTZ,
        # which EventTimeWatermark rejects; normalize to the UTC-session
        # TIMESTAMP (same rule as tables.t)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time window aggregation with late-data handling: the
    watermark closes windows older than max(event_time) - delay, letting
    state be dropped and results finalized."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows by inactivity gap — the streaming-native form of
    the batch lag+cumsum sessionization (F.session_window manages dynamic,
    mergeable window state)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_drain_timeout_s(default: int = 120) -> int:
    """THE parser for SPARK_GRAFT_STREAM_DRAIN_S — one implementation
    consumed by every availableNow drain site (here and
    sources/ddl_queries._await_drained), so the validation can never
    drift (r13 ADVICE).  The default 120 s suits the sf0.001-0.1
    fixtures; scale steps (tools/scale_step.py --stream10 drives
    10M-row landings through the same ops) raise it via env rather
    than forking the op code.  A malformed or non-positive value falls
    back to the default with one clear warning instead of surfacing a
    bare ValueError from deep inside the stream path."""
    raw = os.environ.get("SPARK_GRAFT_STREAM_DRAIN_S")
    if raw is None:
        return default
    try:
        val = int(raw)
    except ValueError:
        val = 0
    if val <= 0:
        import warnings

        warnings.warn(
            f"SPARK_GRAFT_STREAM_DRAIN_S={raw!r} is not a positive "
            f"integer number of seconds; using the default {default}s",
            stacklevel=2,
        )
        return default
    return val


def run_available_now(
    stream_df: DataFrame, sink_table: str, output_mode: str = "complete"
) -> StreamingQuery:
    """Execute a bounded pass over all available input through the real
    streaming engine into an in-memory sink (tests / smoke checks).
    `complete` suits aggregations; joins/dedup require `append`."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    timeout = stream_drain_timeout_s()
    if not q.awaitTermination(timeout):
        q.stop()
        raise RuntimeError(
            f"run_available_now({sink_table}): stream did not drain "
            f"within {timeout}s (availableNow trigger still running)"
        )
    return q


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: pair each left event with the
    same user's right events that follow within `within` (click→purchase
    attribution shape).

    Both sides carry a watermark and the join condition bounds event time
    on both ends — that pair of constraints is what lets the engine
    expire buffered rows from the join state instead of holding every
    event forever.  At scale the state store is partitioned by the equi
    key (user_id); per-key state is bounded by rate × window.
    """
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    return l.join(
        r,
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") > F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("event_a"),
        F.col("r.event_id").alias("event_b"),
        F.col("l.ts").alias("ts_a"),
        F.col("r.ts").alias("ts_b"),
    )


def stream_dedup(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop repeats of the same key arriving within
    the watermark horizon — the ingest-side twin of the batch
    q_dedup_exact, and the standard guard against at-least-once upstream
    delivery (Kafka producer retries, replayed file drops).

    `dropDuplicatesWithinWatermark` keeps one state-store entry per key
    and expires it once the watermark passes the key's first-seen event
    time, so state is bounded by (arrival rate x watermark delay) instead
    of growing with the full stream history — plain dropDuplicates on a
    stream would hold every key forever.  At scale the state store is
    hash-partitioned by key; a uniform event-id key means no skew.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def stream_ingest_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Streaming ingestion sink via foreachBatch: each micro-batch lands
    as parquet after per-batch transformation — the hook for logic native
    sinks can't express (dedup-before-write, MERGE into a table format,
    per-batch stats).

    Exactly-once = checkpoint (offsets + batch id) x an IDEMPOTENT write
    keyed on epoch_id.  The checkpoint alone only gives at-least-once for
    foreachBatch: a crash between the parquet write and the checkpoint
    commit replays the batch, and a blind append would land it twice.
    Landing each batch as its own `ingest_epoch=N` partition with dynamic
    partition overwrite makes the replay overwrite that partition in
    place — same bytes, no duplicates.  At scale this is the standard
    stream → warehouse landing pattern (per-epoch partitions also give
    cheap epoch-level retention/compaction)."""

    return (
        stream_df.writeStream.foreachBatch(
            lambda batch_df, epoch_id: land_batch(batch_df, epoch_id, out_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def land_batch(batch_df: DataFrame, epoch_id: int, out_dir: str) -> None:
    """Idempotent per-epoch landing (the foreachBatch body, exposed so the
    replay path is directly testable): landing the same epoch twice
    yields the same files, not duplicates."""
    (
        batch_df.dropDuplicates(["event_id"])
        .withColumn("ingest_epoch", F.lit(epoch_id))
        .write.mode("overwrite")
        # dynamic: only the partitions present in THIS batch (its own
        # epoch dir) are replaced; earlier epochs are untouched
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_epoch")
        .parquet(out_dir)
    )
