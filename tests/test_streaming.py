"""Structured Streaming: drive the real streaming engine (micro-batch
planner, state store, watermark) over bounded parquet input with
Trigger.AvailableNow, and check the streamed result equals the batch twin."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from data_warehouse_hive_spark.streaming.stream import (
    read_events_stream,
    run_available_now,
    sessionized,
    windowed_counts,
)
from data_warehouse_hive_spark.tables import t, table_path


def test_windowed_counts_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, table_path(sf_dir, "events"))
    assert stream.isStreaming
    sink = f"win_{uuid.uuid4().hex[:8]}"
    q = run_available_now(windowed_counts(stream), sink)
    try:
        streamed = spark.table(sink).toPandas()
        batch = (
            t(spark, sf_dir, "events")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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
            .toPandas()
        )
        key = ["window_start", "event_type"]
        s = streamed.sort_values(key).reset_index(drop=True)
        b = batch.sort_values(key).reset_index(drop=True)
        assert len(s) == len(b) > 0
        assert (s["n_events"].values == b["n_events"].values).all()
        assert (s["sum_value"].values == b["sum_value"].values).all()
    finally:
        q.stop()


def test_session_windows_stream(spark, sf_dir):
    stream = read_events_stream(spark, table_path(sf_dir, "events"))
    sink = f"sess_{uuid.uuid4().hex[:8]}"
    q = run_available_now(sessionized(stream), sink)
    try:
        out = spark.table(sink)
        n = out.count()
        assert n > 0
        # session invariant: end >= start, and per-user event totals match
        bad = out.filter(F.col("session_end") < F.col("session_start")).count()
        assert bad == 0
        total_events = out.agg(F.sum("n_events")).collect()[0][0]
        assert total_events == t(spark, sf_dir, "events").count()
    finally:
        q.stop()


def test_stateful_timeout_sessions(spark, tmp_path):
    """applyInPandasWithState: per-user state machine with event-time
    timeout.  Two micro-batches (maxFilesPerTrigger=1): batch B's
    watermark advance must flush user 1 (quiet past the 30-min gap) with
    exact totals, while user 2's still-open state is never emitted."""
    import os
    import time as _time
    import uuid

    import pandas as pd

    from data_warehouse_hive_spark.streaming.stateful import (
        GAP_MS,
        user_activity_sessions,
    )
    from data_warehouse_hive_spark.streaming.stream import run_available_now

    src = str(tmp_path / "events_src")
    os.makedirs(src)
    t0 = pd.Timestamp("2026-01-01 00:00:00", tz="UTC")  # tz-aware → TIMESTAMP (not NTZ)
    # batch A: user 1 twice within 10 min
    pd.DataFrame(
        {
            "user_id": [1, 1],
            "ts": [t0, t0 + pd.Timedelta(minutes=10)],
            "value": [2.5, 4.0],
        }
    ).to_parquet(os.path.join(src, "a.parquet"), coerce_timestamps="us")
    _time.sleep(1.1)  # file source orders micro-batches by mtime
    # batch B: user 2, three hours later → watermark (2h delay) lands at
    # t0+1h, past user 1's timeout (t0+10min + 30min gap)
    pd.DataFrame(
        {
            "user_id": [2],
            "ts": [t0 + pd.Timedelta(hours=3)],
            "value": [1.0],
        }
    ).to_parquet(os.path.join(src, "b.parquet"), coerce_timestamps="us")

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = f"stateful_{uuid.uuid4().hex[:8]}"
    q = (
        user_activity_sessions(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        out = spark.table(sink).toPandas()
        assert len(out) == 1, out
        row = out.iloc[0]
        assert row["user_id"] == 1
        assert row["n_events"] == 2
        assert row["sum_value"] == 6.5
        expected_last = int((t0 + pd.Timedelta(minutes=10)).value // 1_000_000)
        assert row["last_seen_ms"] == expected_last
    finally:
        q.stop()


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Watermarked stream-stream join equals its batch twin on bounded
    input (AvailableNow drives the real join-state machinery)."""
    import uuid

    from data_warehouse_hive_spark.streaming.stream import stream_stream_join

    la = read_events_stream(spark, table_path(sf_dir, "events"))
    rb = read_events_stream(spark, table_path(sf_dir, "events"))
    sink = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        stream_stream_join(la, rb)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        streamed = spark.table(sink).toPandas()
        ev = t(spark, sf_dir, "events")
        l = ev.select(
            F.col("user_id"), F.col("event_id").alias("event_a"), F.col("ts").alias("ts_a")
        )
        r = ev.select(
            F.col("user_id").alias("user_b"),
            F.col("event_id").alias("event_b"),
            F.col("ts").alias("ts_b"),
        )
        batch = (
            l.join(
                r,
                (F.col("user_id") == F.col("user_b"))
                & (F.col("ts_b") > F.col("ts_a"))
                & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 1 HOUR")),
            )
            .select("user_id", "event_a", "event_b")
            .toPandas()
        )
        key = ["user_id", "event_a", "event_b"]
        s = streamed[key].sort_values(key).reset_index(drop=True)
        b = batch[key].sort_values(key).reset_index(drop=True)
        assert len(s) == len(b) > 0
        assert (s.values == b.values).all()
    finally:
        q.stop()


def test_foreachbatch_ingest_sink(spark, sf_dir, tmp_path):
    """foreachBatch landing: all source events arrive in the parquet sink
    exactly once, stamped with their micro-batch epoch."""
    from data_warehouse_hive_spark.streaming.stream import stream_ingest_parquet

    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    stream = read_events_stream(spark, table_path(sf_dir, "events"))
    q = stream_ingest_parquet(stream, out, ckpt)
    q.awaitTermination(120)
    q.stop()
    landed = spark.read.parquet(out)
    n_src = t(spark, sf_dir, "events").count()
    assert landed.count() == n_src
    assert landed.select("event_id").distinct().count() == n_src
    assert "ingest_epoch" in landed.columns


def test_foreachbatch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Exactly-once under replay: a micro-batch re-landed after a crash
    between write and checkpoint commit must overwrite its own epoch
    partition, not append a second copy (the failure mode of a blind
    append in foreachBatch)."""
    from data_warehouse_hive_spark.streaming.stream import land_batch

    out = str(tmp_path / "landed")
    batch = t(spark, sf_dir, "events").limit(100)
    land_batch(batch, 0, out)
    n_first = spark.read.parquet(out).count()
    land_batch(batch, 0, out)  # simulated replay of the same epoch
    landed = spark.read.parquet(out)
    assert landed.count() == n_first  # no duplicates
    # a LATER epoch must append alongside, not clobber epoch 0
    land_batch(batch, 1, out)
    assert spark.read.parquet(out).count() == 2 * n_first
    assert spark.read.parquet(out).select("ingest_epoch").distinct().count() == 2


def test_python_datasource_streaming(spark):
    """The custom Python source streams: micro-batches advance the
    offset, ids never repeat, and values equal the batch reader's for
    the same ids (deterministic regeneration = replay safety)."""
    import time as _time
    import uuid

    from data_warehouse_hive_spark.sources.synthetic import (
        SyntheticEventsDataSource,
    )

    spark.dataSource.register(SyntheticEventsDataSource)
    sink = f"synth_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("synthetic_events")
        .option("rows_per_batch", 200)
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if spark.table(sink).count() >= 400:
                break
            _time.sleep(0.5)
    finally:
        q.stop()
    streamed = spark.table(sink).toPandas()
    assert len(streamed) >= 400
    assert streamed["event_id"].is_unique
    batch = (
        spark.read.format("synthetic_events")
        .option("partitions", 1)
        .option("rows_per_partition", int(streamed["event_id"].max()) + 1)
        .load()
        .toPandas()
        .set_index("event_id")
    )
    got = streamed.set_index("event_id").sort_index()
    want = batch.loc[got.index]
    assert (got["user_id"].values == want["user_id"].values).all()
    assert (got["value"].values == want["value"].values).all()


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicates arriving across micro-batches within the watermark must
    be dropped; the surviving stream equals the batch distinct-by-key."""
    import os
    import pandas as pd

    from data_warehouse_hive_spark.streaming.stream import (
        read_events_stream,
        stream_dedup,
    )

    src = str(tmp_path / "dup_src")
    os.makedirs(src)
    base = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 10:05",
                 "2024-01-01 10:10", "2024-01-01 10:15"]
            ),
            "user_id": [7, 7, 8, 8],
        }
    )
    # batch A: events 1-3; batch B: replay of 2,3 (at-least-once upstream)
    # plus the new event 4.  Flat single-file parquet per micro-batch (the
    # file stream source lists the top level only).
    base.iloc[:3].to_parquet(src + "/a.parquet", index=False)
    base.iloc[1:4].to_parquet(src + "/b.parquet", index=False)

    stream = read_events_stream(
        spark, src, schema=spark.read.parquet(src + "/a.parquet").schema,
        max_files_per_trigger=1,
    )
    sink = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        stream_dedup(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        out = spark.table(sink).toPandas()
        assert sorted(out["event_id"].tolist()) == [1, 2, 3, 4]
    finally:
        q.stop()


def test_transform_with_state_running_totals(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 arbitrary-state API): per-user
    ValueState accumulates across micro-batches in the RocksDB state
    store; update-mode output re-emits a key's refreshed totals each
    batch it appears in, so the LAST emission per key equals the batch
    aggregate."""
    from data_warehouse_hive_spark.registry import capabilities

    if not capabilities()["transform_with_state"]:
        pytest.skip(
            "registry.capabilities()['transform_with_state'] is False: "
            "protobuf not installed, transformWithState worker protocol "
            "unavailable; a deployment with protobuf lights this up with "
            "zero code change"
        )

    import os
    import time as _time
    import uuid

    import pandas as pd

    from data_warehouse_hive_spark.streaming.stateful import user_running_totals

    src = str(tmp_path / "tws_src")
    os.makedirs(src)
    t0 = pd.Timestamp("2026-01-01 00:00:00", tz="UTC")
    pd.DataFrame(
        {"user_id": [1, 1, 2], "ts": [t0] * 3, "value": [2.5, 4.0, 1.0]}
    ).to_parquet(os.path.join(src, "a.parquet"), coerce_timestamps="us")
    _time.sleep(1.1)
    pd.DataFrame(
        {"user_id": [1, 2], "ts": [t0] * 2, "value": [3.0, 10.0]}
    ).to_parquet(os.path.join(src, "b.parquet"), coerce_timestamps="us")

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sink = f"tws_{uuid.uuid4().hex[:8]}"
        q = (
            user_running_totals(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        try:
            out = spark.table(sink).toPandas()
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    # update mode: user 1 emitted twice (batch A then A+B); final totals win
    last = out.groupby("user_id").last()
    assert last.loc[1, "n_events"] == 3 and last.loc[1, "sum_value"] == 9.5
    assert last.loc[2, "n_events"] == 2 and last.loc[2, "sum_value"] == 11.0
    # and the intermediate emission really was cumulative, not per-batch
    u1 = out[out["user_id"] == 1].sort_values("n_events")
    assert list(u1["n_events"]) == [2, 3]


def test_running_totals_processor_logic():
    """The StatefulProcessor's fold logic, driven directly with a fake
    ValueState — covers the accumulate/emit contract even where the
    protobuf worker protocol (previous test) is unavailable."""
    import pandas as pd

    from data_warehouse_hive_spark.streaming.stateful import _RunningTotals

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, t):
            self.v = t

    p = _RunningTotals.__new__(_RunningTotals)
    p._totals = FakeState()
    (out1,) = p.handleInputRows(
        (1,), iter([pd.DataFrame({"value": [2.5, 4.0]})]), None
    )
    assert out1.iloc[0]["n_events"] == 2 and out1.iloc[0]["sum_value"] == 6.5
    (out2,) = p.handleInputRows((1,), iter([pd.DataFrame({"value": [3.0]})]), None)
    assert out2.iloc[0]["n_events"] == 3 and out2.iloc[0]["sum_value"] == 9.5


def test_stream_static_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static join: a streaming fact joined to a static dimension
    — the dimension is re-read per micro-batch (no state), so enrichment
    joins need no watermark.  AvailableNow result equals the batch join."""
    import uuid

    from data_warehouse_hive_spark.tables import t

    static_dim = (
        t(spark, sf_dir, "documents")
        .select("source")
        .distinct()
        .withColumn("source_code", F.upper(F.col("source").substr(1, 4)))
    )
    schema = t(spark, sf_dir, "documents").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    enriched = (
        stream.join(static_dim, "source")
        .groupBy("source_code")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sink = f"ss_{uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {r["source_code"]: r["n"] for r in spark.table(sink).collect()}
    finally:
        q.stop()
    want = {
        r["source_code"]: r["n"]
        for r in t(spark, sf_dir, "documents")
        .join(static_dim, "source")
        .groupBy("source_code")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) >= 3


def test_stream_e2e_dedup_window_pipeline(spark, sf_dir, tmp_path):
    """The composed streaming pipeline — duplicate events dropped within
    the watermark, then event-time tumbling counts, landed via
    foreachBatch — must equal the batch twin (dedup → window) on the
    same bounded input.  This is the production ingest topology in one
    test: at-least-once source → idempotence layer → stateful agg →
    exactly-once-per-key sink."""
    import pandas as pd

    from data_warehouse_hive_spark.streaming.stream import stream_dedup

    src_dir = str(tmp_path / "dup_events")
    base = t(spark, sf_dir, "events").limit(2000)
    # plant duplicates: replay every event twice (same event_id)
    base.unionAll(base).write.parquet(src_dir)

    stream = read_events_stream(spark, src_dir)
    deduped = stream_dedup(stream, key_cols=("event_id",), watermark="2 hours")
    counted = (
        deduped.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    sink = f"e2e_{uuid.uuid4().hex[:8]}"
    q = run_available_now(counted, sink)
    try:
        streamed = spark.table(sink).toPandas()
        batch = (
            spark.read.parquet(src_dir)
            .dropDuplicates(["event_id"])
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
            .toPandas()
        )
        key = ["window_start", "event_type"]
        s = streamed.sort_values(key).reset_index(drop=True)
        b = batch.sort_values(key).reset_index(drop=True)
        assert len(s) == len(b) > 0
        assert (s["n_events"].values == b["n_events"].values).all()
        # dedup actually removed the planted copies: total events == original
        assert int(s["n_events"].sum()) == base.count()
    finally:
        q.stop()


def test_stream_join_state_across_batches(spark, tmp_path):
    """r6 verdict item 4: a purchase arriving in micro-batch 2 must join
    a click buffered in the join STATE since micro-batch 1 — the
    cross-batch-boundary case a single AvailableNow file pass never
    exercises — and the streamed result must equal the batch twin."""
    import os
    import time as _time
    import uuid

    import pandas as pd

    from data_warehouse_hive_spark.streaming.stream import (
        run_available_now,
        stream_stream_join,
    )

    t0 = pd.Timestamp("2026-01-01 00:00:00", tz="UTC")
    ldir, rdir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    os.makedirs(ldir), os.makedirs(rdir)
    # batch 1: the click (left) plus an unrelated right row
    pd.DataFrame(
        {"user_id": [1], "event_id": [101], "ts": [t0]}
    ).to_parquet(os.path.join(ldir, "a.parquet"), coerce_timestamps="us")
    pd.DataFrame(
        {"user_id": [999], "event_id": [900], "ts": [t0]}
    ).to_parquet(os.path.join(rdir, "a.parquet"), coerce_timestamps="us")
    _time.sleep(1.1)  # file source orders micro-batches by mtime
    # batch 2: the matching purchase, 30 min after the buffered click
    pd.DataFrame(
        {"user_id": [2], "event_id": [102], "ts": [t0 + pd.Timedelta(hours=3)]}
    ).to_parquet(os.path.join(ldir, "b.parquet"), coerce_timestamps="us")
    pd.DataFrame(
        {"user_id": [1], "event_id": [201], "ts": [t0 + pd.Timedelta(minutes=30)]}
    ).to_parquet(os.path.join(rdir, "b.parquet"), coerce_timestamps="us")

    def _stream(d):
        return (
            spark.readStream.schema(spark.read.parquet(d).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )

    sink = f"sj2b_{uuid.uuid4().hex[:8]}"
    q = run_available_now(
        stream_stream_join(_stream(ldir), _stream(rdir)),
        sink,
        output_mode="append",
    )
    try:
        got = [
            tuple(r)
            for r in spark.table(sink)
            .select("user_id", "event_a", "event_b")
            .collect()
        ]
        want = [
            tuple(r)
            for r in stream_stream_join(
                spark.read.parquet(ldir), spark.read.parquet(rdir)
            )
            .select("user_id", "event_a", "event_b")
            .collect()
        ]
        assert sorted(got) == sorted(want) == [(1, 101, 201)], (got, want)
    finally:
        q.stop()


def test_session_merge_across_batches(spark, tmp_path):
    """r6 verdict item 4: a LATE row landing in micro-batch 2 (inside
    the watermark) must MERGE into the session-window state opened in
    micro-batch 1; the finalized session covers all three events and
    matches the batch twin."""
    import os
    import time as _time
    import uuid

    import pandas as pd

    from data_warehouse_hive_spark.streaming.stream import (
        run_available_now,
        sessionized,
    )

    t0 = pd.Timestamp("2026-01-01 00:00:00", tz="UTC")
    src = str(tmp_path / "events_src")
    os.makedirs(src)
    # batch 1: user 1 at t0 and t0+10min (open session)
    pd.DataFrame(
        {"user_id": [1, 1], "ts": [t0, t0 + pd.Timedelta(minutes=10)]}
    ).to_parquet(os.path.join(src, "a.parquet"), coerce_timestamps="us")
    _time.sleep(1.1)
    # batch 2: user 1's LATE row at t0+20min (within the 2h watermark)
    # extends the open session; user 2 at t0+5h pushes the watermark to
    # t0+3h, far past the merged session's end, so it finalizes
    pd.DataFrame(
        {
            "user_id": [1, 2],
            "ts": [t0 + pd.Timedelta(minutes=20), t0 + pd.Timedelta(hours=5)],
        }
    ).to_parquet(os.path.join(src, "b.parquet"), coerce_timestamps="us")

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = f"sess2b_{uuid.uuid4().hex[:8]}"
    q = run_available_now(sessionized(stream), sink, output_mode="append")
    try:
        out = spark.table(sink).toPandas()
        assert len(out) == 1, out
        row = out.iloc[0]
        assert row["user_id"] == 1
        assert row["n_events"] == 3  # both batch-1 rows + the late row
        assert pd.Timestamp(row["session_start"]) == t0.tz_localize(None)
        assert pd.Timestamp(row["session_end"]) == (
            t0 + pd.Timedelta(minutes=50)
        ).tz_localize(None)
    finally:
        q.stop()


def test_stream_drain_timeout_env_parsing(monkeypatch):
    """ONE shared parser for SPARK_GRAFT_STREAM_DRAIN_S (r13 ADVICE):
    junk / non-positive values fall back to the 120s default with a
    clear warning instead of surfacing a bare ValueError deep in the
    stream path; valid values pass through."""
    import warnings

    from data_warehouse_hive_spark.streaming.stream import (
        stream_drain_timeout_s,
    )

    monkeypatch.delenv("SPARK_GRAFT_STREAM_DRAIN_S", raising=False)
    assert stream_drain_timeout_s() == 120
    monkeypatch.setenv("SPARK_GRAFT_STREAM_DRAIN_S", "900")
    assert stream_drain_timeout_s() == 900
    for junk in ("12.5", "soon", "", "-4", "0"):
        monkeypatch.setenv("SPARK_GRAFT_STREAM_DRAIN_S", junk)
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            assert stream_drain_timeout_s() == 120
        assert any("SPARK_GRAFT_STREAM_DRAIN_S" in str(x.message) for x in w)


def test_stream_ddl_leaves_no_memo_entry_per_run(spark, sf_dir, registry):
    """A streaming ddl that reads the directory it just wrote passes the
    written frame's schema, so no run infers (and memoizes) the schema
    of a fresh temp directory."""
    from data_warehouse_hive_spark import tables

    fn = registry["ddl_stream_dedup"].fn
    fn(spark, sf_dir).collect()
    after_first = (tables.memo_misses, len(tables._MEMO))
    for _ in range(2):
        fn(spark, sf_dir).collect()
    assert (tables.memo_misses, len(tables._MEMO)) == after_first
