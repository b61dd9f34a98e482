"""Registry entries for the DDL/ingestion surface (SURVEY.md §2.1, §2.11).

These are behavioral (rows-only) checks — catalog state is not DuckDB-
oracle-comparable, so each entry returns a small result DataFrame whose
row count proves the operation ran.  Each run uses a unique temp table
name and cleans up after itself, so re-runs are idempotent.
"""

from __future__ import annotations

import os
import re
import tempfile
import uuid

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from data_warehouse_hive_spark.registry import query
from data_warehouse_hive_spark.sources import catalog as cat
from data_warehouse_hive_spark.sources.csv_ingest import (
    ingest_csv,
    sanitize_table_name,
    sniff_delimiter,
)
from data_warehouse_hive_spark.session import conf_scope
from data_warehouse_hive_spark.tables import t


def _scratch_csv(delimiter: str = ",") -> str:
    """Write a small typed CSV to a scratch dir; returns its path."""
    d = _tmpdir("dwh_spark_ddl_")
    path = os.path.join(d, "sample.csv")
    rows = [
        ["id", "price", "is_active", "created_date", "name"],
        ["1", "19.99", "true", "2024-03-01", "widget"],
        ["2", "5.50", "false", "2024-03-02", "gadget"],
        ["3", "7.25", "true", "2024-03-03", "sprocket"],
    ]
    with open(path, "w") as f:
        f.write("\n".join(delimiter.join(r) for r in rows) + "\n")
    return path


def _multiset_compare(a: DataFrame, b: DataFrame) -> tuple[int, int, int]:
    """(extra, missing, n_a) in ONE aggregation pass — the fused form of
    `a.exceptAll(b).count()` / `b.exceptAll(a).count()` / `a.count()`,
    which is three separate actions, each re-executing both input plans
    (guide §1.2: don't compute things you throw away — the
    exceptAll-both-ways idiom ran every batch/stream twin 3x per parity
    check).  Union with a +1/-1 side tag, group by the full row, and
    read both multiset differences off the per-row count delta:
    extra = Σ max(d, 0) = |a ∖ b|,  missing = Σ max(-d, 0) = |b ∖ a|.
    NULL/NaN/-0.0 grouping follows the same equality semantics
    exceptAll uses, so the three numbers are identical to the old
    idiom's."""
    cols = a.columns
    # The column-order assert is the contract, not a by-name union's
    # need: the union below matches by name, so a reordered `b` would
    # still compare, but every caller is a batch/stream twin that must
    # produce ONE schema, same names in the same order, as the
    # positional exceptAll idiom this replaces required.  A twin whose
    # column order drifts is a bug in the twin and fails here loudly.
    # The tag/delta columns must not collide with payload names.
    assert cols == b.columns, (cols, b.columns)
    assert not {"__side", "__d", "__na"} & set(cols), cols
    row = (
        a.withColumn("__side", F.lit(1))
        .unionByName(b.select(*cols).withColumn("__side", F.lit(-1)))
        .groupBy(*cols)
        .agg(
            F.sum("__side").alias("__d"),
            F.count(F.when(F.col("__side") == 1, 1)).alias("__na"),
        )
        .agg(
            F.coalesce(
                F.sum(F.greatest(F.col("__d"), F.lit(0))), F.lit(0)
            ).cast("long").alias("extra"),
            F.coalesce(
                F.sum(F.greatest(-F.col("__d"), F.lit(0))), F.lit(0)
            ).cast("long").alias("missing"),
            F.coalesce(F.sum("__na"), F.lit(0)).cast("long").alias("n_a"),
        )
        .collect()[0]
    )
    return int(row["extra"]), int(row["missing"]), int(row["n_a"])


def _tmpdir(prefix: str) -> str:
    """Session-lifetime temp dir for DDL demos: returned DataFrames may
    lazily re-read these paths after the operator returns, so immediate
    deletion would break them — instead every dir is registered for
    removal at interpreter exit (closes the per-invocation leak the
    round-4 advisor flagged on schema_evolution, for ALL the DDL ops)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _await_drained(q, what: str, timeout: int | None = None) -> None:
    """awaitTermination(timeout) returns False on timeout WITHOUT
    stopping the query — an unconditional q.stop() then truncates the
    availableNow run mid-batch and the downstream accounting asserts
    fail with a misleading message (r8 ADVICE).  Raise the real
    diagnosis instead, then stop.  Timeout comes from the ONE shared
    SPARK_GRAFT_STREAM_DRAIN_S parser (streaming.stream
    .stream_drain_timeout_s — validated, junk falls back to 120 s with
    a clear warning)."""
    if timeout is None:
        from ..streaming.stream import stream_drain_timeout_s

        timeout = stream_drain_timeout_s()
    drained = q.awaitTermination(timeout)
    if not drained:
        q.stop()
        raise RuntimeError(
            f"{what}: stream did not drain within {timeout}s "
            "(availableNow trigger still running — slow/contended host?)"
        )
    q.stop()


@query("ddl_csv_infer")
def ddl_csv_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV load + delimiter sniff + bounded schema inference
    (reference backend/csv_processor.py:25-103)."""
    path = _scratch_csv(";")
    delim = sniff_delimiter(path)
    res = ingest_csv(spark, path, f"infer_{uuid.uuid4().hex[:8]}")
    out = spark.createDataFrame(
        [
            Row(
                detected_delimiter=delim,
                n_columns=len(res.columns),
                col_types=",".join(c["spark_type"] for c in res.columns),
            )
        ]
    )
    cat.drop_table(spark, res.table_name)
    return out


@query("ddl_csv_external")
def ddl_csv_external(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External CSV table round-trip: register → query → drop keeps data
    (reference backend/hive_manager.py:169-181, :121)."""
    path = _scratch_csv(",")
    res = ingest_csv(spark, path, f"ext_{uuid.uuid4().hex[:8]}")
    n = spark.table(res.table_name).count()
    info = cat.table_info(spark, res.table_name)
    cat.drop_table(spark, res.table_name)
    data_survives = os.path.exists(path)
    return spark.createDataFrame(
        [
            Row(
                rows_read=n,
                is_external=info.is_external,
                dropped_data_survives=data_survives,
            )
        ]
    )


@query("ddl_managed_table")
def ddl_managed_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed (engine-owned) table create + insert + drop
    (reference backend/hive_manager.py:234-264, :282-332)."""
    name = f"managed_{uuid.uuid4().hex[:8]}"
    src = t(spark, sf_dir, "region")
    src.write.mode("overwrite").saveAsTable(name)
    src.write.insertInto(name)  # ddl_insert_batch surface
    n = spark.table(name).count()
    cat.drop_table(spark, name)
    return spark.createDataFrame([Row(rows_after_double_insert=n)])


@query("ddl_catalog_ops")
def ddl_catalog_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW TABLES / LIKE-existence / DESCRIBE / DROP in one behavioral
    pass (reference backend/app.py:186-195, backend/hive_manager.py:105-133,
    :396-407)."""
    name = f"catop_{uuid.uuid4().hex[:8]}"
    t(spark, sf_dir, "nation").write.saveAsTable(name)
    listed = name in cat.show_tables(spark)
    exists = cat.table_exists(spark, name)
    n_cols = len(cat.describe(spark, name))
    cat.repair_table(spark, name)  # ddl_msck surface (no-op when unpartitioned)
    dropped = cat.drop_table(spark, name)
    gone = not cat.table_exists(spark, name)
    return spark.createDataFrame(
        [
            Row(
                listed=listed,
                exists=exists,
                n_cols=n_cols,
                dropped=dropped,
                gone=gone,
            )
        ]
    )


@query("ddl_sanitize_names")
def ddl_sanitize_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name-sanitization rules (reference backend/hive_manager.py:69-92),
    deterministic here — including idempotence, which the reference's
    timestamp suffix breaks (re-sanitize on lookup → new suffix → misses)."""
    cases = ["2 bad-name!", "ok_name", "", "x" * 50, "Sales Data (2024)"]
    rows = [
        Row(
            raw=c,
            sanitized=sanitize_table_name(c),
            idempotent=sanitize_table_name(sanitize_table_name(c))
            == sanitize_table_name(c),
        )
        for c in cases
    ]
    return spark.createDataFrame(rows)


@query("ddl_pipeline_e2e")
def ddl_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ingestion pipeline: upload(path) → sniff → infer → register →
    refresh → stats (reference backend/app.py:32-118 steps :61-98), plus
    the schema-preview stats pass (backend/app.py:149-180)."""
    from data_warehouse_hive_spark.sources.stats import column_stats

    path = _scratch_csv("|")
    res = ingest_csv(spark, path, f"e2e_{uuid.uuid4().hex[:8]}")
    df = spark.table(res.table_name)
    stats = column_stats(df)
    cat.drop_table(spark, res.table_name)
    return spark.createDataFrame(
        [
            Row(
                delimiter=res.delimiter,
                n_rows=stats["id"]["non_null_count"],
                id_distinct=stats["id"]["distinct_count"],
                price_mean_positive=float(stats["price"]["mean"] or 0) > 0,
            )
        ]
    )


@query("ddl_insert_batch")
def ddl_insert_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched INSERT sink (reference backend/hive_manager.py:282-332:
    10k-row VALUES batches + per-row fault isolation; Spark's task
    batching + retries subsume both).  Appends twice, counts."""
    name = f"ins_{uuid.uuid4().hex[:8]}"
    src = t(spark, sf_dir, "region")
    src.write.saveAsTable(name)
    before = spark.table(name).count()
    src.write.insertInto(name)
    after = spark.table(name).count()
    cat.drop_table(spark, name)
    return spark.createDataFrame([Row(before=before, after=after, doubled=after == 2 * before)])


@query("ddl_drop")
def ddl_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DROP TABLE IF EXISTS; for externals, metadata-only (reference
    backend/hive_manager.py:120-133)."""
    path = _scratch_csv(",")
    res = ingest_csv(spark, path, f"drop_{uuid.uuid4().hex[:8]}")
    dropped = cat.drop_table(spark, res.table_name)
    second = cat.drop_table(spark, res.table_name)  # IF EXISTS → no error
    return spark.createDataFrame(
        [Row(dropped=dropped, idempotent_ok=not second, data_kept=os.path.exists(path))]
    )


@query("ddl_show_tables")
def ddl_show_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW TABLES (reference backend/app.py:186-195)."""
    name = f"show_{uuid.uuid4().hex[:8]}"
    t(spark, sf_dir, "region").write.saveAsTable(name)
    listed = name in cat.show_tables(spark)
    cat.drop_table(spark, name)
    return spark.createDataFrame([Row(listed=listed)])


@query("ddl_show_like")
def ddl_show_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW TABLES LIKE existence check (reference
    backend/hive_manager.py:105-118)."""
    name = f"like_{uuid.uuid4().hex[:8]}"
    missing_before = not cat.table_exists(spark, name)
    t(spark, sf_dir, "region").write.saveAsTable(name)
    present = cat.table_exists(spark, name)
    cat.drop_table(spark, name)
    return spark.createDataFrame([Row(missing_before=missing_before, present=present)])


@query("ddl_describe")
def ddl_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE / DESCRIBE FORMATTED (reference
    backend/hive_manager.py:396-407)."""
    name = f"desc_{uuid.uuid4().hex[:8]}"
    t(spark, sf_dir, "nation").write.saveAsTable(name)
    cols = cat.describe(spark, name)
    cat.drop_table(spark, name)
    return spark.createDataFrame(
        [Row(col_name=c["col_name"], data_type=c["data_type"]) for c in cols]
    )


@query("ddl_msck")
def ddl_msck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MSCK REPAIR TABLE: partition re-sync after files appear under an
    external partitioned location (reference backend/hive_manager.py:334-349).
    New partition directories become visible only after recoverPartitions."""
    d = _tmpdir("dwh_spark_msck_")
    name = f"msck_{uuid.uuid4().hex[:8]}"
    src = t(spark, sf_dir, "region")
    src.withColumn("pt", F.lit("a")).write.partitionBy("pt").parquet(d, mode="overwrite")
    spark.sql(
        f"CREATE TABLE `{name}` (r_regionkey INT, r_name STRING) "
        f"USING PARQUET PARTITIONED BY (pt STRING) LOCATION '{d}'"
    )
    spark.catalog.recoverPartitions(name)
    n_before = spark.table(name).count()
    # new partition lands out-of-band
    src.withColumn("pt", F.lit("b")).write.partitionBy("pt").mode("append").parquet(d)
    n_stale = spark.table(name).count()
    cat.repair_table(spark, name)
    n_after = spark.table(name).count()
    cat.drop_table(spark, name)
    return spark.createDataFrame(
        [Row(n_before=n_before, n_stale=n_stale, n_after=n_after,
             repaired=n_after == 2 * n_before)]
    )


@query("ddl_s3_layout")
def ddl_s3_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-store key normalization uploads/<id>.csv → uploads/<id>/<id>.csv
    (reference backend/csv_processor.py:43-71)."""
    from data_warehouse_hive_spark.sources.csv_ingest import normalize_upload_key

    cases = ["uploads/abc.csv", "uploads/abc/abc.csv", "deep/x/y.csv"]
    return spark.createDataFrame(
        [
            Row(
                key=c,
                normalized=normalize_upload_key(c),
                idempotent=normalize_upload_key(normalize_upload_key(c))
                == normalize_upload_key(c),
            )
            for c in cases
        ]
    )


@query("ddl_schema_preview")
def ddl_schema_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema preview endpoint: bounded sample + per-column type map +
    stats (reference backend/app.py:149-180)."""
    from data_warehouse_hive_spark.sources.csv_ingest import infer_csv_schema
    from data_warehouse_hive_spark.sources.stats import column_stats

    path = _scratch_csv(",")
    schema, delim = infer_csv_schema(spark, path)
    df = spark.read.options(header="true", sep=delim).schema(schema).csv(path)
    stats = column_stats(df, sample_rows=1000)
    return spark.createDataFrame(
        [
            Row(col=name, dtype=s["dtype"], nulls=s["null_count"], distinct=s["distinct_count"])
            for name, s in stats.items()
        ]
    )


@query("ddl_table_info")
def ddl_table_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table info: schema + row count + external flag (reference
    backend/app.py:204-216, backend/hive_manager.py:386-418)."""
    path = _scratch_csv(",")
    res = ingest_csv(spark, path, f"info_{uuid.uuid4().hex[:8]}")
    info = cat.table_info(spark, res.table_name)
    cat.drop_table(spark, res.table_name)
    return spark.createDataFrame(
        [
            Row(
                n_cols=len(info.columns),
                row_count=info.row_count,
                is_external=info.is_external,
                has_location=info.location is not None,
            )
        ]
    )


@query("ddl_health")
def ddl_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connectivity self-check (reference backend/app.py:120-147)."""
    h = cat.health_check(spark)
    return spark.createDataFrame([Row(engine_ok=h["engine"], catalog_ok=h["catalog"])])


@query("ddl_multimodal_features")
def ddl_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: synthesize binary payloads from the
    documents table, run the mapInPandas feature extractor (stubbed decode,
    real Spark plumbing), count frame samples, AND (r11) round-trip REAL
    container headers — id-derived PNG / GIF / BMP / WAV / FLAC / MP3 /
    MP4 bytes through the distributed header decoders
    (sources/multimodal.py), asserting the parsed metadata matches what
    was synthesized.  r12: the BMP payloads carry a full pixel array and
    the WAV payloads carry real PCM frames, and both decode NATIVELY
    (struct+numpy, no codec lib) — the distributed features / windowed
    RMS must equal the driver-side decode of the same bytes, bit for
    bit.  r13: the PNG payloads (zlib IDAT + scanline filters) and GIF
    payloads (LZW + palette) are full-pixel too.  r14: baseline JPEG
    joins the rotation (huffman entropy decode + vectorized IDCT), so
    ALL FOUR sniffed image formats round-trip real pixels through the
    same contract."""
    from data_warehouse_hive_spark.sources.multimodal import (
        audio_meta,
        audio_rms_windows,
        decode_bmp_image,
        decode_gif_image,
        decode_jpeg_image,
        decode_png_image,
        decode_wav_samples,
        extract_features,
        frame_sample_plan,
        image_dims,
        synth_media_payload,
        video_meta,
    )

    docs = t(spark, sf_dir, "documents").limit(50)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "video")
        .when(F.col("doc_id") % 3 == 1, "image")
        .otherwise("audio")
        .alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
    )
    feats = extract_features(media)
    n_feat = feats.filter(F.size("feature") == 8).count()
    n_frames = frame_sample_plan(media, every_ms=1000).count()

    # real-container round trip: payloads become id-derived PNG/WAV/
    # FLAC/MP3/MP4 bytes, the header decoders run distributed, and the
    # parsed fields must equal the synthesized ones
    def synth(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["payload"] = [
                synth_media_payload(m, k)
                for m, k in zip(pdf["media_id"], pdf["kind"])
            ]
            yield pdf

    real = media.mapInPandas(synth, schema=media.schema).localCheckpoint(
        eager=False
    )
    kinds = {
        r["kind"]: r["n"]
        for r in real.groupBy("kind").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    # image round trip is format-aware: ids rotate png/gif/bmp/jpeg on
    # media_id div 3 (all image ids share residue 1 mod 3); the
    # uncompressed-pixel GIF/BMP and huffman-decoded JPEG payloads use
    # the smaller dim domain, PNG (deflated) keeps the full one
    v = (F.col("media_id") / 3).cast("long") % 4
    exp_fmt = (
        F.when(v == 0, "png")
        .when(v == 1, "gif")
        .when(v == 2, "bmp")
        .otherwise("jpeg")
    )
    exp_w = F.when(
        v == 0, (F.col("media_id") % 640) + 1
    ).otherwise((F.col("media_id") % 64) + 1)
    exp_h = F.when(
        v == 0, (F.col("media_id") % 480) + 1
    ).otherwise((F.col("media_id") % 48) + 1)
    img_meta = image_dims(real).localCheckpoint(eager=False)
    n_img = (
        img_meta.filter(
            (F.col("format") == exp_fmt)
            & (F.col("px_width") == exp_w)
            & (F.col("px_height") == exp_h)
        )
        .count()
    )
    n_image_formats = img_meta.select("format").distinct().count()

    # r12-r14: REAL pixel round trip — the distributed extractor's
    # native decodes (BMP struct, PNG zlib+unfilter, GIF LZW+palette,
    # JPEG huffman+IDCT) must reproduce the driver-side decode of the
    # same synthesized bytes exactly (same numpy float64 algebra both
    # sides)
    feat_rows = {
        r["media_id"]: list(r["feature"])
        for r in extract_features(real)
        .filter(F.col("kind") == "image")
        .collect()
    }
    pixel_decoders = {
        0: decode_png_image,
        1: decode_gif_image,
        2: decode_bmp_image,
        3: decode_jpeg_image,
    }
    n_pixel_decoded = dict.fromkeys(pixel_decoders, 0)
    n_pixel_ids = dict.fromkeys(pixel_decoders, 0)
    for m, feat in feat_rows.items():
        fam = (m // 3) % 4
        n_pixel_ids[fam] += 1
        if feat == pixel_decoders[fam](synth_media_payload(m, "image")):
            n_pixel_decoded[fam] += 1
    for fam in pixel_decoders:
        assert n_pixel_ids[fam] and n_pixel_decoded[fam] == n_pixel_ids[fam], (
            fam,
            n_pixel_decoded[fam],
            n_pixel_ids[fam],
        )
    n_bmp_pixel_decoded = n_pixel_decoded[2]
    n_png_pixel_decoded = n_pixel_decoded[0]
    n_gif_pixel_decoded = n_pixel_decoded[1]
    n_jpeg_pixel_decoded = n_pixel_decoded[3]
    au = audio_meta(real).filter(F.col("sample_rate").isNotNull())
    n_audio = au.count()
    n_audio_formats = au.select("format").distinct().count()

    # r12: REAL PCM round trip — the distributed windowed-RMS over the
    # synthesized WAVs' actual sample frames must reproduce the
    # driver-side decode of the same bytes exactly (float64, same
    # numpy reduction order both sides).  ONE window-size constant
    # feeds both sides (r12 ADVICE: the driver-side 256 used to be a
    # silent coupling with audio_rms_windows' default).
    import numpy as np

    rms_window = 256
    rms_rows: dict[int, dict[int, float]] = {}
    for r in audio_rms_windows(real, samples_per_window=rms_window).collect():
        rms_rows.setdefault(r["media_id"], {})[r["window_idx"]] = r["rms"]
    wav_ids = [m for m in rms_rows if (m // 3) % 3 == 0]
    n_wav_rms_real = 0
    for m in wav_ids:
        wave = decode_wav_samples(synth_media_payload(m, "audio"))
        exp = {
            w // rms_window: float(
                np.sqrt(np.mean(wave[w : w + rms_window] ** 2))
            )
            for w in range(0, max(len(wave), 1), rms_window)
        }
        if rms_rows[m] == exp:
            n_wav_rms_real += 1
    assert wav_ids and n_wav_rms_real == len(wav_ids), (
        n_wav_rms_real,
        len(wav_ids),
    )
    n_vid = (
        video_meta(real)
        .filter(
            (F.col("major_brand") == "isom") & (F.col("timescale") == 1000)
        )
        .count()
    )
    assert n_img == kinds.get("image", 0), (n_img, kinds)
    assert n_audio == kinds.get("audio", 0), (n_audio, kinds)
    assert n_vid == kinds.get("video", 0), (n_vid, kinds)
    return spark.createDataFrame(
        [
            Row(
                n_features=n_feat,
                n_frame_samples=n_frames,
                n_image_meta=n_img,
                n_image_formats=n_image_formats,
                n_bmp_pixel_decoded=n_bmp_pixel_decoded,
                n_png_pixel_decoded=n_png_pixel_decoded,
                n_gif_pixel_decoded=n_gif_pixel_decoded,
                n_jpeg_pixel_decoded=n_jpeg_pixel_decoded,
                n_audio_meta=n_audio,
                n_audio_formats=n_audio_formats,
                n_wav_rms_real=n_wav_rms_real,
                n_video_meta=n_vid,
            )
        ]
    )


@query("ddl_analyze_stats")
def ddl_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE … COMPUTE STATISTICS [FOR COLUMNS] — Hive's
    compute_stats surface (the reference's deployed engine maintains
    table/column stats the same way; SURVEY.md §2.4 q_agg_approx note).

    At 100 TB these statistics are what turn on cost-based join
    reordering (`spark.sql.cbo.enabled`) and accurate broadcast
    decisions: rowCount/sizeInBytes feed join-side selection, per-column
    NDV/min/max feed selectivity estimates.  Returns the recorded stats
    so the behavioral check asserts they actually landed in the catalog.
    """
    name = f"stats_{uuid.uuid4().hex[:8]}"
    t(spark, sf_dir, "supplier").write.saveAsTable(name)
    try:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        spark.sql(
            f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS s_suppkey, s_acctbal"
        )
        described = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        }
        stats_line = described.get("Statistics", "")
        col_stats = spark.sql(
            f"DESCRIBE EXTENDED {name} s_suppkey"
        ).collect()
        col_info = {r["info_name"]: r["info_value"] for r in col_stats}
        n_rows = t(spark, sf_dir, "supplier").count()
        return spark.createDataFrame(
            [
                Row(
                    has_table_stats="bytes" in stats_line,
                    row_count_recorded=str(n_rows) in stats_line,
                    ndv_recorded=col_info.get("distinct_count") not in (None, "NULL"),
                    minmax_recorded=col_info.get("min") not in (None, "NULL"),
                )
            ]
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


@query("ddl_multi_insert")
def ddl_multi_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive multi-insert (FROM src INSERT INTO a ... INSERT INTO b ...):
    one source scan fanned into several sinks.  Spark's form: persist the
    (pruned, filtered) source once, then run each write against the
    cached plan — the scan cost is paid once, not per sink.  At 100 TB
    the persist level would be DISK_ONLY/MEMORY_AND_DISK on the cluster;
    the mechanics are identical."""
    import uuid as _uuid

    li = (
        t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
        .persist()
    )
    try:
        a = f"mi_qty_{_uuid.uuid4().hex[:8]}"
        b = f"mi_price_{_uuid.uuid4().hex[:8]}"
        li.groupBy("l_returnflag").agg(
            F.sum(F.floor(F.col("l_quantity") * 1e6 + 0.5).cast("long")).alias("sq")
        ).write.saveAsTable(a)
        li.groupBy("l_linestatus").agg(
            F.sum(F.floor(F.col("l_extendedprice") * 1e6 + 0.5).cast("long")).alias("sp")
        ).write.saveAsTable(b)
        rows_a = spark.table(a).count()
        rows_b = spark.table(b).count()
        src_rows = li.count()
        spark.sql(f"DROP TABLE {a}")
        spark.sql(f"DROP TABLE {b}")
        return spark.createDataFrame(
            [Row(sink_a_groups=rows_a, sink_b_groups=rows_b, src_rows=src_rows)]
        )
    finally:
        li.unpersist()


@query("ddl_csv_badrows")
def ddl_csv_badrows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-row isolation on CSV ingest — the Spark-idiomatic form of the
    reference's per-row INSERT fallback (reference
    backend/hive_manager.py:317-325, which retried failed 10k-row batches
    row by row to quarantine bad records):

      * PERMISSIVE + columnNameOfCorruptRecord: every failure class
        (type-cast failure, too few tokens, too many tokens) lands with
        the raw line in a quarantine column while salvageable fields
        still parse — the at-scale shape (one pass, no retry storm,
        auditable quarantine).
      * DROPMALFORMED: all three classes silently dropped.
      * FAILFAST: ingestion aborts on the first bad row.

    Gotcha encoded in the check: malformed-ness is only detected for
    columns that are actually PARSED — a bare count() prunes every
    column, parses nothing, and counts dropped rows as present.  The
    DROPMALFORMED count below materializes the full rows first.
    """
    import tempfile as _tf

    d = _tmpdir("dwh_badrows_")
    path = os.path.join(d, "bad.csv")
    with open(path, "w") as f:
        f.write(
            "id,price,name\n"
            "1,19.99,widget\n"
            "2,not_a_number,gadget\n"   # type-cast failure
            "3,7.25,sprocket\n"
            "4,1.0\n"                    # too few tokens
            "5,1.0,ok\n"
            "6,2.0,extra,EXTRA\n"        # too many tokens
        )
    schema = "id INT, price DOUBLE, name STRING, _bad STRING"
    # cached: Spark disallows filtering on ONLY the corrupt-record column
    # straight off the scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    permissive = spark.read.csv(
        path,
        header=True,
        schema=schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_bad",
    ).cache()
    try:
        quarantined = permissive.filter(F.col("_bad").isNotNull()).count()
        parsed_ok = permissive.filter(F.col("_bad").isNull()).count()
    finally:
        permissive.unpersist()
    dropped_rows = spark.read.csv(
        path, header=True, schema="id INT, price DOUBLE, name STRING",
        mode="DROPMALFORMED",
    ).collect()  # full materialization — see gotcha above
    try:
        spark.read.csv(
            path, header=True, schema="id INT, price DOUBLE, name STRING",
            mode="FAILFAST",
        ).collect()
        failfast_raised = False
    except Exception:
        failfast_raised = True
    return spark.createDataFrame(
        [
            Row(
                parsed_ok=parsed_ok,
                quarantined=quarantined,
                after_drop=len(dropped_rows),
                failfast_raised=failfast_raised,
            )
        ]
    )


@query("ddl_orc_external")
def ddl_orc_external(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC external-table round-trip — the Hive ecosystem's native
    columnar format next to parquet (the reference's warehouse is Hive,
    whose STORED AS ORC is the canonical managed layout; reference DDL
    surface backend/hive_manager.py:169-181).  Write ORC → external table
    USING ORC → predicate-pushdown read → drop keeps data.

    At scale ORC and parquet behave alike in Spark: columnar scan with
    column pruning + min/max stripe/row-group skipping; the format choice
    is an interop decision (existing Hive warehouses), not a plan one.
    """
    import tempfile as _tf

    d = os.path.join(_tmpdir("dwh_orc_"), "region_orc")
    name = f"orc_{uuid.uuid4().hex[:8]}"
    src = t(spark, sf_dir, "region")
    src.write.mode("overwrite").orc(d)
    spark.sql(f"CREATE TABLE {name} USING ORC LOCATION '{d}'")
    tbl = spark.table(name)
    n_total = tbl.count()
    n_filtered = tbl.filter(F.col("r_regionkey") >= 2).count()
    schema_matches = [f.name for f in tbl.schema.fields] == [
        f.name for f in src.schema.fields
    ]
    cat.drop_table(spark, name)
    data_survives = os.path.exists(d)
    return spark.createDataFrame(
        [
            Row(
                rows_read=n_total,
                rows_filtered=n_filtered,
                schema_matches=schema_matches,
                dropped_data_survives=data_survives,
            )
        ]
    )


@query("ddl_json_ingest")
def ddl_json_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingestion with quarantine — the semi-structured twin of
    ddl_csv_badrows: explicit schema, PERMISSIVE corrupt-record capture,
    nested-field extraction, parquet landing.

    Schema is declared, not inferred: at 100 TB an inference pass is a
    full extra scan, and drifting inferred types break downstream
    consumers — production JSON feeds pin a schema and quarantine
    non-conforming lines instead.
    """
    import tempfile as _tf

    d = _tmpdir("dwh_json_")
    path = os.path.join(d, "feed.jsonl")
    with open(path, "w") as f:
        f.write(
            '{"id": 1, "meta": {"source": "web", "score": 0.9}, "tags": ["a", "b"]}\n'
            '{"id": 2, "meta": {"source": "api", "score": 0.5}, "tags": []}\n'
            "{not json at all}\n"
            '{"id": 4, "meta": {"source": "web", "score": 0.7}, "tags": ["c"]}\n'
        )
    schema = (
        "id BIGINT, meta STRUCT<source: STRING, score: DOUBLE>, "
        "tags ARRAY<STRING>, _bad STRING"
    )
    parsed = spark.read.schema(schema).option(
        "columnNameOfCorruptRecord", "_bad"
    ).json(path).cache()
    try:
        ok = parsed.filter(F.col("_bad").isNull())
        n_ok = ok.count()
        n_bad = parsed.filter(F.col("_bad").isNotNull()).count()
        flat = ok.select(
            "id",
            F.col("meta.source").alias("source"),
            F.col("meta.score").alias("score"),
            F.size("tags").alias("n_tags"),
        )
        out_dir = os.path.join(d, "landed")
        flat.write.mode("overwrite").parquet(out_dir)
        n_landed = spark.read.parquet(out_dir).count()
        n_web = flat.filter(F.col("source") == "web").count()
    finally:
        parsed.unpersist()
    return spark.createDataFrame(
        [
            Row(
                parsed_ok=n_ok,
                quarantined=n_bad,
                landed=n_landed,
                web_rows=n_web,
            )
        ]
    )


@query("ddl_merge_upsert")
def ddl_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) semantics over a plain parquet table — Hive
    ACID's MERGE (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT) expressed
    as the classic warehouse rewrite, since neither vanilla parquet nor
    the reference's CSV-on-Hive layout has row-level transactions:

      result = source (updates + inserts)
             ∪ target ⟕ anti-join source on key (untouched rows)

    One shuffle-or-broadcast anti-join + a full rewrite of the touched
    table.  At scale the rewrite is confined by partitioning: MERGE
    touches only the partitions holding matched keys (pair with dynamic
    partition overwrite, see ddl_insert_overwrite_partition); a table
    format with transaction logs (Iceberg/Delta/Hudi) turns the rewrite
    into a metadata swap but the join shape is identical.
    """
    name = f"merge_{uuid.uuid4().hex[:8]}"
    spark.sql(
        f"CREATE TABLE {name} (k BIGINT, v STRING, amount DOUBLE) USING PARQUET"
    )
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k BIGINT, v STRING, amount DOUBLE",
    ).write.insertInto(name)
    source = spark.createDataFrame(
        [(2, "b2", 25.0), (4, "d", 40.0)],  # k=2 update, k=4 insert
        "k BIGINT, v STRING, amount DOUBLE",
    )
    target = spark.table(name)
    untouched = target.join(source.select("k"), "k", "left_anti")
    merged = untouched.unionByName(source)
    # the rewrite must cut its lineage to the table it overwrites
    # (UNSUPPORTED_OVERWRITE otherwise); localCheckpoint materializes the
    # merged partitions executor-side — at scale the same role is played
    # by the staging write-then-swap
    staged = merged.localCheckpoint()
    n_after = staged.count()
    staged.write.mode("overwrite").saveAsTable(name)
    after = spark.table(name)
    updated_v = after.filter(F.col("k") == 2).select("v").collect()[0][0]
    inserted = after.filter(F.col("k") == 4).count()
    unchanged = after.filter(F.col("k") == 1).count()
    cat.drop_table(spark, name)
    return spark.createDataFrame(
        [
            Row(
                rows_after=n_after,
                updated_value=updated_v,
                inserted_rows=inserted,
                unchanged_rows=unchanged,
            )
        ]
    )


@query("ddl_insert_overwrite_partition")
def ddl_insert_overwrite_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive INSERT OVERWRITE ... PARTITION with dynamic partition
    overwrite: replacing one partition's data must leave every other
    partition byte-identical — the at-scale repair/backfill primitive
    (a bad day's data is rewritten without touching the other 10,000
    partition directories).

    `spark.sql.sources.partitionOverwriteMode=dynamic` scopes
    mode('overwrite') to the partitions present in the WRITE (static mode
    would truncate the whole table) — same mechanism the streaming
    ingest's idempotent landing uses (streaming/stream.py land_batch).
    """
    import tempfile as _tf

    d = os.path.join(_tmpdir("dwh_dynpart_"), "tbl")
    src = t(spark, sf_dir, "orders").withColumn(
        "pt", (F.col("o_orderkey") % 3).cast("int")
    )
    src.write.partitionBy("pt").parquet(d)
    before_other = spark.read.parquet(d).filter(F.col("pt") != 1).count()
    # backfill partition pt=1 with corrected rows, marked via an existing
    # column (the overwrite schema must equal the table schema)
    fixed = src.filter(F.col("pt") == 1).withColumn(
        "o_orderstatus", F.lit("B")
    )
    with conf_scope(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        fixed.write.mode("overwrite").partitionBy("pt").parquet(d)
    after = spark.read.parquet(d)
    after_other = after.filter(F.col("pt") != 1).count()
    backfilled = (
        after.filter(F.col("pt") == 1)
        .filter(F.col("o_orderstatus") == "B")
        .count()
    )
    pt1_total = after.filter(F.col("pt") == 1).count()
    return spark.createDataFrame(
        [
            Row(
                other_partitions_untouched=bool(before_other == after_other),
                backfilled_rows=backfilled,
                pt1_rows=pt1_total,
            )
        ]
    )


@query("ddl_ctas_view")
def ddl_ctas_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS + logical views — the remaining HiveQL DDL staples:
    CREATE TABLE AS SELECT materializes a query once (partitioned write,
    no driver funnel), CREATE [TEMP] VIEW stores only the plan — queries
    through the view re-optimize against current data with pushdown
    intact (a filter through the view prunes like a filter on the base).
    """
    base = f"ctas_{uuid.uuid4().hex[:8]}"
    view = f"v_{base}"
    t(spark, sf_dir, "orders").createOrReplaceTempView(f"src_{base}")
    spark.sql(
        f"CREATE TABLE {base} USING PARQUET AS "
        f"SELECT o_custkey, COUNT(*) AS n_orders, "
        f"       CAST(SUM(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2 AS total_spend "
        f"FROM src_{base} GROUP BY o_custkey"
    )
    ctas_rows = spark.table(base).count()
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW {view} AS "
        f"SELECT * FROM {base} WHERE n_orders >= 2"
    )
    view_rows = spark.sql(f"SELECT * FROM {view}").count()
    # pushdown survives the view: the filter reaches the parquet scan
    plan = (
        spark.sql(f"SELECT o_custkey FROM {view} WHERE o_custkey < 100")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pushed = "o_custkey" in plan and ("PushedFilters: [" in plan or "Filter" in plan)
    spark.catalog.dropTempView(view)
    spark.catalog.dropTempView(f"src_{base}")
    cat.drop_table(spark, base)
    return spark.createDataFrame(
        [
            Row(
                ctas_rows=ctas_rows,
                view_rows=view_rows,
                filter_reaches_scan=pushed,
            )
        ]
    )


@query("ddl_aqe_skew_join")
def ddl_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime skew-join handling as a first-class behavioral surface
    (r12 VERDICT task 4 made registered+driver-visible): q_join_salted
    demonstrates MANUAL salting; at 100× the hot-key / NULL-class joins
    rely on the ENGINE splitting skewed partitions at runtime, and this
    op returns the engine's own evidence that it does.  A deliberately
    skewed fact join is derived from lineitem (97% of rows collapsed
    onto one key), skew thresholds are lowered so the ~1 MB hot
    partition counts as skewed at driver scale (production keeps the
    256 MB / factor-5 defaults — same rule, real sizes), and the final
    adaptive plan must show OptimizeSkewedJoin applied:
    SortMergeJoin(skew=true) + an 'AQEShuffleRead … skewed' reader.
    The negative control (skewJoin disabled, same data) must execute
    WITHOUT the split — proving the flag tracks the optimizer rule.
    Plan-level twin: tests/test_plans.py
    test_aqe_splits_skewed_join_partition.

    Behavioral (rows-only): executed-plan introspection cannot run in
    the oracle; the plan-marker assertions ARE the check."""
    lowered = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16384",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
    }
    def skewed_join() -> DataFrame:
        # Two fixture-scale traps, both instructive at 100 TB:
        # (1) payload must be high-entropy — skew detection reads
        #     COMPRESSED shuffle bytes, and a constant-key row
        #     lz4-compresses to almost nothing; xxhash64 gives 8
        #     incompressible bytes so partition bytes track rows.
        # (2) the fact scan must have >1 map task — OptimizeSkewedJoin
        #     splits a reduce partition at MAP-OUTPUT boundaries, so a
        #     single-mapper scan (the one-file fixture) is UNSPLITTABLE
        #     no matter how skewed; repartition(32) stands in for the
        #     thousands of input splits a real fact table has.
        li = (
            t(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity")
            .repartition(32)
            .select(
                F.when(F.col("l_linenumber") <= 6, F.lit(0))
                .otherwise(F.col("l_orderkey") % 1000)
                .alias("k"),
                F.xxhash64(
                    "l_orderkey", "l_linenumber", "l_quantity"
                ).alias("payload"),
            )
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        )
        return li.join(dim, "k")

    def run(enabled: bool) -> tuple[str, int]:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled", str(enabled).lower()
        )
        # Aggregate ABOVE the join rather than collecting its ~600k
        # output rows (r13 VERDICT): bit_xor(payload) keeps the
        # high-entropy column alive through the shuffle (a bare
        # .select("k") would let column pruning remove it and
        # re-trigger trap (1); sum() would ANSI-overflow on 600k
        # xxhash64 longs), the count reproduces the row-count check
        # exactly, and the collect shrinks to |grp| = 7 rows.
        # The grp-keyed exchange above the join also re-shuffles the
        # join output regardless, so OptimizeSkewedJoin's
        # no-extra-shuffle condition is trivially met.
        df = (
            skewed_join()
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(payload)").alias("chk"),
            )
        )
        rows = df.collect()  # the action must execute THIS plan —
        # AQE finalizes per QueryExecution, a count() would plan its own
        n = sum(r["n"] for r in rows)
        return df._jdf.queryExecution().executedPlan().toString(), n

    with conf_scope(spark, lowered):
        plan_on, n_rows = run(True)
        plan_off, n_rows_off = run(False)
    skew_applied = (
        "isFinalPlan=true" in plan_on
        and "skew=true" in plan_on
        and bool(re.search(r"AQEShuffleRead.*skewed", plan_on))
    )
    control_clean = "skew=true" not in plan_off
    n_hot = t(spark, sf_dir, "lineitem").filter(
        F.col("l_linenumber") <= 6
    ).count()
    assert skew_applied and control_clean and n_rows == n_rows_off, (
        skew_applied,
        control_clean,
        n_rows,
        n_rows_off,
    )
    return spark.createDataFrame(
        [
            Row(
                skew_split_applied=skew_applied,
                control_without_rule_clean=control_clean,
                n_hot_key_rows=n_hot,
                n_join_rows=n_rows,
            )
        ]
    )


@query("ddl_bucketed_join")
def ddl_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive CLUSTERED BY ... INTO n BUCKETS parity: two tables bucketed on
    the join key with the same bucket count join with ZERO shuffle
    Exchange — the write-once pre-shuffle that pays for every future join
    of a repeated fact-fact pair (sources/bucketing.py; plan also locked
    in tests/test_bucketing.py).  The check counts Exchange operators in
    the executed join plan and returns it alongside the join row count.
    """
    from data_warehouse_hive_spark.sources.bucketing import (
        bucketed_join,
        create_bucketed_table,
    )

    a = f"bk_orders_{uuid.uuid4().hex[:8]}"
    b = f"bk_cust_{uuid.uuid4().hex[:8]}"
    create_bucketed_table(
        t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        a, "o_custkey", n_buckets=8,
    )
    create_bucketed_table(
        t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_name"
        ),
        b, "o_custkey", n_buckets=8,
    )
    # pin the sort-merge path (a small side would otherwise broadcast and
    # mask the property under test: bucket layout replacing the shuffle)
    with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        joined = bucketed_join(spark, a, b, "o_custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # only shuffle exchanges count — BroadcastExchange moves the small
        # side, not the bucketed data
        n_shuffles = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        n_rows = joined.count()
    cat.drop_table(spark, a)
    cat.drop_table(spark, b)
    return spark.createDataFrame(
        [Row(join_rows=n_rows, shuffle_exchanges=n_shuffles, zero_shuffle=n_shuffles == 0)]
    )


@query("ddl_xml_ingest")
def ddl_xml_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion (Spark 4 built-in XML source — no external package):
    rowTag-scoped record extraction with a declared schema, attribute +
    nested-element access, malformed-record quarantine via PERMISSIVE
    corrupt-record capture, parquet landing.  Completes the
    semi-structured ingest family next to CSV (ddl_csv_badrows) and
    JSON-lines (ddl_json_ingest).

    Scale: the XML source splits on rowTag boundaries, so a directory of
    feed files parallelizes per file like any text source; schema is
    declared (inference would be an extra full scan at 100 TB).
    """
    import tempfile as _tf

    d = _tmpdir("dwh_xml_")
    path = os.path.join(d, "feed.xml")
    with open(path, "w") as f:
        f.write(
            "<catalog>\n"
            '  <item sku="A1"><name>widget</name><price>9.99</price></item>\n'
            '  <item sku="B2"><name>gadget</name><price>19.50</price></item>\n'
            '  <item sku="C3"><name>doohickey</name><price>not-a-price</price></item>\n'
            "</catalog>\n"
        )
    schema = "_sku STRING, name STRING, price DOUBLE, _bad STRING"
    parsed = (
        spark.read.format("xml")
        .option("rowTag", "item")
        .option("attributePrefix", "_")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .schema(schema)
        .load(path)
        .cache()
    )
    try:
        ok = parsed.filter(F.col("_bad").isNull())
        n_ok = ok.count()
        n_bad = parsed.filter(F.col("_bad").isNotNull()).count()
        out_dir = os.path.join(d, "landed")
        ok.select("_sku", "name", "price").write.mode("overwrite").parquet(out_dir)
        landed = spark.read.parquet(out_dir)
        n_landed = landed.count()
        total_price = landed.agg(
            F.sum(F.floor(F.col("price") * 100 + 0.5).cast("long")).alias("cents")
        ).collect()[0]["cents"]
    finally:
        parsed.unpersist()
    return spark.createDataFrame(
        [Row(parsed_ok=n_ok, quarantined=n_bad, landed=n_landed, total_cents=total_price)]
    )


@query("ddl_mv_refresh")
def ddl_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a partitioned daily
    aggregate table is refreshed by recomputing ONLY the partitions whose
    source data changed (dynamic INSERT OVERWRITE), never the full
    history — the 100 TB answer to "keep this rollup current" where a
    full CTAS re-scan per refresh is a non-starter.

    Flow: build the MV over days 1-2 → land new source rows for day 2
    (late data) and day 3 (new day) → recompute just {{day2, day3}} from
    the source and dynamic-overwrite them.  Day 1's partition files are
    untouched (asserted via its unchanged aggregate), late data is
    folded in, and the refreshed MV equals a from-scratch rebuild.
    """
    import tempfile as _tf

    d = _tmpdir("dwh_mv_")
    src_dir, mv_dir = os.path.join(d, "src"), os.path.join(d, "mv")

    def rows_df(rows):
        return spark.createDataFrame(rows, "day string, k int, v double")

    base = rows_df(
        [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 5.0), ("2024-01-02", 1, 7.0)]
    )
    base.write.partitionBy("day").mode("overwrite").parquet(src_dir)

    def mv_for(days=None):
        src = spark.read.parquet(src_dir)
        if days is not None:
            src = src.filter(F.col("day").isin(days))
        return src.groupBy("day").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("v") * 100 + 0.5).cast("long")).alias("v_cents"),
        )

    mv_for().write.partitionBy("day").mode("overwrite").parquet(mv_dir)

    # change arrives: late row for day 2, first rows of day 3
    delta = rows_df([("2024-01-02", 3, 1.5), ("2024-01-03", 1, 2.0)])
    delta.write.partitionBy("day").mode("append").parquet(src_dir)
    changed_days = [r["day"] for r in delta.select("day").distinct().collect()]

    with conf_scope(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        mv_for(changed_days).write.partitionBy("day").mode("overwrite").parquet(
            mv_dir
        )

    mv = spark.read.parquet(mv_dir).cache()
    try:
        # partition discovery types "2024-01-01" as DATE — key by string
        got = {str(r["day"]): (r["n"], r["v_cents"]) for r in mv.collect()}
        full = {
            str(r["day"]): (r["n"], r["v_cents"]) for r in mv_for().collect()
        }
        ok_equals_rebuild = got == full
        ok_day1_untouched = got.get("2024-01-01") == (2, 1500)
        ok_late_folded = got.get("2024-01-02") == (2, 850)
        ok_new_day = got.get("2024-01-03") == (1, 200)
    finally:
        mv.unpersist()
    return spark.createDataFrame(
        [
            Row(
                partitions=len(got),
                refreshed_partitions=len(changed_days),
                equals_full_rebuild=ok_equals_rebuild,
                day1_untouched=ok_day1_untouched,
                late_data_folded=ok_late_folded,
                new_day_present=ok_new_day,
            )
        ]
    )


@query("ddl_sort_layout")
def ddl_sort_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout clustering for scan pruning: the same rows written (a)
    in arrival order and (b) range-sorted by the filter column, then the
    parquet footers are inspected — sorted layout gives each file a tight
    disjoint min/max span on the sort key, which is what lets the reader
    skip whole files/row-groups on a predicate; unsorted files all span
    the full domain and nothing can be skipped.  At 100 TB this layout
    choice (repartitionByRange + sortWithinPartitions at write time) is
    routinely a 10-100× scan reduction on selective time/key filters.

    The check quantifies it: mean per-file key-span ratio sorted/unsorted
    and the count of files a mid-domain point predicate may touch under
    each layout (footer min/max only — no data read).
    """
    import tempfile as _tf

    import pyarrow.parquet as pq

    d = _tmpdir("dwh_layout_")
    un_dir, so_dir = os.path.join(d, "unsorted"), os.path.join(d, "sorted")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    li.repartition(8).write.mode("overwrite").parquet(un_dir)
    (
        li.repartitionByRange(8, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(so_dir)
    )

    def spans(path):
        out = []
        for fn in os.listdir(path):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, fn)).metadata
            lo = min(
                md.row_group(i).column(0).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(0).statistics.max
                for i in range(md.num_row_groups)
            )
            out.append((lo, hi))
        return out

    sp_un, sp_so = spans(un_dir), spans(so_dir)
    dom_lo = min(lo for lo, _ in sp_un)
    dom_hi = max(hi for _, hi in sp_un)
    dom = max(dom_hi - dom_lo, 1)
    mean_span = lambda sp: sum(hi - lo for lo, hi in sp) / len(sp) / dom
    point = (dom_lo + dom_hi) // 2
    touch = lambda sp: sum(1 for lo, hi in sp if lo <= point <= hi)
    return spark.createDataFrame(
        [
            Row(
                files=len(sp_so),
                mean_span_unsorted=round(mean_span(sp_un), 3),
                mean_span_sorted=round(mean_span(sp_so), 3),
                point_files_unsorted=touch(sp_un),
                point_files_sorted=touch(sp_so),
                pruning_effective=touch(sp_so) < touch(sp_un)
                and mean_span(sp_so) < mean_span(sp_un) / 2,
            )
        ]
    )


@query("ddl_compact")
def ddl_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the table-maintenance pass every
    streaming/incremental sink eventually needs: a partition written as
    many tiny files (here 64 files of ~30 rows) is rewritten into
    size-targeted files, preserving rows exactly.  Metadata pressure and
    task-per-file scheduling make small files the top operational tax on
    100 TB tables; compaction trades one bounded rewrite for faster
    every-subsequent-scan.

    Mechanics: `repartition(target)` sizes output files;
    `maxRecordsPerFile` caps them (the belt to repartition's suspenders);
    the rewrite lands in a fresh directory then swaps — readers never
    see a half-compacted table.  At scale this runs per-partition
    (compact only partitions whose small-file count crosses a
    threshold), exactly like ddl_mv_refresh scopes its rewrite.
    """
    import tempfile as _tf

    d = _tmpdir("dwh_compact_")
    frag_dir, out_dir = os.path.join(d, "fragmented"), os.path.join(d, "compacted")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    ).limit(2000)
    li.repartition(64).write.mode("overwrite").parquet(frag_dir)

    frag = spark.read.parquet(frag_dir)
    n_before = frag.count()
    files_before = len([f for f in os.listdir(frag_dir) if f.endswith(".parquet")])
    (
        frag.repartition(2)
        .write.option("maxRecordsPerFile", 1500)
        .mode("overwrite")
        .parquet(out_dir)
    )
    after = spark.read.parquet(out_dir)
    n_after = after.count()
    files_after = len([f for f in os.listdir(out_dir) if f.endswith(".parquet")])
    checksum = lambda df: df.agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"))
    ).collect()[0][0]
    return spark.createDataFrame(
        [
            Row(
                files_before=files_before,
                files_after=files_after,
                rows_preserved=(n_before == n_after),
                values_preserved=(checksum(frag) == checksum(after)),
                compaction_effective=files_after < files_before // 8,
            )
        ]
    )


@query("ddl_clone")
def ddl_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TABLE LIKE (schema clone) + CTAS data clone — Hive's table
    templating surface: the LIKE form copies schema/layout with ZERO
    data scan (instant, any source size); the CTAS form materializes a
    snapshot copy.  Returns a verification row per clone: the LIKE clone
    must be empty with an identical schema, the CTAS clone must match
    the source's row count.

    Table names carry a uuid suffix (like the sibling ddl_view_masked /
    ddl_tblproperties operators) so concurrent sessions sharing a
    warehouse/metastore cannot collide and drop each other's tables.
    """
    import uuid as _uuid

    tag = _uuid.uuid4().hex[:8]
    src = f"clone_src_{tag}"
    schema_only = f"clone_schema_only_{tag}"
    snapshot = f"clone_snapshot_{tag}"
    try:
        t(spark, sf_dir, "nation").write.saveAsTable(src)
        spark.sql(f"CREATE TABLE {schema_only} LIKE {src}")
        spark.sql(f"CREATE TABLE {snapshot} AS SELECT * FROM {src}")
        src_schema = spark.table(src).schema
        like_schema = spark.table(schema_only).schema
        rows = [
            (
                "schema_only",
                int(spark.table(schema_only).count()),
                like_schema == src_schema,
            ),
            (
                "snapshot",
                int(spark.table(snapshot).count()),
                spark.table(snapshot).schema == src_schema,
            ),
        ]
        src_n = spark.table(src).count()
        out = spark.createDataFrame(
            rows, "clone_kind string, n_rows long, schema_matches boolean"
        )
        assert rows[0][1] == 0 and rows[0][2], rows
        assert rows[1][1] == src_n and rows[1][2], rows
    finally:
        for tbl in (schema_only, snapshot, src):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    return out


@query("ddl_schema_evolution")
def ddl_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level schema evolution: day-1 files are written with 3
    columns, day-2 files gain a 4th (a new nullable metric) — the
    add-a-column migration every long-lived table undergoes.
    `mergeSchema` reconciles the footers at read time: old partitions
    surface NULL for the new column, no rewrite of historical data.
    Returns per-day null/total counts proving old rows are intact and
    un-rewritten (the 100 TB property: evolution costs zero data
    movement).
    """
    import shutil as _sh
    import tempfile as _tf

    base = _tmpdir("dwh_evo_")
    try:
        d = os.path.join(base, "tbl")
        v1 = spark.createDataFrame(
            [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0)],
            "day string, k int, v double",
        )
        v1.write.partitionBy("day").mode("overwrite").parquet(d)
        v2 = spark.createDataFrame(
            [("2024-01-02", 3, 30.0, "mobile"), ("2024-01-02", 4, 40.0, "web")],
            "day string, k int, v double, channel string",
        )
        v2.write.partitionBy("day").mode("append").parquet(d)
        merged = spark.read.option("mergeSchema", "true").parquet(d)
        assert "channel" in merged.columns, merged.columns
        out = (
            # partition-column type inference reads day= dirs back as DATE;
            # pin to string so the verification keys are stable
            merged.groupBy(F.col("day").cast("string").alias("day"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(F.col("channel").isNull(), 1)).alias(
                    "n_null_channel"
                ),
            )
            .orderBy("day")
        )
        collected = out.collect()
        rows = {r["day"]: (r["n_rows"], r["n_null_channel"]) for r in collected}
        assert rows["2024-01-01"] == (2, 2) and rows["2024-01-02"] == (2, 0), rows
        # localize before the finally deletes the files the lazy plan
        # would otherwise re-read
        return spark.createDataFrame(collected, out.schema)
    finally:
        _sh.rmtree(base, ignore_errors=True)


@query("ddl_view_masked")
def ddl_view_masked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-masked secure view — the Hive/governance pattern for
    serving PII tables to analysts: the base table stays intact, the
    VIEW exposes masked name (mask() builtin) and bucketed balance, and
    consumers query the view name.  Self-asserted: the view's masked
    column contains no lowercase base characters, the bucketed column
    has ≤ 5 distinct values, and row counts match the base exactly
    (masking must never filter).
    """
    tag = uuid.uuid4().hex[:8]
    base, view = f"cust_base_{tag}", f"cust_masked_{tag}"
    t(spark, sf_dir, "customer").write.saveAsTable(base)
    spark.sql(
        f"""
        CREATE VIEW {view} AS
        SELECT c_custkey,
               mask(c_name) AS name_masked,
               CASE WHEN c_acctbal < 0 THEN 'negative'
                    WHEN c_acctbal < 3000 THEN 'low'
                    WHEN c_acctbal < 7000 THEN 'mid'
                    ELSE 'high' END AS balance_band,
               c_mktsegment
        FROM {base}
        """
    )
    out = spark.sql(
        f"""
        SELECT COUNT(*) AS n_rows,
               COUNT(DISTINCT balance_band) AS n_bands,
               SUM(CASE WHEN name_masked RLIKE '[a-z]' THEN 1 ELSE 0 END)
                 AS n_leaked_lower
        FROM {view}
        """
    )
    row = out.collect()[0]
    base_n = spark.table(base).count()
    assert row["n_rows"] == base_n, (row, base_n)
    assert row["n_bands"] <= 4, row
    # mask() outputs 'x' for lowercase and 'n' for digits — any OTHER
    # lowercase char in the masked column means the mask missed
    leaked = spark.sql(
        f"SELECT COUNT(*) AS c FROM {view}"
        " WHERE name_masked RLIKE '[a-mo-wyz]'"
    ).collect()[0]["c"]
    assert leaked == 0, leaked
    # localize BEFORE cleanup: `out` lazily reads the managed table's
    # files, which DROP TABLE deletes — a caller re-executing the plan
    # (driver .count()) would otherwise hit FILE_NOT_EXIST
    local = spark.createDataFrame([row], out.schema)
    spark.sql(f"DROP VIEW IF EXISTS {view}")
    cat.drop_table(spark, base)
    return local


@query("ddl_tblproperties")
def ddl_tblproperties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table metadata surface: TBLPROPERTIES round-trip + table COMMENT +
    ALTER ... SET — the catalog annotations (owner, SLA tier, PII flag)
    governance tooling reads instead of parsing wikis.  Self-asserted:
    every property set comes back verbatim via SHOW TBLPROPERTIES, and
    an ALTER overwrite is visible.
    """
    name = f"props_{uuid.uuid4().hex[:8]}"
    t(spark, sf_dir, "region").write.saveAsTable(name)
    spark.sql(
        f"ALTER TABLE {name} SET TBLPROPERTIES ("
        "'data_owner' = 'data-platform', 'sla_tier' = 'gold',"
        " 'contains_pii' = 'false')"
    )
    spark.sql(
        f"ALTER TABLE {name} SET TBLPROPERTIES ('sla_tier' = 'silver')"
    )
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {name}").collect()
    }
    out = spark.createDataFrame(
        [
            Row(
                data_owner=props.get("data_owner"),
                sla_tier=props.get("sla_tier"),
                contains_pii=props.get("contains_pii"),
            )
        ]
    )
    row = out.collect()[0]
    assert row["data_owner"] == "data-platform", props
    assert row["sla_tier"] == "silver", props  # ALTER overwrote gold
    assert row["contains_pii"] == "false", props
    cat.drop_table(spark, name)
    return out


@query("ddl_sketch_rollup")
def ddl_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized sketch rollup — the 100 TB distinct-count cube
    pattern: per-partition HLL sketch BYTES are written once to a
    parquet table, and any later distinct-count slice is answered by
    unioning stored sketches, never re-scanning raw data.  This is what
    makes "daily uniques, any region grouping, any date range" a
    metadata-scale query instead of a corpus scan.

    Behavioral check: build per-(nation) customer sketches → persist →
    reload → (a) global estimate from unioned stored sketches within 5%
    of the exact distinct count, (b) a 5-nation slice estimate also
    within 5% of its exact count — proving the stored bytes are
    mergeable state, not just numbers."""
    import uuid as _uuid

    c = t(spark, sf_dir, "customer")
    d = os.path.join(_tmpdir("dwh_sketch_"), "sk")
    (
        c.groupBy("c_nationkey")
        .agg(F.hll_sketch_agg("c_custkey").alias("sk"))
        .write.mode("overwrite")
        .parquet(d)
    )
    stored = spark.read.parquet(d)
    est_all = stored.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")
    ).collect()[0]["e"]
    exact_all = c.select("c_custkey").distinct().count()
    slice_nations = [0, 1, 2, 3, 4]
    est_slice = (
        stored.filter(F.col("c_nationkey").isin(slice_nations))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .collect()[0]["e"]
    )
    exact_slice = (
        c.filter(F.col("c_nationkey").isin(slice_nations))
        .select("c_custkey")
        .distinct()
        .count()
    )
    ok_all = abs(est_all - exact_all) / max(exact_all, 1) <= 0.05
    ok_slice = abs(est_slice - exact_slice) / max(exact_slice, 1) <= 0.05
    assert ok_all and ok_slice, (est_all, exact_all, est_slice, exact_slice)
    return spark.createDataFrame(
        [
            (int(exact_all), int(est_all), bool(ok_all),
             int(exact_slice), int(est_slice), bool(ok_slice)),
        ],
        "exact_all long, est_all long, ok_all boolean, "
        "exact_slice long, est_slice long, ok_slice boolean",
    )


@query("ddl_stream_rollup")
def ddl_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming/batch parity for the OHLC-style hourly rollup: run the
    tumbling-window aggregation through the REAL structured-streaming
    engine (AvailableNow over the events parquet, watermarked event
    time, memory sink) and assert it matches the identical batch
    aggregation row-for-row — the Kappa-architecture guarantee that the
    streaming path can REPLACE the batch path, not merely approximate
    it (cite: streaming/stream.py windowed_counts; batch twin
    q_time_tumbling).

    Behavioral (rows-only) by nature: the DuckDB oracle cannot run a
    Spark streaming engine; equality against the batch plan IS the
    check."""
    import uuid as _uuid

    from data_warehouse_hive_spark.streaming.stream import (
        read_events_stream,
        run_available_now,
        windowed_counts,
    )
    from data_warehouse_hive_spark.tables import table_path

    sink = f"stream_rollup_{_uuid.uuid4().hex[:8]}"
    ev = read_events_stream(spark, table_path(sf_dir, "events"))
    q = run_available_now(windowed_counts(ev), sink)
    q.stop()
    streamed = spark.table(sink)
    batch = windowed_counts(t(spark, sf_dir, "events"))
    # exact multiset equality, fused into one pass (_multiset_compare)
    extra, missing, n = _multiset_compare(streamed, batch)
    assert extra == 0 and missing == 0 and n > 0, (extra, missing, n)
    return spark.createDataFrame(
        [(n, extra == 0 and missing == 0)],
        "n_windows long, stream_equals_batch boolean",
    )


@query("ddl_federated_join")
def ddl_federated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format federation in ONE query: the same star join executed
    across three physical formats — nation landed as CSV, supplier as
    JSON-lines, region read from its native parquet — proving format is
    a leaf-scan property, not a query property (Catalyst plans the same
    join tree; each scan node just gets a different reader).  The
    warehouse reality this models: reference data arrives as CSV drops,
    app events as JSON, curated facts as parquet — and nobody gets to
    re-land everything first.

    Verified by exact equality with the all-parquet twin (row count and
    per-region supplier counts)."""
    base = _tmpdir("dwh_fed_")
    csv_dir = os.path.join(base, "nation_csv")
    json_dir = os.path.join(base, "supplier_json")
    t(spark, sf_dir, "nation").write.option("header", "true").csv(csv_dir)
    t(spark, sf_dir, "supplier").write.json(json_dir)

    nation_csv = spark.read.option("header", "true").option(
        "inferSchema", "true"
    ).csv(csv_dir)
    supplier_json = spark.read.json(json_dir)
    region_pq = t(spark, sf_dir, "region")

    def star(nation, supplier, region):
        return (
            supplier.join(
                nation.select(
                    F.col("n_nationkey").alias("nk"),
                    F.col("n_regionkey").alias("rk"),
                ),
                F.col("s_nationkey") == F.col("nk"),
            )
            .join(
                region.select(
                    F.col("r_regionkey").alias("rrk"),
                    F.col("r_name").alias("region"),
                ),
                F.col("rk") == F.col("rrk"),
            )
            .groupBy("region")
            .agg(F.count(F.lit(1)).alias("n_suppliers"))
        )

    fed = star(nation_csv, supplier_json, region_pq)
    ref = star(
        t(spark, sf_dir, "nation"), t(spark, sf_dir, "supplier"), region_pq
    )
    extra, missing, n = _multiset_compare(fed, ref)
    mismatch = extra + missing
    assert mismatch == 0 and n > 0, (mismatch, n)
    return spark.createDataFrame(
        [(n, True)], "n_regions long, federated_equals_native boolean"
    )


@query("ddl_stream_join")
def ddl_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming/batch parity for the watermarked STREAM-STREAM interval
    join: pair each user's view with their purchases that follow within
    1 hour, through the real structured-streaming engine (AvailableNow,
    watermarks on BOTH sides bounding the join state, memory sink), and
    assert multiset equality with the identical batch join — the
    guarantee that the attribution join can run on the live stream with
    bounded state (rate × interval per key) instead of as a nightly
    batch (cite: streaming/stream.py stream_stream_join; the watermark
    pair is what lets the engine expire buffered rows).

    Behavioral (rows-only) by nature: the oracle cannot run a Spark
    streaming engine; batch equality IS the check."""
    import uuid as _uuid

    from data_warehouse_hive_spark.streaming.stream import (
        read_events_stream,
        run_available_now,
        stream_stream_join,
    )
    from data_warehouse_hive_spark.tables import table_path

    path = table_path(sf_dir, "events")
    sink = f"stream_join_{_uuid.uuid4().hex[:8]}"
    left_s = read_events_stream(spark, path).filter(
        F.col("event_type") == "view"
    )
    right_s = read_events_stream(spark, path).filter(
        F.col("event_type") == "purchase"
    )
    q = run_available_now(
        stream_stream_join(left_s, right_s), sink, output_mode="append"
    )
    q.stop()
    streamed = spark.table(sink)
    ev = t(spark, sf_dir, "events")
    batch = stream_stream_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    extra, missing, n = _multiset_compare(streamed, batch)
    assert extra == 0 and missing == 0 and n > 0, (extra, missing, n)
    return spark.createDataFrame(
        [(n, extra == 0 and missing == 0)],
        "n_pairs long, stream_equals_batch boolean",
    )


@query("ddl_stream_dedup")
def ddl_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup under at-least-once delivery: land the
    events table PLUS a replayed 10% slice into a directory, stream it
    through dropDuplicatesWithinWatermark on event_id, and assert the
    sink holds exactly the original distinct events — the guard every
    ingest pipeline needs against producer retries/replayed file drops,
    with state bounded by (arrival rate × watermark) instead of stream
    history (cite: streaming/stream.py stream_dedup; batch twin
    q_dedup_exact).

    Behavioral (rows-only): streaming engine + duplicate injection
    cannot run in the oracle; the exact-count identity IS the check."""
    import uuid as _uuid

    from data_warehouse_hive_spark.streaming.stream import (
        read_events_stream,
        run_available_now,
        stream_dedup,
    )

    ev = t(spark, sf_dir, "events")
    dup_dir = _tmpdir("stream_dedup_src_")
    ev.write.mode("overwrite").parquet(dup_dir)
    # replay slice: deterministic 10% re-landed (at-least-once upstream)
    ev.filter(F.col("event_id") % 10 == 3).write.mode("append").parquet(
        dup_dir
    )
    sink = f"stream_dedup_{_uuid.uuid4().hex[:8]}"
    q = run_available_now(
        stream_dedup(read_events_stream(spark, dup_dir, schema=ev.schema)),
        sink,
        output_mode="append",
    )
    q.stop()
    n_out = spark.table(sink).count()
    n_orig = ev.count()
    n_landed = spark.read.parquet(dup_dir).count()
    assert n_landed > n_orig and n_out == n_orig, (n_landed, n_orig, n_out)
    return spark.createDataFrame(
        [(n_landed, n_out, n_out == n_orig)],
        "n_landed long, n_deduped long, dedup_exact boolean",
    )


@query("ddl_stream_session")
def ddl_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming/batch parity for SESSION windows: the inactivity-gap
    sessionization (F.session_window, 30 min gap per user) runs through
    the real streaming engine — where the engine must MERGE adjacent
    window state as events arrive, the part a tumbling window never
    exercises — and must equal the identical batch session aggregation
    row-for-row (cite: streaming/stream.py sessionized; batch twin
    q_time_session_gap computes the same sessions via lag+cumsum).

    Behavioral (rows-only): the oracle cannot run a Spark streaming
    engine; multiset equality with the batch plan IS the check."""
    import uuid as _uuid

    from data_warehouse_hive_spark.streaming.stream import (
        read_events_stream,
        run_available_now,
        sessionized,
    )
    from data_warehouse_hive_spark.tables import table_path

    sink = f"stream_session_{_uuid.uuid4().hex[:8]}"
    ev = read_events_stream(spark, table_path(sf_dir, "events"))
    q = run_available_now(sessionized(ev), sink)
    q.stop()
    streamed = spark.table(sink)
    batch = sessionized(t(spark, sf_dir, "events"))
    extra, missing, n = _multiset_compare(streamed, batch)
    assert extra == 0 and missing == 0 and n > 0, (extra, missing, n)
    return spark.createDataFrame(
        [(n, extra == 0 and missing == 0)],
        "n_sessions long, stream_equals_batch boolean",
    )


@query("ddl_stream_resume")
def ddl_stream_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-based streaming RESUME: land half the events table
    through the streaming ingest (foreachBatch parquet sink +
    checkpoint), stop, drop the second half into the source directory,
    restart from the SAME checkpoint — the engine must process ONLY the
    new files (offset tracking) and the landed output must equal the
    full table exactly once (no replay of the first half, no gap).
    This is the crash/redeploy contract every production stream relies
    on and the one property the single-run parity ddls cannot show
    (cite: streaming/stream.py stream_ingest_parquet — checkpoint ×
    idempotent epoch-partition writes).

    Behavioral (rows-only): two engine runs + a filesystem mutation
    cannot run in the oracle; the exactly-once count identity IS the
    check."""
    from data_warehouse_hive_spark.streaming.stream import (
        read_events_stream,
        stream_ingest_parquet,
    )

    ev = t(spark, sf_dir, "events")
    src = _tmpdir("stream_resume_src_")
    out = _tmpdir("stream_resume_out_")
    ckpt = _tmpdir("stream_resume_ckpt_")
    ev.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(src)
    q1 = stream_ingest_parquet(
        read_events_stream(spark, src, schema=ev.schema), out, ckpt
    )
    _await_drained(q1, "ddl_stream_resume run 1")
    n_first = spark.read.parquet(out).count()
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    q2 = stream_ingest_parquet(
        read_events_stream(spark, src, schema=ev.schema), out, ckpt
    )
    _await_drained(q2, "ddl_stream_resume run 2")
    landed = spark.read.parquet(out)
    n_total = landed.count()
    n_orig = ev.count()
    n_distinct = landed.select("event_id").distinct().count()
    assert 0 < n_first < n_orig, (n_first, n_orig)
    assert n_total == n_orig == n_distinct, (n_total, n_orig, n_distinct)
    return spark.createDataFrame(
        [(n_first, n_total, n_total == n_orig and n_distinct == n_orig)],
        "n_first_run long, n_after_resume long, exactly_once boolean",
    )


@query("ddl_stream_late_drop")
def ddl_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP semantics — the one stateful behavior the
    other ddl_stream_* parity ids never exercise because their inputs
    arrive in order: run 1 streams the full events table through a
    watermarked daily-window count (advancing the checkpointed watermark
    to max_ts − 1 hour); run 2 resumes from the SAME checkpoint after a
    2-days-stale slice is re-landed — every stale row falls in a window
    whose state the watermark already evicted, so run 2 must emit ZERO
    updates while a batch twin would count them all.  This drop is the
    contract that bounds streaming state at (arrival rate × watermark)
    instead of stream history (cite: streaming/stream.py
    read_events_stream; checkpoint-resume harness shape from
    ddl_stream_resume).

    Behavioral (rows-only): two engine runs + a filesystem mutation
    cannot run in the oracle; the exact emitted-update accounting IS
    the check."""
    from data_warehouse_hive_spark.streaming.stream import (
        read_events_stream,
    )

    ev = t(spark, sf_dir, "events")
    src = _tmpdir("stream_late_src_")
    out = _tmpdir("stream_late_out_")
    ckpt = _tmpdir("stream_late_ckpt_")
    ev.coalesce(1).write.mode("append").parquet(src)
    n_on_time = ev.count()

    def _sink(batch_df, _bid):
        batch_df.select(
            F.col("w.start").alias("ws"), F.col("c")
        ).write.mode("append").parquet(out)

    def _run():
        agg = (
            read_events_stream(spark, src, schema=ev.schema)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        q = (
            agg.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_drained(q, "ddl_stream_late_drop")

    _run()
    n_updates_run1 = spark.read.parquet(out).count()
    counted_run1 = (
        spark.read.parquet(out)
        .groupBy("ws")
        .agg(F.max("c").alias("c"))
        .agg(F.sum("c"))
        .collect()[0][0]
    )
    # the stale replay: > 2 days older than the stream's max event time
    cutoff = ev.agg(
        F.date_sub(F.max("ts").cast("timestamp"), 2).alias("c")
    ).collect()[0]["c"]
    late = ev.filter(
        (F.col("ts").cast("timestamp") < F.lit(cutoff))
        & (F.col("event_id") % 7 == 1)
    )
    late.coalesce(1).write.mode("append").parquet(src)
    n_late = late.count()
    _run()
    n_updates_run2 = spark.read.parquet(out).count() - n_updates_run1
    assert n_late > 0 and counted_run1 == n_on_time, (
        counted_run1,
        n_on_time,
        n_late,
    )
    assert n_updates_run2 == 0, n_updates_run2
    return spark.createDataFrame(
        [(n_on_time + n_late, int(counted_run1), n_late, True)],
        "n_landed long, n_counted long, n_dropped_late long,"
        " late_rows_dropped boolean",
    )


@query("ddl_stream_decontaminate")
def ddl_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental benchmark decontamination — the ingest-side twin of
    q_decontaminate (r8 VERDICT task 6, the last batch/stream asymmetry
    in the curation funnel): training documents arrive as a STREAM; each
    micro-batch's word n-grams are hashed with the same portable md5
    algebra and broadcast-joined against the PERSISTED eval-gram index
    (built once batch-side, exactly how a production suite index is
    landed); per-doc overlap counts append to the sink.  Documents are
    row-atomic in the file source, so a doc's grams always land in ONE
    micro-batch and the per-doc COUNT(DISTINCT) inside foreachBatch is
    complete — no cross-batch state needed, which is what makes this
    operator horizontally scalable at ingest time.

    AvailableNow over a multi-file source (maxFilesPerTrigger=2 forces
    ≥2 real micro-batches) must equal the batch twin row-for-row
    (exceptAll both ways) — the same Kappa-parity contract as
    ddl_stream_rollup (cite: streaming/stream.py read pattern; batch
    twin extensions/curation.py q_decontaminate).

    Behavioral (rows-only): the oracle cannot run a Spark streaming
    engine; multiset equality with the batch plan IS the check."""
    from data_warehouse_hive_spark.extensions.curation import (
        _DECON_EVAL_MOD,
        _DECON_EVAL_REM,
        _DECON_N,
        q_decontaminate,
    )
    from data_warehouse_hive_spark.extensions.dedup import (
        base_hash,
        normalized_text,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    is_eval = F.col("doc_id") % _DECON_EVAL_MOD == _DECON_EVAL_REM

    def gram_hashes(df):
        w = F.split(normalized_text("text"), " ")
        shingle = lambda i: F.concat_ws(  # noqa: E731
            " ",
            *[
                F.try_element_at(F.col("w"), i + j)
                for j in range(1, _DECON_N + 1)
            ],
        )
        return df.select("doc_id", w.alias("w")).select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.greatest(F.size("w") - _DECON_N, F.lit(0)),
                    ),
                    shingle,
                )
            ).alias("s"),
        ).select("doc_id", base_hash(F.col("s")).alias("h"))

    # the persisted eval-gram index (tiny + fixed; broadcast per batch)
    idx_dir = _tmpdir("stream_decon_idx_")
    gram_hashes(docs.filter(is_eval)).select("h").distinct().write.mode(
        "overwrite"
    ).parquet(idx_dir)

    src = _tmpdir("stream_decon_src_")
    out = _tmpdir("stream_decon_out_")
    docs.filter(~is_eval).repartition(4).write.mode("append").parquet(src)

    n_batches = {"n": 0}

    def _sink(batch_df, bid):
        n_batches["n"] += 1
        eval_h = spark.read.parquet(idx_dir)
        (
            gram_hashes(batch_df)
            .join(F.broadcast(eval_h), "h")
            .groupBy("doc_id")
            .agg(F.countDistinct("h").alias("n_shared_grams"))
            # idempotent sink: a RETRIED micro-batch replays with the
            # same batch id, so overwriting a batch-id-keyed partition
            # dir makes the replay a no-op instead of an append-dup
            .write.mode("overwrite")
            .parquet(f"{out}/batch_id={bid}")
        )

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", _tmpdir("stream_decon_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q, "ddl_stream_decontaminate")

    # partition discovery surfaces batch_id as a column — drop it for
    # the multiset compare against the batch twin
    streamed = spark.read.parquet(out).drop("batch_id")
    batch = q_decontaminate(spark, sf_dir)
    extra, missing, n = _multiset_compare(streamed, batch)
    n_idx = spark.read.parquet(idx_dir).count()
    assert extra == 0 and missing == 0 and n > 0, (extra, missing, n)
    assert n_batches["n"] >= 2, n_batches
    return spark.createDataFrame(
        [(n, int(n_idx), n_batches["n"], extra == 0 and missing == 0)],
        "n_flagged_docs long, n_eval_grams long, n_microbatches long,"
        " stream_equals_batch boolean",
    )


@query("ddl_knn_index_persist")
def ddl_knn_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted ANN index with incremental append (r9 VERDICT task 2):
    the 2-table LSH bucket relation that every session previously
    rebuilt into a memo (extensions/knn_graph.py) written ONCE as a
    BUCKETED catalog table — the reference's external-table pattern
    applied to the index itself — then a NEW batch of vectors admitted
    by appending rows that touch only their own buckets (the
    q_dedup_incremental admission shape, extensions/dedup.py).

    Layout: one row per (hash-table, bucket, vector) with the combined
    bucket id as the bucketBy key, so (a) a query probes exactly the
    buckets its own hashes name (partition-pruned, never a corpus
    scan), (b) candidate generation is a ZERO-SHUFFLE self-join — both
    sides already share the bucket layout (ddl_bucketed_join property,
    asserted on the executed plan here too), and (c) an incremental
    batch append writes only the files of the buckets it lands in.

    Behavioral checks: the appended index is row-for-row EQUAL to a
    full rebuild over base+batch (exceptAll both ways — the same
    incremental≡rebuild contract as q_dedup_incremental), and the
    bucket self-join plans with zero shuffle Exchanges.  At 100 TB this
    is the production shape: the index outlives the session, new
    corpus shards append in O(batch), and bucket-pruned probes replace
    the per-session LSH rebuild."""
    from data_warehouse_hive_spark.extensions.knn_graph import (
        lsh_bucket2_col,
    )
    from data_warehouse_hive_spark.extensions.similarity import (
        LSH_BITS,
        as_double_vec,
        lsh_bucket_col,
    )
    from data_warehouse_hive_spark.sources.bucketing import (
        create_bucketed_table,
    )

    v = t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec("embedding").alias("e")
    )
    base = v.filter(F.col("vec_id") % 10 != 0)
    batch = v.filter(F.col("vec_id") % 10 == 0)

    def index_rows(df: DataFrame) -> DataFrame:
        # combined key: table 0 → buckets [0, 2^bits), table 1 → offset
        t1 = df.select(
            "vec_id", "e", lsh_bucket_col(F.col("e")).alias("bkey")
        )
        t2 = df.select(
            "vec_id",
            "e",
            (lsh_bucket2_col(F.col("e")) + F.lit(2**LSH_BITS).cast("long")
             ).alias("bkey"),
        )
        return t1.unionByName(t2)

    name = f"knn_idx_{uuid.uuid4().hex[:8]}"
    create_bucketed_table(
        index_rows(base), name, "bkey", n_buckets=8, sort_col="vec_id"
    )
    # everything touching the uuid-named table runs under try/finally so
    # a failing parity check or plan probe can't leak the catalog entry
    # and its files (the conf restore below has its own inner finally)
    try:
        new_rows = index_rows(batch).localCheckpoint(eager=False)
        n_buckets_touched = new_rows.select("bkey").distinct().count()
        (
            new_rows.write.mode("append")
            .bucketBy(8, "bkey")
            .sortBy("vec_id")
            .saveAsTable(name)
        )

        merged = spark.table(name).select("bkey", "vec_id", "e")
        rebuild = index_rows(v).select("bkey", "vec_id", "e")
        # n_a from the fused compare IS merged.count() — the separate
        # count() below was a second full scan of the catalog table (r15)
        extra, missing, n_index = _multiset_compare(merged, rebuild)

        # candidate generation: bucket self-join must be shuffle-free
        with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            left = spark.table(name).select("bkey", "vec_id")
            right = spark.table(name).select(
                "bkey", F.col("vec_id").alias("vec_b")
            )
            cand = left.join(right, "bkey").filter(
                F.col("vec_id") < F.col("vec_b")
            )
            plan = cand._jdf.queryExecution().executedPlan().toString()
            n_shuffles = plan.count(
                "Exchange hashpartitioning"
            ) + plan.count("Exchange rangepartitioning")
            n_cand = cand.count()
        n_batch = int(new_rows.count())
    finally:
        cat.drop_table(spark, name)
    assert extra == 0 and missing == 0, (extra, missing)
    assert n_shuffles == 0, plan[:2000]
    return spark.createDataFrame(
        [
            Row(
                n_index_rows=n_index,
                n_batch_rows=n_batch,
                n_buckets_touched=n_buckets_touched,
                incremental_equals_rebuild=extra == 0 and missing == 0,
                shuffle_exchanges=n_shuffles,
                n_candidate_pairs=n_cand,
            )
        ]
    )


@query("ddl_stream_binary_simhash")
def ddl_stream_binary_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming byte-level SimHash admission — the ingest-side twin of
    q_dedup_binary_simhash, closing the batch/stream symmetry for the
    binary-payload dedup modality the same way ddl_stream_decontaminate
    closed it for n-gram decontamination: the BASE corpus's band
    signatures are persisted once (the ddl_knn_index_persist pattern
    applied to the SimHash index), new documents arrive as a STREAM,
    and each micro-batch computes its own 64-bit signatures with the
    IDENTICAL factored algebra (binary_simhash_bands), probes the
    persisted index on band equality, and appends exact-Hamming
    near-dup pairs.  A document's signature is doc-local (its shingles
    never span rows), so per-batch computation is complete with no
    cross-batch state — the property that makes SimHash admission
    horizontally scalable at ingest.

    The sink is idempotent (batch_id-keyed partition overwrite — the
    ddl_stream_decontaminate replay contract), and AvailableNow with
    maxFilesPerTrigger=2 forces ≥2 real micro-batches.  Behavioral
    (rows-only): stream result must equal the one-shot batch plan
    row-for-row (exceptAll both ways)."""
    from data_warehouse_hive_spark.extensions.dedup import (
        BSH_BANDS,
        binary_simhash_bands,
        bsh_hamming_pairs,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    is_base = F.col("doc_id") % 4 != 0

    def to_hx(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id", F.hex(F.encode("text", "UTF-8")).alias("hx")
        )

    def explode_bands(bands: DataFrame) -> DataFrame:
        return bands.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("bi"), F.col(f"b{b}").alias("bv")
                        )
                        for b in range(BSH_BANDS)
                    ]
                )
            ).alias("kv"),
        ).select(
            "doc_id", F.col("kv.bi").alias("bi"), F.col("kv.bv").alias("bv")
        )

    # persisted signature index for the base corpus (built once).
    # spread() the hex projection first (guide §2.5 input skew): the
    # one-file fixture scan otherwise runs the ENTIRE shingle fan-out +
    # 1.1M-md5 aggregation on a single core — measured 4.1 s vs 1.2 s
    # at sf0.1×32 cores; the batch twin q_dedup_binary_simhash already
    # rode spread() for exactly this reason.
    from data_warehouse_hive_spark.tables import spread

    idx_dir = _tmpdir("stream_bsh_idx_")
    binary_simhash_bands(
        spread(to_hx(docs.filter(is_base)), spark)
    ).write.mode("overwrite").parquet(idx_dir)

    src = _tmpdir("stream_bsh_src_")
    out = _tmpdir("stream_bsh_out_")
    docs.filter(~is_base).repartition(4).write.mode("append").parquet(src)

    n_batches = {"n": 0}

    def _sink(batch_df, bid):
        n_batches["n"] += 1
        base_bands = spark.read.parquet(idx_dir)
        # a micro-batch arrives as maxFilesPerTrigger source splits (2
        # here) — far below the core count, so the per-batch signature
        # pass needs the same fan-out as the index build; spread()
        # reads inputFiles() off the file-source batch, which is
        # exactly the trigger's file list.  Lineage-cut the bands: the
        # sink consumes them THREE times (candidate side + both sides
        # of the hamming verify), which re-ran the md5 fan-out thrice
        # per batch.
        new_bands = binary_simhash_bands(
            spread(to_hx(batch_df), spark)
        ).localCheckpoint(eager=False)
        both = new_bands.unionByName(base_bands)
        cand = (
            explode_bands(new_bands)
            .select(
                F.col("doc_id").alias("doc_a"), "bi", "bv"
            )
            .join(
                explode_bands(base_bands).select(
                    F.col("doc_id").alias("doc_b"), "bi", "bv"
                ),
                ["bi", "bv"],
            )
            .select("doc_a", "doc_b")
            .distinct()
        )
        (
            bsh_hamming_pairs(cand, both)
            .write.mode("overwrite")
            .parquet(f"{out}/batch_id={bid}")
        )

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", _tmpdir("stream_bsh_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q, "ddl_stream_binary_simhash")

    streamed = spark.read.parquet(out).drop("batch_id")
    # one-shot batch twin: identical algebra over the same split.  The
    # base corpus's bands are ALREADY persisted in the index (the same
    # deterministic function of the same rows) — read them back instead
    # of recomputing 3/4 of the corpus's signatures a third time.
    all_bands = (
        spark.read.parquet(idx_dir)
        .unionByName(
            binary_simhash_bands(
                spread(to_hx(docs.filter(~is_base)), spark)
            )
        )
        .localCheckpoint(eager=False)
    )
    new_ids = docs.filter(~is_base).select("doc_id")
    base_ids = docs.filter(is_base).select("doc_id")
    cand = (
        explode_bands(all_bands)
        .join(new_ids, "doc_id")
        .select(F.col("doc_id").alias("doc_a"), "bi", "bv")
        .join(
            explode_bands(all_bands)
            .join(base_ids, "doc_id")
            .select(F.col("doc_id").alias("doc_b"), "bi", "bv"),
            ["bi", "bv"],
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    batch = bsh_hamming_pairs(cand, all_bands)
    # multiset equality in ONE aggregation instead of exceptAll both
    # ways + a count (three actions, each re-running the batch-twin
    # plan): tag sides +1/-1, group by the full row, Σ|side-sum| == 0
    # iff the multisets are equal (Σ|d| is exactly extra + missing),
    # and the streamed row count rides the same pass.
    cols = streamed.columns
    eq = (
        streamed.withColumn("side", F.lit(1))
        .unionByName(batch.withColumn("side", F.lit(-1)))
        .groupBy(*cols)
        .agg(
            F.sum("side").alias("d"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("ns"),
        )
        .agg(
            F.sum(F.abs(F.col("d"))).cast("long").alias("mismatch"),
            F.sum("ns").cast("long").alias("n_streamed"),
        )
        .collect()[0]
    )
    mismatch, n = int(eq["mismatch"]), int(eq["n_streamed"])
    assert mismatch == 0 and n > 0, (mismatch, n)
    assert n_batches["n"] >= 2, n_batches
    return spark.createDataFrame(
        [
            Row(
                n_near_dup_pairs=n,
                n_microbatches=n_batches["n"],
                stream_equals_batch=mismatch == 0,
            )
        ]
    )


@query("ddl_minhash_index_persist")
def ddl_minhash_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted MinHash band index with incremental append (r10 VERDICT
    task 4): ddl_knn_index_persist proved the persisted-index pattern for
    the ANN modality; this is the text-dedup twin.  q_dedup_minhash /
    q_dedup_incremental recompute the corpus-side band relation per
    session — here it is written ONCE as a catalog table BUCKETED by the
    band key, a new batch (doc_id % 7 = 0, the q_dedup_incremental
    split) is admitted by appending only the rows of the buckets it
    lands in, and candidate generation is a ZERO-shuffle self-join on
    the shared bucket layout (plan-asserted, as in the ANN twin).

    Layout: one row per (band_id, band_key, doc_id) with
    bkey = band_id || ':' || band_key as the bucketBy key.  A MinHash
    signature is doc-local (its shingles never span documents), so a
    batch's index rows are computable without touching the corpus —
    the property that makes the append O(batch).

    Behavioral checks: (a) appended index ≡ full rebuild over
    base+batch, exceptAll both ways; (b) the band self-join plans zero
    Exchange; (c) the index probe finds the batch's cross-side
    near-dup candidates — the admission query q_dedup_incremental's
    near tier would run against this table at 100 TB instead of
    re-banding the corpus nightly.  The probe applies the
    q_dedup_minhash_capped hot-bucket admission cap (r12): bucket
    sizes from an exchange-free groupBy on the bucket key, hot keys
    broadcast as an anti-join filter, skipped bucket/pair mass
    reported in the result row."""
    from data_warehouse_hive_spark.extensions.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        signature,
    )
    from data_warehouse_hive_spark.sources.bucketing import (
        create_bucketed_table,
    )

    docs = t(spark, sf_dir, "documents")
    # signatures are doc-local: compute once, split into corpus/batch
    sig = signature(docs).localCheckpoint(eager=False)

    def index_rows(s: DataFrame) -> DataFrame:
        band_cols = [
            F.concat_ws(
                "_",
                *[F.col(f"mh_{b * LSH_ROWS + r}") for r in range(LSH_ROWS)],
            ).alias(f"band_{b}")
            for b in range(LSH_BANDS)
        ]
        banded = s.select(
            "doc_id",
            F.posexplode(F.array(*band_cols)).alias("band_id", "band_key"),
        )
        return banded.select(
            F.concat_ws(":", F.col("band_id"), F.col("band_key")).alias(
                "bkey"
            ),
            "doc_id",
        )

    is_batch = F.col("doc_id") % 7 == 0
    name = f"mh_idx_{uuid.uuid4().hex[:8]}"
    create_bucketed_table(
        index_rows(sig.filter(~is_batch)),
        name,
        "bkey",
        n_buckets=8,
        sort_col="doc_id",
    )
    try:
        new_rows = index_rows(sig.filter(is_batch)).localCheckpoint(
            eager=False
        )
        n_buckets_touched = new_rows.select("bkey").distinct().count()
        (
            new_rows.write.mode("append")
            .bucketBy(8, "bkey")
            .sortBy("doc_id")
            .saveAsTable(name)
        )

        merged = spark.table(name).select("bkey", "doc_id")
        rebuild = index_rows(sig).select("bkey", "doc_id")
        # n_a from the fused compare IS merged.count() — the separate
        # count() below was a second full scan of the catalog table (r15)
        extra, missing, n_index = _multiset_compare(merged, rebuild)

        with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            # Hot-bucket admission cap (r11 VERDICT task 1, the
            # q_dedup_minhash_capped guardrail wired into the persisted
            # index): bucket sizes come from a groupBy on the bucketBy
            # key (no exchange — the scan is already hash-partitioned
            # on bkey), the few hot keys are BROADCAST as an anti-join
            # filter (hot keys are rare by construction, so the
            # broadcast is tiny and the probe side never reshuffles),
            # and the skipped mass is reported alongside the candidate
            # count.  Cap 2 here so the sf0.01 fixture exercises the
            # skip path; production admission uses DEDUP_BUCKET_CAP.
            cap = 2
            sizes = (
                spark.table(name)
                .groupBy("bkey")
                .agg(F.count(F.lit(1)).cast("long").alias("sz"))
                .filter(F.col("sz") > cap)
                .localCheckpoint(eager=False)
            )
            hot_stats = sizes.agg(
                F.count(F.lit(1)).cast("long").alias("nb"),
                F.coalesce(F.sum(F.expr("sz * (sz - 1) div 2")), F.lit(0))
                .cast("long")
                .alias("pw"),
            ).collect()[0]
            n_hot_buckets = int(hot_stats["nb"])
            n_skipped_pair_work = int(hot_stats["pw"])
            hot_keys = F.broadcast(sizes.select("bkey"))
            left = spark.table(name).select("bkey", "doc_id").join(
                hot_keys, "bkey", "left_anti"
            )
            right = spark.table(name).select(
                "bkey", F.col("doc_id").alias("doc_b")
            ).join(hot_keys, "bkey", "left_anti")
            cand = left.join(right, "bkey").filter(
                F.col("doc_id") < F.col("doc_b")
            )
            plan = cand._jdf.queryExecution().executedPlan().toString()
            n_shuffles = plan.count(
                "Exchange hashpartitioning"
            ) + plan.count("Exchange rangepartitioning")
            # admission probe: batch docs with a cross-side candidate
            n_near_batch = (
                cand.filter(
                    (F.col("doc_id") % 7 == 0) != (F.col("doc_b") % 7 == 0)
                )
                .select(
                    F.when(F.col("doc_id") % 7 == 0, F.col("doc_id"))
                    .otherwise(F.col("doc_b"))
                    .alias("d")
                )
                .distinct()
                .count()
            )
        n_batch = int(new_rows.count())
    finally:
        cat.drop_table(spark, name)
    assert extra == 0 and missing == 0, (extra, missing)
    assert n_shuffles == 0, plan[:2000]
    return spark.createDataFrame(
        [
            Row(
                n_index_rows=n_index,
                n_batch_rows=n_batch,
                n_buckets_touched=n_buckets_touched,
                incremental_equals_rebuild=extra == 0 and missing == 0,
                shuffle_exchanges=n_shuffles,
                n_near_dup_batch_docs=n_near_batch,
                n_hot_buckets_skipped=n_hot_buckets,
                skipped_pair_work=n_skipped_pair_work,
            )
        ]
    )
