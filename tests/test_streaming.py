"""Streaming façade tests: session windows must agree with the batch
gap-sessionization operator on the same data."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from raster_processor_spark.operators import windows as win
from raster_processor_spark.streaming import jobs
from tests.conftest import SF_ORACLE


def _stage_input(tmp_path):
    src = f"{SF_ORACLE}/events.parquet"
    dst = tmp_path / "stream_in"
    dst.mkdir()
    shutil.copy(src, dst / "part-0.parquet")
    return str(dst)


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    input_dir = _stage_input(tmp_path)
    sdf = jobs.streaming_sessionize(spark, input_dir, gap="1 hour")
    jobs.run_to_memory(sdf, "sess_stream")
    got = (
        spark.table("sess_stream")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
    )
    got_rows = {r.user_id: (r.n_sessions, r.n_events) for r in got.collect()}

    e = spark.read.parquet(f"{SF_ORACLE}/events.parquet").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("tus")
    )
    batch = win.gap_sessionize(e, ["user_id"], F.col("tus"), 3_600_000_000)
    want = (
        batch.groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )
    want_rows = {r.user_id: (r.n_sessions, r.n_events) for r in want.collect()}
    assert got_rows == want_rows
    assert len(got_rows) > 0


def test_streaming_cell_rollup_runs(spark, tmp_path):
    input_dir = _stage_input(tmp_path)
    sdf = jobs.streaming_cell_rollup(spark, input_dir)
    jobs.run_to_memory(sdf, "roll_stream")
    out = spark.table("roll_stream")
    assert out.count() > 0
    total = out.agg(F.sum("n_events")).collect()[0][0]
    n_events = spark.read.parquet(f"{SF_ORACLE}/events.parquet").count()
    assert total == n_events  # watermark drops nothing with availableNow drain


def test_stateful_operator_matches_batch(spark, tmp_path):
    from raster_processor_spark.streaming.stateful import stateful_user_stats

    input_dir = _stage_input(tmp_path)
    sdf = stateful_user_stats(spark, input_dir)
    q = (
        sdf.writeStream.format("memory")
        .queryName("stateful_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last update per user = final running state
    got_df = spark.table("stateful_stream")
    got = {r.user_id: (r.n_events, round(r.sum_value, 6)) for r in got_df.collect()}

    e = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    want_df = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("s")
    )
    want = {r.user_id: (r.n, r.s) for r in want_df.collect()}
    assert got == want and len(got) > 0


def test_streaming_dedup_matches_batch(spark, tmp_path):
    """First-occurrence-per-content-hash: the streaming dedup's kept set
    must equal the batch groupBy dedup's kept set on the same input."""
    from pyspark.sql import functions as F

    from raster_processor_spark.streaming import jobs

    src = _stage_input(tmp_path)
    out = jobs.run_to_memory(jobs.streaming_dedup(spark, src), "dedup_t", mode="append")
    got = spark.sql("SELECT content_hash, COUNT(*) AS n FROM dedup_t GROUP BY 1")
    # streaming kept exactly one row per content hash
    assert got.where("n > 1").count() == 0
    batch = (
        spark.read.parquet(src)
        .select(F.xxhash64("event_type", "props").alias("content_hash"))
        .distinct()
    )
    assert got.count() == batch.count()
    out.stop()


def test_streaming_tile_ingest_equals_batch(spark, tmp_path):
    """Micro-batched tile ingestion (one arriving file per trigger) must end
    at exactly the batch per-cell rollup over the same files."""
    from pyspark.sql import functions as F

    from raster_processor_spark import datagen
    from raster_processor_spark.functions.cells import with_cell
    from raster_processor_spark.operators.multimodal import with_georef
    from raster_processor_spark.streaming import jobs

    images_dir = str(tmp_path / "imgs")
    # two files => two micro-batches
    datagen.images_df(spark, 1200, partitions=2).write.parquet(images_dir)

    agg = jobs.streaming_tile_ingest(spark, images_dir)
    jobs.run_to_memory(agg, "tile_ingest", mode="complete")
    got = {
        r.cell_id: (r.n_images, r.total_px)
        for r in spark.sql("SELECT * FROM tile_ingest").collect()
    }

    batch = (
        with_cell(
            with_georef(spark.read.schema(datagen.IMAGES_SCHEMA).parquet(images_dir)),
            7,
        )
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(F.col("w").cast("long") * F.col("h")).alias("total_px"),
        )
    )
    want = {r.cell_id: (r.n_images, r.total_px) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_stateful_packing_matches_batch(spark, tmp_path):
    """Streaming sequence packing (per-stratum GroupState slot counter) must
    reproduce the batch pack_assignments exactly when documents arrive in
    doc_id order per stratum (two range-ordered micro-batches here)."""
    import time

    from raster_processor_spark.operators import packing as pk
    from raster_processor_spark.streaming import stateful

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    src = str(tmp_path / "docs_stream")
    # two doc_id-range files written in order -> FileStreamSource (sorted by
    # mod time) delivers them as two in-order micro-batches
    docs.where("doc_id < 250").orderBy("doc_id").coalesce(1).write.parquet(src)
    time.sleep(1.1)  # distinct mod times (file-source ordering key)
    docs.where("doc_id >= 250").orderBy("doc_id").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    sdf = stateful.stateful_packing(spark, src)
    q = jobs.run_to_memory(sdf, "pack_t", mode="append")
    got = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT doc_id, source, n_tokens, size_class, bin_id, overflow FROM pack_t"
        ).collect()
    )
    q.stop()
    want = sorted(tuple(r) for r in pk.pack_assignments(spark, SF_ORACLE).collect())
    assert len(got) == len(want) > 0
    assert got == want
