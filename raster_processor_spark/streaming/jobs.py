"""Streaming jobs: watermarked session windows and per-cell tumbling rollups
over an arriving image/event stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def streaming_sessionize(
    spark: SparkSession, input_dir: str, gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap sessionization as a streaming query (W1 ≡ session_window):
    one row per (user, session) with event count and bounds."""
    s = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    return (
        s.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("sw.start").alias("start"), F.col("sw.end").alias("end"), "n_events")
    )


def streaming_cell_rollup(
    spark: SparkSession, input_dir: str, window: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Tumbling-window per-user value rollup — the streaming analogue of the
    per-cell aggregation (cells ≡ group keys, windows ≡ granule epochs)."""
    s = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    return (
        s.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select("user_id", F.col("w.start").alias("w_start"), "n_events", "sum_value")
    )


def streaming_dedup(
    spark: SparkSession, input_dir: str, watermark: str = "1 day"
) -> DataFrame:
    """Streaming exact dedup: first occurrence wins within the watermark
    horizon (dropDuplicatesWithinWatermark ≡ the batch hash-groupBy dedup,
    with state bounded by the watermark — the streaming twin of
    dedup_exact)."""
    s = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    keyed = s.select(
        "event_id", "ts", "user_id", "event_type",
        F.xxhash64("event_type", "props").alias("content_hash"),
    )
    return (
        keyed.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def streaming_tile_ingest(spark: SparkSession, images_dir: str) -> DataFrame:
    """Incremental tile ingestion — the streaming twin of the flagship
    pipeline's front end (§2.9 'arriving tiles' ≡ the reference's multi-tile
    accumulation, products.py:1849): a file-source stream of image parquet
    files is georeferenced from phash, assigned its quad cell, and rolled up
    per cell. Each arriving file is one micro-batch; the complete-mode
    per-cell state is exactly the batch groupBy over everything seen so
    far, so resuming mid-ingest never recomputes finished files."""
    from raster_processor_spark import datagen
    from raster_processor_spark.functions.cells import with_cell
    from raster_processor_spark.operators.multimodal import with_georef

    stream = (
        spark.readStream.schema(datagen.IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(images_dir)
    )
    return with_cell(with_georef(stream), 7).groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.col("w").cast("long") * F.col("h")).alias("total_px"),
    )


def run_to_memory(df: DataFrame, name: str, mode: str = "complete"):
    """Drain all available input (availableNow) into a memory sink; returns
    the finished query. Test/driver helper. Non-aggregating streams (e.g.
    dedup) require append mode."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
