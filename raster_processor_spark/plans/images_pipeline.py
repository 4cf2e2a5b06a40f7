"""The flagship north-star job: image+caption table → tile assignments →
decoded-pixel per-cell aggregation → polygon join → zonal stats, every stage
committed as a resumable snapshot with per-partition lineage.

Stage graph (each stage = one SnapshotStore table):

  images ──georef──► tiles (cell9 via the JVM-side encode, cell8/7 its parents)
     │                   │ salted repartition by (cell7, salt)  [skew break]
     ├──decode──► stats (mapInPandas numpy codec)
     │                   │
     tiles ⋈ stats ──► cell_aggs (ONE fused groupBy(cell7))
     tiles ──PIP──► poly_pairs (two-phase broadcast-candidate join)
     poly_pairs ⋈ stats ──► zonal (per-polygon decoded-pixel stats)

Skew: ~10% of rows land in a handful of hot cells (geo.py hot box). The
pre-aggregation repartitions on (cell7, salt = pmod(hash(image_id), NSALT))
so no single task owns a hot cell; the fused agg then partial-aggregates per
salt shard before the final per-cell merge (Spark's hash-agg does the
two-level combine natively once the data is salted-partitioned).
"""

from __future__ import annotations

import sys
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raster_processor_spark import datagen, geo
from raster_processor_spark.functions.cells import quad_parent_col, with_cell
from raster_processor_spark.operators import spatial_join as sj
from raster_processor_spark.sources.snapshots import SnapshotStore

N_POLYS = 24
N_SALT = 16


def georef_tiles(images: DataFrame) -> DataFrame:
    """images → (image_id, caption, lat, lon, cell9/8/7, salt)."""
    key = F.pmod(F.col("phash"), F.lit(1_000_003))
    pts = images.select(
        "image_id",
        "caption",
        geo.lat_col(key).alias("lat"),
        geo.lon_col(key).alias("lon"),
    )
    return (
        with_cell(pts, 9, "cell9")
        .withColumn("cell8", quad_parent_col(F.col("cell9"), 9, 8))
        .withColumn("cell7", quad_parent_col(F.col("cell9"), 9, 7))
        .withColumn("salt", F.pmod(F.xxhash64("image_id"), F.lit(N_SALT)))
    )


def run_pipeline(
    spark: SparkSession,
    images_path: str,
    out_root: str,
    force: bool = False,
) -> dict[str, DataFrame]:
    """Run (or resume) the full job. Returns the stage DataFrames.

    Every stage that already committed a snapshot under ``out_root`` is
    resumed from its checkpoint — the north-rule resumability contract."""
    store = SnapshotStore(out_root)
    images = spark.read.schema(datagen.IMAGES_SCHEMA).parquet(images_path)

    _t = time.perf_counter()

    def _mark(stage: str) -> None:
        nonlocal _t
        now = time.perf_counter()
        print(f"[pipeline] {stage}: {now - _t:.2f}s", file=sys.stderr)
        _t = now

    # decode reads the parquet files directly in the Python workers: the
    # binary payload never crosses JVM→Python (sources/binary_scan.py
    # rationale — 3-4x on this host, structurally necessary at 100 TB)
    from raster_processor_spark.sources.binary_scan import scan_decode_stats

    # tiles and stats are independent branches of the stage DAG — submit
    # both; the scheduler interleaves their tasks and total wall time is
    # max(), not sum() (a real cluster does the same with FAIR pools)
    with ThreadPoolExecutor(max_workers=2) as pool:
        tiles_f = pool.submit(
            store.resume_or_compute,
            spark,
            "tiles",
            lambda: georef_tiles(images).repartition(
                spark.sparkContext.defaultParallelism, "cell7", "salt"
            ),
            lineage_cols={"cell": "cell9"},
            metrics={"stage": "tile_assign", "input": images_path},
        )
        stats_f = pool.submit(
            store.resume_or_compute,
            spark,
            "stats",
            lambda: scan_decode_stats(spark, images_path),
            lineage_cols={"bytes": "n_bytes"},
            metrics={"stage": "decode", "scan": "worker-side"},
        )
        tiles = tiles_f.result()
        _mark("tiles")
        stats = stats_f.result()
    _mark("stats")

    def _cell_aggs() -> DataFrame:
        joined = tiles.join(stats, "image_id")
        return joined.groupBy("cell7").agg(
            F.count(F.lit(1)).alias("n_images"),
            F.avg("px_mean").alias("cell_px_mean"),
            F.avg("px_std").alias("cell_px_std"),
            F.sum("n_bytes").alias("bytes_decoded"),
            F.min("image_id").alias("first_image"),
        )

    # remaining DAG: cell_aggs needs tiles+stats; poly_pairs needs tiles;
    # zonal needs poly_pairs+stats. One pool, futures express the edges —
    # every stage starts the moment its inputs commit, commits overlap.
    with ThreadPoolExecutor(max_workers=3) as pool:
        cell_aggs_f = pool.submit(
            store.resume_or_compute,
            spark,
            "cell_aggs",
            _cell_aggs,
            lineage_cols={"cell": "cell7", "bytes": "bytes_decoded"},
            metrics={"stage": "cell_agg"},
        )
        poly_pairs_f = pool.submit(
            store.resume_or_compute,
            spark,
            "poly_pairs",
            lambda: sj.point_in_polygon_join(
                tiles, N_POLYS, "lat", "lon", "image_id"
            ).withColumnRenamed("key", "image_id"),
            metrics={"stage": "pip_join", "n_polys": N_POLYS},
        )

        def _zonal_from(poly_pairs: DataFrame) -> DataFrame:
            return (
                poly_pairs.join(stats, "image_id")
                .groupBy("poly_id")
                .agg(
                    F.count(F.lit(1)).alias("n_images"),
                    F.avg("px_mean").alias("zone_px_mean"),
                    F.sum("n_bytes").alias("zone_bytes"),
                    F.min("image_id").alias("first_image"),
                )
            )

        def _zonal_stage() -> DataFrame:
            pp = poly_pairs_f.result()
            return store.resume_or_compute(
                spark, "zonal", lambda: _zonal_from(pp), metrics={"stage": "zonal"}
            )

        zonal_f = pool.submit(_zonal_stage)
        cell_aggs = cell_aggs_f.result()
        _mark("cell_aggs")
        poly_pairs = poly_pairs_f.result()
        _mark("poly_pairs")
        zonal = zonal_f.result()
    _mark("zonal")

    return {
        "tiles": tiles,
        "stats": stats,
        "cell_aggs": cell_aggs,
        "poly_pairs": poly_pairs,
        "zonal": zonal,
    }
