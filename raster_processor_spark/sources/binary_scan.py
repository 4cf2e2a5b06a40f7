"""Worker-side columnar scan for binary-heavy decode stages.

Measured on this host (500k images, 1.9 GB of encoded blocks, 32 cores):
shipping the ``bytes`` column JVM→Python through Arrow costs ~28-35 s in
passthrough alone, while 32 raw Python processes reading the same parquet
files directly decode EVERYTHING in 10 s. At 100 TB the same asymmetry holds
— you never route the payload through the JVM just to hand it to Python.

Pattern: Spark distributes the FILE INDICES (a JVM ``range`` with one
element per partition, so exactly one file per task and no exchange); each
Arrow task opens its parquet file with pyarrow and streams 2048-row record
batches straight into the batched numpy kernel ``codec.block_stats``. The
file list itself never becomes rows: it rides in the task closure. Spark
still owns scheduling, retries, and everything downstream of the (small)
per-image stats output. On a real cluster the files are object-store keys
and this is the standard "worker-side IO" pattern for multimodal data.

Trade-off vs a JVM scan: no row-group splitting within a file and no data
locality hints — so generators must write >= 2 files per core
(datagen.images_df does). One file per task is cheap: under the engine's
worker daemon (``worker_daemon.py``) a task's import-cache setup costs
~0.2 ms, where the stock daemon re-read every zip on the workers' path at
~0.15 s per task.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from raster_processor_spark import codec
from raster_processor_spark.operators.multimodal import DECODE_STATS_SCHEMA


def _part_files(path: str) -> list[str]:
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    if not files and os.path.isfile(path):
        files = [path]
    if not files:
        raise FileNotFoundError(f"no parquet part files under {path}")
    return files


def scan_decode_stats(spark: SparkSession, images_path: str) -> DataFrame:
    """Per-image decoded-pixel stats, decoding straight from storage in the
    Python workers (multimodal.decode_stats twin for parquet-backed tables)."""
    files = _part_files(images_path)

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        cols = ["image_id", "bytes", "w", "h", "fmt"]
        for pdf in it:
            for i in pdf["id"]:
                pf = pq.ParquetFile(files[i])
                for batch in pf.iter_batches(batch_size=2048, columns=cols):
                    stats = codec.block_stats(
                        batch.column("bytes").to_pylist(),
                        batch.column("w").to_numpy(),
                        batch.column("h").to_numpy(),
                        batch.column("fmt").to_pylist(),
                    )
                    yield pd.DataFrame(
                        {"image_id": batch.column("image_id").to_pandas(), **stats}
                    )

    # one file per task: range splits [0, n) into n one-element slices. A
    # round-robin repartition of the file rows starts each input partition
    # at its own random target: on local[3] it gave three of 12 tasks two
    # files and three none
    n = len(files)
    return spark.range(0, n, 1, n).mapInPandas(run, DECODE_STATS_SCHEMA)
