"""SparkSession factory tuned for the engine.

Local-mode sandbox proxy for a multi-executor cluster: parallelism comes from
``local[N]`` threads; the same configs (AQE, Arrow batching, shuffle partition
count) are what we would set cluster-side. Arrow batch size mirrors the
reference's 100k-row chunking (reference: src/SWOTRaster/products.py:63).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The reference chunks 100k rows (products.py:63) — but its rows are a few
# numeric columns. Engine rows carry ~4KB image payloads, and outsized Arrow
# batches of binary columns thrash JVM↔Python transfer (measured: 100k-row
# batches = 31 s to stream 766 MB to workers; 1k-row ≈ 4 MB batches = 4.2 s,
# at parquet-scan speed). Batch by bytes, not rows — Spark 4 has the direct
# knob (spark.sql.execution.arrow.maxBytesPerBatch), so the row cap is only
# the backstop: narrow numeric UDF stages (PIP refine, Taylor gather) get
# full 64k-row batches instead of paying per-batch Python dispatch 64x more
# often, while binary-payload stages stay byte-bounded at the same ~4-16 MB
# the 1k-row cap used to give them.
ARROW_BATCH_ROWS = 65536
ARROW_BATCH_BYTES = 16 * 1024 * 1024

# Directory that holds the ``raster_processor_spark`` package.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# Engine confs shared by both session builders. The master, core count,
# driver memory, driver JVM options, the UI switch and the Python worker
# daemon belong to whoever launches the JVM (get_spark locally,
# ``spark-submit`` otherwise), so they are not here.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
    "spark.sql.execution.arrow.maxBytesPerBatch": str(ARROW_BATCH_BYTES),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # ANSI off: the engine relies on wrap-around-free modular arithmetic it
    # controls itself, and NULL-on-bad-cast matches the reference's masked
    # array semantics (invalid → masked, products.py get_mask).
    "spark.sql.ansi.enabled": "false",
    # ContextCleaner frees broadcasts / shuffle files / RDD blocks only when
    # driver GC collects their handles; with a large heap organic GCs are
    # rare and the default periodic GC is 30min — far longer than a whole
    # bench session. 2min bounds block-manager growth without measurable
    # overhead.
    "spark.cleaner.periodicGC.interval": "2min",
    # reused Python workers are kept forever by default; a session that
    # mixes many Arrow UDF stages grows the pool monotonically (measured
    # 66 workers / 6.3GB RSS after one 35-query session). Idle workers
    # older than 2min are reaped (no-op on Spark versions without it).
    "spark.python.worker.idleTimeoutSeconds": "120",
}


def _with_engine_conf(builder):
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    return builder


def get_spark(
    cpus: int | None = None,
    app_name: str = "raster_processor_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    cpus=None → local[*]. shuffle_partitions defaults to 2x cpus (the
    reference's own fan-out heuristic is 4x workers, raster_proc.py:714-716;
    2x is the sweet spot for local shuffles on this host).
    """
    if cpus is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(cpus_env) if cpus_env else os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)

    builder = (
        _with_engine_conf(SparkSession.builder.master(f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # ReservedCodeCacheSize: the JVM default (240MB, ~118MB for
        # profiled nmethods) fills after a few dozen whole-stage-codegen
        # plans in a long session; once full the JIT flushes/deoptimizes
        # hot methods and heavy queries run partially interpreted. 1g
        # removes the cliff.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        # Every Python task starts with importlib.invalidate_caches(), which
        # on Python 3.11 re-reads the directory of every zip on the worker's
        # path (pyspark.zip, py4j, the spark-core jar): 118-215 ms per task,
        # measured in warm workers on a 4-core host. An identity mapInArrow
        # over 12 one-row partitions took 1.05-1.2 s on local[3]. The engine
        # daemon re-reads a zip only when it changed (see worker_daemon.py):
        # the call drops to ~0.2 ms and the same stage to 0.37-0.44 s. Not
        # in ENGINE_CONF: the daemon is imported before any --py-files are
        # on the path, so only a launcher that knows where the package
        # lives can name it.
        .config("spark.python.daemon.module", "raster_processor_spark.worker_daemon")
        # the daemon and workers import the package from any working
        # directory, not only from the driver's cwd
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _prewarm_python_workers(spark, cpus)
    return spark


def _prewarm_python_workers(spark: SparkSession, cpus: int) -> None:
    """Fork the reused Python worker pool once at session build (untimed
    setup, like JVM start). The pool is forked lazily at the first
    Arrow/pandas stage otherwise, which lands its ~1 s cold start on
    whichever query happens to hit the Python boundary first — the engine's
    own session owns that cost, not an arbitrary query. One 1-row-per-core
    identity mapInArrow touches every worker slot. Disable with
    SPARK_GRAFT_PREWARM=0 (e.g. for pure-JVM jobs)."""
    if os.environ.get("SPARK_GRAFT_PREWARM", "1") == "0":
        return
    if getattr(spark, "_rps_prewarmed", False):
        return
    def _ident(it):
        yield from it

    spark.range(cpus).repartition(cpus).mapInArrow(
        _ident, "id bigint"
    ).write.format("noop").mode("overwrite").save()
    spark._rps_prewarmed = True


def get_spark_submitted(app_name: str = "raster_processor_spark") -> SparkSession:
    """Engine session for jobs launched via ``spark-submit`` — applies the
    same engine configs as get_spark but NEVER sets the master or core
    count: those belong to the launcher (``spark-submit --master ...``),
    which is how the same job script runs unchanged on a real multi-executor
    cluster. Shuffle partitions default from the launcher-provided
    parallelism (2x, the engine heuristic).

    The workers keep the stock ``pyspark.daemon``: the engine daemon would
    have to be importable before the ``--py-files`` zip is on the workers'
    path, and under spark-submit the package may exist only in that zip."""
    spark = _with_engine_conf(SparkSession.builder.appName(app_name)).getOrCreate()
    par = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(2 * par, 8)))
    spark.sparkContext.setLogLevel("WARN")
    return spark
