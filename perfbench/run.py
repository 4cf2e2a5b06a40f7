#!/usr/bin/env python3
"""Benchmark of raster_processor_spark: one run of one workload.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the repository root (it builds nothing: the engine is imported from
the source tree next to this directory). The query tables are committed
under ``perfbench/data``; the image pool and the oracle results are built on
the first run and cached under ``.perfbench/cache``. Every run works in a fresh
directory under ``.perfbench/runs`` and removes it when it ends. The last
line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. The line before it is a report with the environment and the details
behind the metrics; the same report, and with ``--trace 1`` the spans, are
written to ``.perfbench/results``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
sys.path.insert(0, ROOT)

from perfbench import inputs, procfs  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("query_mix", "tile_pipeline")
MAX_CPUS = 4

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "throughput_per_s": "1/s",
    "core_s_per_pass": "s",
    "peak_rss_gb": "GB",
    "bytes_per_input_byte": "ratio",
}


def layer_units() -> dict[str, str]:
    from perfbench.workloads import FAMILIES, STAGES

    units = {
        "session.start_s": "s", "session.py_workers": "count",
        "queries.build_s": "s", "queries.build_jobs": "count",
        "queries.build_job_s": "s", "queries.assembly_s": "s",
        "queries.tail_s": "s", "queries.samples": "count",
    }
    for f in FAMILIES:
        units[f"operators.{f}.build_s"] = "s"
        units[f"operators.{f}.exec_s"] = "s"
    units.update({
        "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
        "exec.task_s": "s", "exec.gc_s": "s",
        "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
        "exec.spill_bytes": "bytes", "exec.skew": "ratio",
        "exec.slot_busy": "ratio", "exec.python_rows": "count",
        "exec.python_bytes": "bytes",
    })
    for t in STAGES:
        units[f"pipeline.stage_s.{t}"] = "s"
    units.update({
        "encode.rows": "count", "encode.s": "s",
        "decode.images": "count", "decode.bytes_per_s": "bytes/s",
        "spatial_join.refine_rows": "count", "spatial_join.refine_yield": "ratio",
        "snapshots.write_s": "s", "snapshots.write_job_s": "s",
        "snapshots.commit_s": "s", "snapshots.bytes_written": "bytes",
        "snapshots.files_written": "count", "snapshots.read_s": "s",
        "snapshots.resumed_stages": "count",
        "trace.overhead_share": "ratio", "trace.hook_share": "ratio",
        "trace.self_time_share": "ratio",
        "ops.failed_share": "ratio",
        "host.steal_s": "s", "host.load_1m": "count",
    })
    return units


def result_metrics(out: dict, trace: bool, run_values: dict) -> dict:
    """The result line's metrics: with ``trace`` every per-layer metric
    (0 for a layer the workload does not run), else every end-to-end one."""
    if trace:
        units = layer_units()
        values = {k: 0.0 for k in units}
        values.update(out["layers"])
    else:
        units = E2E_UNITS
        values = dict(out["e2e"])
    values.update({k: v for k, v in run_values.items() if k in units})
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


def host_config() -> dict:
    """Engine settings fitted to this host: one core fewer than the host has
    (at most MAX_CPUS), and a driver heap of a quarter of RAM, capped at
    4 GB. The spare core runs the Python driver, the JVM's own threads and
    the benchmark; measured on a 4-core host, the pipeline's fresh pass took
    the same wall time on local[3] as on local[4] and 5-10% less CPU."""
    cpus = max(1, min(len(os.sched_getaffinity(0)) - 1, MAX_CPUS))
    mem_gb = max(1, min(4, procfs.mem_total_bytes() // (4 << 30)))
    return {"cpus": cpus, "driver_mem": f"{mem_gb}g"}


def engine_env(run_dir: str, cfg: dict) -> dict[str, str]:
    """Environment for every process that runs the engine: the checkout
    under test on the Python workers' path, build-once artifacts and all
    scratch space inside this run's directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "SPARK_GRAFT_CPUS": str(cfg["cpus"]),
        "SPARK_GRAFT_DRIVER_MEM": cfg["driver_mem"],
        "SPARK_GRAFT_INDEX_DIR": os.path.join(run_dir, "index"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def start_session(cfg: dict, run_dir: str):
    from raster_processor_spark.session import get_spark

    return get_spark(
        cpus=cfg["cpus"], app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and the Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the JVM's gateway server exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        left = [p for p in procfs.tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in left:
        while os.path.exists(f"/proc/{p}"):
            time.sleep(0.05)


def make_pool(path: str) -> int:
    cfg = host_config()
    spark = start_session(cfg, os.path.dirname(path))
    try:
        inputs.build_pool(path, spark)
    finally:
        stop_session(spark)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-pool", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.make_pool:
        return make_pool(args.make_pool)
    if args.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "raster_processor_spark")):
        print(f"no raster_processor_spark package next to {HERE}",
              file=sys.stderr)
        return 2

    t_proc = procfs.process_start_epoch(os.getpid())
    steal0, load0 = procfs.host_steal_s(), procfs.loadavg_1m()
    cfg = host_config()
    run_id = f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(WORK, "runs", run_id)
    cache = os.path.join(WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    env = engine_env(run_dir, cfg)
    os.environ.update(env)

    from perfbench import workloads as wl
    from raster_processor_spark.queries import REGISTRY

    # inputs: built on a checkout's first run, linked into this run's dir;
    # their time is not set-up time
    t_gen = time.time()
    if args.workload == "query_mix":
        tdir, oracle = inputs.query_tables(
            cache, {n: REGISTRY[n].oracle for n, _ in wl.QUERY_MIX}
        )
        # a fresh data-dir name per run: the engine keys its bucketed
        # layouts by this basename, so no run finds one left by another
        data = os.path.join(run_dir, f"qm_{uuid.uuid4().hex[:10]}")
        inputs.link_files(
            [os.path.join(tdir, f"{t}.parquet") for t in inputs.TABLES], data
        )
    else:
        pool = inputs.image_pool(cache, env)
        files = inputs.pool_files(pool)
        with open(os.path.join(pool, "golden.json")) as f:
            golden_all = json.load(f)
        blocks = inputs.window_blocks(args.seed)
        chosen = [files[b * inputs.FILES_PER_BLOCK + k]
                  for b in blocks for k in range(inputs.FILES_PER_BLOCK)]
        data = os.path.join(run_dir, "images")
        inputs.link_files(chosen, data)
        golden = {  # image ids read img_<number>
            i: g for i, g in golden_all.items()
            if int(i[4:]) // inputs.BLOCK_IMAGES in blocks
        }
    gen_s = time.time() - t_gen

    spark = None
    try:
        t0 = time.time()
        spark = start_session(cfg, run_dir)
        session_s = time.time() - t0
        py_workers = procfs.count_children_named(os.getpid(), "pyspark.daemon")
        ctx = wl.Context(spark, args.seed, args.seconds, bool(args.trace),
                         cfg["cpus"], run_dir)
        if args.workload == "query_mix":
            out = wl.query_mix(ctx, data, oracle)
        else:
            out = wl.tile_pipeline(ctx, data, golden)
        peak_rss = procfs.tree_peak_rss_bytes(os.getpid())
        steal = procfs.host_steal_s() - steal0
        setup_s = ctx.t_steady - t_proc - gen_s
        metrics = result_metrics(out, bool(args.trace), {
            "setup_s": setup_s,
            "peak_rss_gb": sum(peak_rss.values()) / 1e9,
            "session.start_s": session_s,
            "session.py_workers": py_workers,
            "ops.failed_share": ctx.failed / max(ctx.attempted, 1),
            "host.steal_s": steal,
            "host.load_1m": load0,
        })
        from pyspark import __version__ as spark_version

        report = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "env": {
                "cpus": cfg["cpus"], "driver_mem": cfg["driver_mem"],
                "spark": spark_version,
                "java": spark.sparkContext._jvm.System.getProperty("java.version"),
                "host_steal_s": round(steal, 3), "load_1m_at_start": load0,
                "load_1m_at_end": procfs.loadavg_1m(),
            },
            "setup_s": setup_s, "session_start_s": session_s,
            "peak_rss_gb_by_command": {k: round(v / 1e9, 3) for k, v in peak_rss.items()},
            "input_build_s": gen_s, "failed_op_share":
                ctx.failed / max(ctx.attempted, 1),
            "failures": ctx.failures, **out["detail"],
        }
        results = os.path.join(WORK, "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}")
        with open(stem + ".json", "w") as f:
            json.dump({"report": report, "metrics": metrics}, f, indent=1)
        if args.trace:
            ctx.tracer.dump(stem + ".spans.json")
        result = {"correct": ctx.failed == 0, "attempted": ctx.attempted,
                  "failed": ctx.failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        if args.workload == "query_mix":
            bdir = wl._bucketed_dir(data)
            shutil.rmtree(bdir, ignore_errors=True)
            for d in (os.path.dirname(bdir), os.path.dirname(os.path.dirname(bdir))):
                try:
                    os.rmdir(d)  # only if the engine left nothing else there
                except OSError:
                    pass
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
