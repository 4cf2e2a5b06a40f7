#!/usr/bin/env python
"""Round-6 optimization harness — NOT the driver contract (bench.py is
frozen; this file exists so the numbers cited in OPTIMIZATION_r06.md are
reproducible).

Modes (select with BENCH_EXTRA_MODE):

  isolated   (default) — noop-sink timing of a query subset, N warm passes
             per query with the same fn-rebuild-per-pass protocol bench.py
             uses. Use to adjudicate single-query movers without session
             interference (guide §1.4).
  decompose  — split each invocation into plan BUILD (Python/py4j DataFrame
             assembly), ANALYZE+OPTIMIZE (explain), and EXECUTE (noop) —
             the split that exposed the kNN family spending ~1s per
             invocation in driver-side plan assembly. Each build also
             reports its py4j round trips (``py4j_calls``, the seconds
             spent in them ``py4j_s``, and the JVM handles it freed
             ``py4j_frees``), read by the same meter as the Tier-1
             py4j-ceiling test (raster_processor_spark/py4j_meter.py).
             BENCH_EXTRA_ONLY=query_mix selects perfbench's nine
             query-mix queries; with SPARK_GRAFT_SF_DIR at the sf0.01
             tables, SPARK_GRAFT_CPUS=3 and BENCH_EXTRA_PASSES=5 this is
             the ROADMAP's per-builder assembly table.

Env:
  SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     core count (default 32)
  BENCH_EXTRA_ONLY     comma-separated query names (default: a headline set)
  BENCH_EXTRA_PASSES   warm passes per query (default 3)

Box-noise protocol: this sandbox shows host-steal waves (load-average
spikes with zero local processes; same phenomenon disclosed in
BENCH/BASELINE.md §4c). For any A/B claim, interleave the two variants in
alternating sessions within one time window and compare MINIMA — single
sessions can inflate uniformly by 2-4x mid-wave.
"""

from __future__ import annotations

import io
import contextlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from raster_processor_spark.py4j_meter import py4j_calls  # noqa: E402
from raster_processor_spark.queries import REGISTRY  # noqa: E402
from raster_processor_spark.session import get_spark  # noqa: E402

DEFAULT_SET = [
    "knn", "knn_hex", "knn_bucketed", "dedup_minhash_lsh", "decontaminate",
    "zonal_stats_weighted", "zonal_stats_weighted_dist", "polygon_burn",
    "regeoloc", "dedup_image_phash", "wse_weighted_mean", "ifgram_flatten",
    "debug_classification", "repetition_stats", "dedup_simhash",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    mode = os.environ.get("BENCH_EXTRA_MODE", "isolated")
    passes = int(os.environ.get("BENCH_EXTRA_PASSES", "3"))
    only = os.environ.get("BENCH_EXTRA_ONLY", "")
    if only == "query_mix":
        from perfbench.workloads import QUERY_MIX

        only = ",".join(name for name, _ in QUERY_MIX)
    names = [q for q in only.split(",") if q] or DEFAULT_SET
    unknown = sorted(set(names) - set(REGISTRY))
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark(cpus=cpus, app_name="rps_bench_extra")
    out: dict[str, object] = {"mode": mode, "sf_dir": sf_dir, "cpus": cpus}
    res: dict[str, object] = {}
    for name in names:
        fn = REGISTRY[name].spark
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        _noop(fn(spark, sf_dir))  # untimed warm-up (codegen + JIT)
        if mode == "decompose":
            rows = []
            for _ in range(passes):
                with py4j_calls(spark) as calls:
                    t0 = time.perf_counter()
                    df = fn(spark, sf_dir)
                    t1 = time.perf_counter()
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                t2 = time.perf_counter()
                _noop(df)
                t3 = time.perf_counter()
                rows.append(
                    {
                        "build": round(t1 - t0, 3),
                        "py4j_calls": calls.calls,
                        "py4j_s": round(calls.seconds, 3),
                        "py4j_frees": calls.frees,
                        "analyze": round(t2 - t1, 3),
                        "exec": round(t3 - t2, 3),
                    }
                )
            res[name] = {
                "passes": rows,
                "median": {
                    k: statistics.median(r[k] for r in rows) for k in rows[0]
                },
            }
        else:
            ts = []
            for _ in range(passes):
                t0 = time.perf_counter()
                _noop(fn(spark, sf_dir))
                ts.append(round(time.perf_counter() - t0, 3))
            res[name] = {"warm": ts, "min": min(ts)}
        spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()
    out["queries"] = res
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
