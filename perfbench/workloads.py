"""The two workloads and the metrics they report.

Both are closed loops with one client: the next query or pipeline pass
starts only when the previous one has returned. Each workload has an
untimed check phase that doubles as its warm-up (it builds every build-once
artifact and compiles every plan), then a fixed number of timed passes.

With tracing on, each timed pass is run twice, once traced and once not;
the per-layer figures are medians over the traced passes, and the tracing
overhead is the traced passes' median wall time against the untraced ones'.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
import uuid

from perfbench import inputs, procfs
from perfbench.spans import SparkStatus, Tracer, covered, job_group

# (registered query, operator family): one query for each of the nine
# operator modules the per-layer metrics name, chosen so a warm pass stays
# near QUERY_PASS_S on 3 cores. Each builds its plan in the Spark driver
# and runs in 0.2-2 s at this scale, so fixed per-query cost dominates.
# knn_bucketed, ann_ivf_topk and qual_rollup_dense build the bucketed
# layout, the IVF index and the burn mask, so set-up covers every
# build-once artifact.
QUERY_MIX = [
    ("pip_join", "spatial_join"),
    ("polygon_burn", "burn"),
    ("knn_bucketed", "knn"),
    ("qual_rollup_dense", "aggregates"),
    ("weighted_error_metrics", "percentiles"),
    ("dedup_simhash", "dedup"),
    ("ann_ivf_topk", "similarity"),
    ("text_stats", "text"),
    ("asof_join", "windows"),
]
FAMILIES = sorted({f for _, f in QUERY_MIX})
QUERY_PASS_S = 8.5   # nominal warm pass: timed passes = seconds / this
CYCLE_S = 10.0       # nominal cycle of a fresh pass and its resumes
RESUMES_PER_CYCLE = 3  # a resume is short (~1.5 s), so it is repeated
PIPELINE_WARMUP_CYCLES = 2
STAGES = ("tiles", "stats", "cell_aggs", "poly_pairs", "zonal")
RESUMED = ("cell_aggs", "poly_pairs", "zonal")  # recomputed on resume


def timed_count(seconds: float, nominal: float) -> int:
    """Timed passes per run: a fixed count for a given ``--seconds``, so
    every run's medians are over the same number of samples."""
    return max(2, round(seconds / nominal))


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
                files += 1
    return total, files


class Context:
    """Everything a workload needs, plus the operation ledger."""

    def __init__(self, spark, seed: int, seconds: float, trace: bool,
                 cpus: int, run_dir: str):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = cpus
        self.run_dir = run_dir
        self.pid = os.getpid()
        self.tracer = Tracer(False)
        self.status = SparkStatus(spark) if trace else None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.t_steady: float | None = None

    def op(self, label: str, fn) -> object:
        """Run one operation; an exception or a failed output check
        (``fn`` returning ``False``) counts as failed. Returns ``fn``'s
        result, or ``None`` on failure."""
        self.attempted += 1
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 — every failure is counted
            traceback.print_exc(file=sys.stderr)
            out = False
            label = f"{label}: {type(e).__name__}: {(str(e).splitlines() or [''])[0][:200]}"
        if out is False:
            self.failed += 1
            self.failures.append(label)
            return None
        return out

    def cpu(self) -> float:
        return procfs.tree_cpu_s(self.pid)

    def hygiene(self) -> None:
        """Untimed between operations: drop cached plans' blocks and force a
        driver GC so each operation starts from the same heap state."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ----------------------------------------------------------- query_mix ---


def query_mix(ctx: Context, sf_dir: str, oracle: dict) -> dict:
    from raster_processor_spark.queries import REGISTRY

    spark, tr = ctx.spark, ctx.tracer
    rng = random.Random(ctx.seed)
    family = dict(QUERY_MIX)
    probe = StoreProbe(spark, tr) if ctx.trace else None

    def order() -> list[str]:
        names = [n for n, _ in QUERY_MIX]
        rng.shuffle(names)
        return names

    def run_query(name: str) -> bool:
        with tr.span("query", new_trace=True, query=name, family=family[name]):
            with tr.span("build") as bs, job_group(spark, tr, bs):
                df = REGISTRY[name].spark(spark, sf_dir)
            with tr.span("exec") as es, job_group(spark, tr, es):
                df.write.format("noop").mode("overwrite").save()
        return True

    def timed_pass(traced: bool) -> tuple[float, float, list, dict | None]:
        """One pass over the mix → (wall, cpu, [(query, latency)], layer
        figures of a traced pass)."""
        if traced:
            ctx.status.mark()
            sql0 = ctx.status.sql_count()
            first_span = len(tr.spans)
            cost0 = tr.cost_s
            tr.enabled = True
        lats, cpu = [], 0.0
        with probe if traced else contextlib.nullcontext():
            for name in order():
                c0 = ctx.cpu()
                t0 = time.perf_counter()
                ok = ctx.op(f"query {name}", lambda name=name: run_query(name))
                lat = time.perf_counter() - t0
                cpu += ctx.cpu() - c0
                if ok is not None:
                    lats.append((name, lat))
                ctx.hygiene()
        tr.enabled = False
        wall = sum(x for _, x in lats)
        row = None
        if traced:
            row = _query_pass_layers(ctx, sql0, first_span, wall, oracle)
            row["trace.hook_share"] = (tr.cost_s - cost0) / wall
        return wall, cpu, lats, row

    # check pass, also the warm-up: every output equals its DuckDB oracle
    # and is non-empty
    check_s = {}
    for name in order():
        def check(name=name):
            df = REGISTRY[name].spark(spark, sf_dir)
            rows = inputs.normalize([tuple(r) for r in df.collect()], df.columns)
            return len(rows) > 0 and rows == oracle[name]
        t0 = time.perf_counter()
        ctx.op(f"check {name}", check)
        check_s[name] = round(time.perf_counter() - t0, 4)
        ctx.hygiene()
    ctx.t_steady = time.time()

    passes = []          # untraced: (wall, cpu, [(query, latency)])
    traced_walls, layer_rows = [], []
    for k in range(timed_count(ctx.seconds, QUERY_PASS_S)):
        for traced in _pass_kinds(ctx.trace, k):
            wall, cpu, lats, row = timed_pass(traced)
            if traced:
                traced_walls.append(wall)
                layer_rows.append(row)
            else:
                passes.append((wall, cpu, lats))

    per_query: dict[str, list[float]] = {}
    for p in passes:
        for name, x in p[2]:
            per_query.setdefault(name, []).append(x)
    all_lats = sorted(x for xs in per_query.values() for x in xs)
    n = len(all_lats)
    tail = all_lats[n - 11] if n >= 11 else (all_lats[-1] if all_lats else 0.0)
    art_bytes = dir_bytes(os.environ["SPARK_GRAFT_INDEX_DIR"])[0] + \
        dir_bytes(_bucketed_dir(sf_dir))[0]
    in_bytes = dir_bytes(sf_dir)[0]
    e2e = {
        "pass_s": _median([p[0] for p in passes]),
        "op_p50_s": _geomean([_median(xs) for xs in per_query.values()]),
        "throughput_per_s": n / sum(all_lats) if all_lats else 0.0,
        "core_s_per_pass": _median([p[1] for p in passes]),
        "bytes_per_input_byte": art_bytes / in_bytes,
    }
    detail = {
        "timed_phase_s": time.time() - ctx.t_steady,
        "timed_passes": len(passes),
        "query_samples": n,
        "query_tail_s": tail,
        "query_tail_pct": round(100 * (n - 10) / n, 1) if n > 10 else None,
        "trend_last_over_first": passes[-1][0] / passes[0][0] if len(passes) > 1 else 1.0,
        "pass_walls_s": [round(p[0], 4) for p in passes],
        "per_query_s": {k: [round(x, 4) for x in xs] for k, xs in per_query.items()},
        "check_pass_s": check_s,
    }
    layers = {}
    if ctx.trace:
        layers = _merge_layer_rows(layer_rows)
        layers["trace.overhead_share"] = _overhead(traced_walls, passes)
        layers["queries.tail_s"] = tail
        layers["queries.samples"] = n
        detail["traced_pass_walls_s"] = [round(x, 4) for x in traced_walls]
    return {"e2e": e2e, "detail": detail, "layers": layers}


def _pass_kinds(trace: bool, k: int) -> tuple[bool, ...]:
    """Whether each pass of the ``k``-th timed round is traced. A traced run
    pairs every traced pass with an untraced one, in alternating order so
    the warm-up trend does not favour either, to measure tracing overhead."""
    if not trace:
        return (False,)
    return (False, True) if k % 2 == 0 else (True, False)


def _overhead(traced_walls: list[float], untraced: list[tuple]) -> float:
    """Median traced pass wall time over median untraced, minus 1."""
    base = _median([p[0] for p in untraced])
    return _median(traced_walls) / base - 1 if base > 0 else 0.0


def _geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def _bucketed_dir(sf_dir: str) -> str:
    """Where the engine keeps the bucketed layouts built from ``sf_dir``
    (queries.py derives it from the data directory's basename)."""
    import raster_processor_spark

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(raster_processor_spark.__file__))),
        "spark-warehouse", "rps_bucketed", os.path.basename(os.path.normpath(sf_dir)),
    )


def _exec_layers(ctx: Context, stages: list[dict], nodes: list[dict],
                 wall: float) -> dict:
    task_s = sum(s["task_s"] for s in stages)
    py_rows = sum(nd["metrics"].get("number of output rows", 0.0) for nd in nodes)
    py_bytes = sum(
        nd["metrics"].get("data sent to Python workers", 0.0)
        + nd["metrics"].get("data returned from Python workers", 0.0)
        for nd in nodes
    )
    return {
        "exec.jobs": len({s["job_id"] for s in stages}),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.task_s": task_s,
        "exec.gc_s": sum(s["gc_s"] for s in stages),
        "exec.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "exec.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "exec.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "exec.skew": max((s["skew"] for s in stages), default=0.0),
        "exec.slot_busy": task_s / (wall * ctx.cpus) if wall > 0 else 0.0,
        "exec.python_rows": py_rows,
        "exec.python_bytes": py_bytes,
    }


def _udf_nodes(nodes: list[dict], udf: str) -> tuple[float, float]:
    """(rows, seconds in Python workers) of the plan nodes running ``udf``."""
    hit = [nd for nd in nodes if f"{udf}(" in nd["desc"]]
    return (sum(nd["metrics"].get("number of output rows", 0.0) for nd in hit),
            sum(nd["metrics"].get("time to run Python workers", 0.0) for nd in hit))


def _self_time_share(tr: Tracer, roots: list, wall: float) -> float:
    """Per-layer self times of a pass's traces, summed, over the pass's wall
    time as the workload measured it (outside the spans)."""
    return sum(tr.layer_time(r) for r in roots) / wall if wall > 0 else 0.0


def _query_pass_layers(ctx: Context, sql0: int, first_span: int, wall: float,
                       oracle: dict) -> dict:
    tr, status = ctx.tracer, ctx.status
    spans = tr.spans[first_span:]
    queries = [s for s in spans if s.name == "query"]
    row = {f"operators.{f}.{k}": 0.0 for f in FAMILIES for k in ("build_s", "exec_s")}
    claimed: set[int] = set()
    build_s = build_job_s = 0.0
    build_jobs = 0
    stages: list[dict] = []
    nodes: list[dict] = []
    refine_rows = pip_rows = 0.0
    for q in queries:
        # a query that raised has no exec span, or not even a build span
        kids = {c.name: c for c in tr.children(q)}
        q_claim: set[int] = set()
        # innermost first (spans are listed as they close), so a snapshot
        # span inside a plan-building call claims its own jobs
        inner = {s.span_id for s in tr.subtree(q)} - {q.span_id}
        for sp in [s for s in spans if s.span_id in inner]:
            stages += status.attach(tr, sp, q_claim)
        fam = q.attrs["family"]
        if "build" in kids:
            b = kids["build"]
            b_jobs = [j for j in tr.subtree(b) if j.attrs.get("kind") == "spark_job"]
            build_jobs += len(b_jobs)
            build_s += b.dur
            build_job_s += covered([(j.start, j.end) for j in b_jobs])
            row[f"operators.{fam}.build_s"] += b.dur
        if "exec" in kids:
            row[f"operators.{fam}.exec_s"] += kids["exec"].dur
        claimed |= q_claim
        if q.attrs["query"] == "pip_join":
            q_nodes = status.python_nodes(sql0, q_claim)
            refine_rows += _udf_nodes(q_nodes, "_refine")[0]
            pip_rows += len(oracle["pip_join"])
    nodes = status.python_nodes(sql0, claimed)
    row.update({
        "queries.build_s": build_s,
        "queries.build_jobs": build_jobs,
        "queries.build_job_s": build_job_s,
        "queries.assembly_s": build_s - build_job_s,
        "spatial_join.refine_rows": refine_rows,
        "spatial_join.refine_yield": pip_rows / refine_rows if refine_rows else 0.0,
        "trace.self_time_share": _self_time_share(tr, queries, wall),
    })
    row.update(_exec_layers(ctx, stages, nodes, wall))
    row.update(_snapshot_layers(tr, spans))
    return row


def _snapshot_layers(tr: Tracer, spans: list) -> dict:
    writes = [s for s in spans if s.name == "snapshot.write"]
    write_s = sum(s.dur for s in writes)
    job_s = sum(covered([(j.start, j.end) for j in tr.children(s)]) for s in writes)
    return {
        "snapshots.write_s": write_s,
        "snapshots.write_job_s": job_s,
        "snapshots.commit_s": write_s - job_s,
        "snapshots.bytes_written": sum(s.attrs.get("bytes", 0) for s in writes),
        "snapshots.files_written": sum(s.attrs.get("files", 0) for s in writes),
        "snapshots.read_s": sum(s.dur for s in spans if s.name == "snapshot.read"),
        "snapshots.resumed_stages": sum(
            1 for s in spans if s.name == "stage" and s.attrs.get("resumed")
        ),
    }


def _merge_layer_rows(rows: list[dict]) -> dict:
    """Median of each per-layer figure over the traced passes."""
    return {k: _median([r[k] for r in rows]) for k in rows[0]} if rows else {}


# -------------------------------------------------------- tile_pipeline ---


class StoreProbe:
    """Wraps ``SnapshotStore``'s public methods (on the class, in this
    process only, while entered) with spans: one per ``resume_or_compute``
    (a pipeline stage), ``write`` (a commit) and ``read``. Jobs started
    inside each are tagged with its job group. Entered only around traced
    passes, so untraced passes call the engine as a plain caller would."""

    def __init__(self, spark, tracer: Tracer):
        from raster_processor_spark.sources.snapshots import SnapshotStore

        self.cls = SnapshotStore
        self.orig = {m: getattr(SnapshotStore, m)
                     for m in ("resume_or_compute", "write", "read")}
        self.root = None  # span that engine-thread spans hang under
        tr, orig, probe = tracer, self.orig, self

        def resume_or_compute(store, spark_, table, compute, *a, **kw):
            resumed = store.has(table) and not kw.get("force", False)
            with tr.span("stage", parent=tr.current() or probe.root,
                         table=table, resumed=resumed) as sp, \
                    job_group(spark, tr, sp):
                return orig["resume_or_compute"](store, spark_, table, compute, *a, **kw)

        def write(store, df, table, *a, **kw):
            with tr.span("snapshot.write", parent=tr.current() or probe.root,
                         table=table) as sp, job_group(spark, tr, sp):
                snap = orig["write"](store, df, table, *a, **kw)
            t0 = time.perf_counter()
            sp.attrs["bytes"], sp.attrs["files"] = dir_bytes(
                os.path.join(store.root, table, f"snap-{snap}", "data.parquet")
            )
            man = store.manifest(table, snap)
            sp.attrs["rows"] = man["row_count"]
            sp.attrs["decoded_bytes"] = sum(
                p.get("bytes", 0) for p in man["partitions"]
            )
            tr.charge(t0)
            return snap

        def read(store, spark_, table, *a, **kw):
            with tr.span("snapshot.read", parent=tr.current() or probe.root,
                         table=table):
                return orig["read"](store, spark_, table, *a, **kw)

        self.wrapped = {"resume_or_compute": resume_or_compute, "write": write,
                        "read": read}

    def __enter__(self):
        for m, f in self.wrapped.items():
            setattr(self.cls, m, f)
        return self

    def __exit__(self, *exc):
        for m, f in self.orig.items():
            setattr(self.cls, m, f)


def tile_pipeline(ctx: Context, images_path: str, golden: dict) -> dict:
    from raster_processor_spark.plans.images_pipeline import run_pipeline
    from raster_processor_spark.sources.snapshots import SnapshotStore

    spark, tr = ctx.spark, ctx.tracer
    in_bytes = dir_bytes(images_path)[0]
    probe = StoreProbe(spark, tr) if ctx.trace else None

    def pipeline_pass(root: str, kind: str) -> dict:
        with tr.span("pipeline", new_trace=True, kind=kind) as sp:
            if probe is not None:
                probe.root = sp
            return run_pipeline(spark, images_path, root)

    def counts(root: str) -> dict:
        store = SnapshotStore(root)
        return {t: store.manifest(t)["row_count"] for t in STAGES}

    def crash_after_stats(root: str) -> None:
        """Leave ``root`` as a run that crashed after stage 2 leaves it."""
        for t in RESUMED:
            shutil.rmtree(os.path.join(root, t))

    def new_root() -> str:
        return os.path.join(ctx.run_dir, f"snap-{uuid.uuid4().hex[:8]}")

    expect: dict = {}

    def check_cycle(root: str) -> bool:
        pipeline_pass(root, "fresh")
        got = counts(root)
        out = run_pipeline(spark, images_path, root)  # resumes all five
        sample = list(golden)
        tiles = {
            r.image_id: [r.cell9, r.cell8, r.cell7]
            for r in out["tiles"].where(out["tiles"].image_id.isin(sample)).collect()
        }
        pairs: dict[str, list[int]] = {}
        for r in out["poly_pairs"].where(out["poly_pairs"].image_id.isin(sample)).collect():
            pairs.setdefault(r.image_id, []).append(int(r.poly_id))
        ok = set(tiles) == set(golden) and all(
            tiles[i] == g["cells"] and sorted(pairs.get(i, [])) == sorted(g["polys"])
            for i, g in golden.items()
        )
        ok = ok and got["poly_pairs"] > 0 and got["tiles"] == expect["images"]
        before = {t: sorted(map(tuple, out[t].collect())) for t in RESUMED}
        crash_after_stats(root)
        again = pipeline_pass(root, "resume")
        after = {t: sorted(map(tuple, again[t].collect())) for t in RESUMED}
        expect["counts"] = got
        return ok and before == after

    def warm_cycle(root: str) -> bool:
        pipeline_pass(root, "fresh")
        crash_after_stats(root)
        pipeline_pass(root, "resume")
        return True

    def timed_cycle(traced: bool) -> tuple | None:
        """Fresh pass then RESUMES_PER_CYCLE resumes → (fresh wall, cpu,
        rows, [resume walls], snapshot bytes, layer figures of a traced
        cycle), or None if any failed."""
        if traced:
            ctx.status.mark()
            sql0 = ctx.status.sql_count()
            first_span = len(tr.spans)
            cost0 = tr.cost_s
            tr.enabled = True
        root = new_root()
        with probe if traced else contextlib.nullcontext():
            c0 = ctx.cpu()
            t0 = time.perf_counter()
            ok = ctx.op("fresh pass", lambda: pipeline_pass(root, "fresh"))
            wall = time.perf_counter() - t0
            cpu = ctx.cpu() - c0
            hook_s = tr.cost_s - cost0 if traced else 0.0
            got = counts(root) if ok is not None else None
            if got is not None and got != expect.get("counts", got):
                ctx.failed += 1
                ctx.failures.append(f"fresh pass row counts {got}")
                got = None
            snap_bytes = sum(dir_bytes(os.path.join(root, t))[0] for t in STAGES)
            ctx.hygiene()
            rwalls = []
            for _ in range(RESUMES_PER_CYCLE if got is not None else 0):
                crash_after_stats(root)
                t1 = time.perf_counter()
                ok = ctx.op("resume pass", lambda: pipeline_pass(root, "resume"))
                rwalls.append(time.perf_counter() - t1)
                ctx.hygiene()
                if ok is None:
                    break
        tr.enabled = False
        shutil.rmtree(root, ignore_errors=True)
        if got is None or ok is None:
            return None
        row = None
        if traced:
            row = _pipeline_layers(ctx, sql0, first_span, wall)
            row["trace.hook_share"] = hook_s / wall
        return wall, cpu, got["tiles"] + got["poly_pairs"], rwalls, snap_bytes, row

    expect["images"] = spark.read.parquet(images_path).count()
    for i in range(PIPELINE_WARMUP_CYCLES):
        root = new_root()
        if i == 0:
            ctx.op("check pipeline vs golden, resume vs fresh",
                   lambda: check_cycle(root))
        else:
            ctx.op("warm-up cycle", lambda: warm_cycle(root))
        shutil.rmtree(root, ignore_errors=True)
        ctx.hygiene()
    ctx.t_steady = time.time()

    cycles = []   # untraced: (fresh wall, cpu, rows, [resume walls], snapshot bytes)
    traced_walls, layer_rows = [], []
    for k in range(timed_count(ctx.seconds, CYCLE_S)):
        for traced in _pass_kinds(ctx.trace, k):
            c = timed_cycle(traced)
            if c is None:
                continue
            if traced:
                traced_walls.append(c[0])
                layer_rows.append(c[5])
            else:
                cycles.append(c[:5])

    e2e = {
        "pass_s": _median([c[0] for c in cycles]),
        "op_p50_s": _median([x for c in cycles for x in c[3]]),
        "throughput_per_s": _median([c[2] / c[0] for c in cycles]),
        "core_s_per_pass": _median([c[1] for c in cycles]),
        "bytes_per_input_byte": _median([c[4] for c in cycles]) / in_bytes,
    }
    detail = {
        "timed_phase_s": time.time() - ctx.t_steady,
        "timed_cycles": len(cycles),
        "images": expect["images"],
        "rows_per_pass": cycles[0][2] if cycles else 0,
        "trend_last_over_first": cycles[-1][0] / cycles[0][0] if len(cycles) > 1 else 1.0,
        "pass_walls_s": [round(c[0], 4) for c in cycles],
        "resume_walls_s": [round(x, 4) for c in cycles for x in c[3]],
    }
    layers = {}
    if ctx.trace:
        layers = _merge_layer_rows(layer_rows)
        layers["trace.overhead_share"] = _overhead(traced_walls, cycles)
        detail["traced_pass_walls_s"] = [round(x, 4) for x in traced_walls]
    return {"e2e": e2e, "detail": detail, "layers": layers}


def _pipeline_layers(ctx: Context, sql0: int, first_span: int, wall: float) -> dict:
    tr, status = ctx.tracer, ctx.status
    spans = tr.spans[first_span:]
    passes = [s for s in spans if s.name == "pipeline"]
    fresh = next(s for s in passes if s.attrs["kind"] == "fresh")
    fresh_spans = tr.subtree(fresh)
    fresh_ids = {s.span_id for s in fresh_spans}
    stage_spans = {s.attrs["table"]: s for s in fresh_spans if s.name == "stage"}
    claimed: set[int] = set()
    stages: list[dict] = []
    # writes first: their jobs carry the write's group, nested in the stage
    for s in [s for s in spans if s.name == "snapshot.write"] + \
            [s for s in spans if s.name == "stage"]:
        got = status.attach(tr, s, claimed, ungrouped=False)
        if s.span_id in fresh_ids:
            stages += got
    stage_jobs = {
        t: {c.attrs["job_id"] for c in tr.subtree(sp)
            if c.attrs.get("kind") == "spark_job"}
        for t, sp in stage_spans.items()
    }
    fresh_jobs = set().union(*stage_jobs.values())
    nodes = status.python_nodes(sql0, fresh_jobs)
    enc_rows, enc_s = _udf_nodes(status.python_nodes(sql0, stage_jobs["tiles"]), "_encode")
    ref_rows, _ = _udf_nodes(status.python_nodes(sql0, stage_jobs["poly_pairs"]), "_refine")
    writes = {s.attrs["table"]: s for s in fresh_spans if s.name == "snapshot.write"}
    pp_rows = writes["poly_pairs"].attrs.get("rows", 0)
    stats_s = stage_spans["stats"].dur
    row = {f"pipeline.stage_s.{t}": stage_spans[t].dur for t in STAGES}
    row.update({
        "encode.rows": enc_rows,
        "encode.s": enc_s,
        "decode.images": writes["stats"].attrs.get("rows", 0),
        "decode.bytes_per_s": writes["stats"].attrs.get("decoded_bytes", 0) / stats_s
        if stats_s > 0 else 0.0,
        "spatial_join.refine_rows": ref_rows,
        "spatial_join.refine_yield": pp_rows / ref_rows if ref_rows else 0.0,
        "trace.self_time_share": _self_time_share(tr, [fresh], wall),
    })
    row.update(_exec_layers(ctx, stages, nodes, wall))
    snap = _snapshot_layers(tr, fresh_spans)
    # per resume pass: the median over the cycle's resumes
    resumes = [_snapshot_layers(tr, tr.subtree(p)) for p in passes
               if p.attrs["kind"] == "resume"]
    for k in ("snapshots.read_s", "snapshots.resumed_stages"):
        snap[k] = _median([r[k] for r in resumes])
    row.update(snap)
    return row
