"""Unit tests of the benchmark's own machinery; no Spark needed."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import procfs, run, spans, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_emitted_metrics():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
    assert e2e == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.layer_units()
    assert e2e["setup_s"] == "s"
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_parse_metric():
    assert spans.parse_metric("1,234") == 1234
    assert spans.parse_metric("58.8 KiB") == pytest.approx(58.8 * 1024)
    assert spans.parse_metric("35 ms") == pytest.approx(0.035)
    assert spans.parse_metric(
        "total (min, med, max (stageId: taskId))\n1.5 s (0.1 s, 0.5 s, 0.9 s (stage 3.0: task 7))"
    ) == pytest.approx(1.5)
    assert spans.parse_metric(None) == 0.0


def _tree():
    """A query trace built by hand: build [0, 2] with a job [0.5, 1.5],
    exec [2, 10] with two overlapping jobs [3, 6] and [5, 9]."""
    tr = spans.Tracer(True)
    q = spans.Span(1, "query", 0.0, 10.0, None, "t")
    b = spans.Span(2, "build", 0.0, 2.0, 1, "t")
    e = spans.Span(3, "exec", 2.0, 10.0, 1, "t")
    tr.spans += [q, b, e]
    tr.add("job 1", 0.5, 1.5, b, kind="spark_job")
    j2 = tr.add("job 2", 3.0, 6.0, e, kind="spark_job")
    tr.add("job 3", 5.0, 9.0, e, kind="spark_job")
    tr.add("stage 4.0", 3.0, 6.0, j2, kind="spark_stage")
    return tr, q


def test_layer_time_sums_to_the_root_when_nested():
    tr, q = _tree()
    # overlapping jobs count once (their union), stages are detail
    assert tr.layer_time(q) == pytest.approx(q.dur)
    assert spans.covered([(3.0, 6.0), (5.0, 9.0), (0.5, 1.5)]) == pytest.approx(7.0)


def test_span_context_nests_and_opens_traces():
    tr = spans.Tracer(True)
    with tr.span("query", new_trace=True) as q:
        with tr.span("build") as b:
            pass
    with tr.span("query", new_trace=True) as q2:
        pass
    assert b.parent == q.span_id and b.trace_id == q.trace_id
    assert q.parent is None and q2.trace_id != q.trace_id
    assert q.start <= b.start <= b.end <= q.end
    off = spans.Tracer(False)
    with off.span("query") as none:
        assert none is None
    assert off.spans == []


class _Ctx(workloads.Context):
    def __init__(self):  # no Spark: only the operation ledger
        self.attempted = self.failed = 0
        self.failures = []


def test_failed_operations_are_counted():
    ctx = _Ctx()

    def boom():
        raise RuntimeError("forced")

    assert ctx.op("ok", lambda: 1) == 1
    assert ctx.op("raises", boom) is None
    assert ctx.op("mismatch", lambda: False) is None
    assert (ctx.attempted, ctx.failed) == (3, 2)
    assert ctx.failures[0].startswith("raises: RuntimeError: forced")


def test_timed_count_is_fixed_per_seconds():
    assert workloads.timed_count(15, 7.5) == 2
    assert workloads.timed_count(1, 7.5) == 2
    assert workloads.timed_count(30, 7.5) == 4


def test_procfs_reads_this_process():
    pid = os.getpid()
    assert pid in procfs.tree_pids(pid)
    assert procfs.tree_cpu_s(pid) > 0
    assert sum(procfs.tree_peak_rss_bytes(pid).values()) > 0
    assert procfs.loadavg_1m() >= 0
    assert procfs.host_steal_s() >= 0


def test_missing_engine_exits_nonzero_without_result(tmp_path, capsys):
    import shutil
    import subprocess
    import sys

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
