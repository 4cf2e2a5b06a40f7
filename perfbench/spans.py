"""In-memory spans plus readers for Spark's live status stores.

A span has a name, start and end (epoch seconds), a parent, a trace id and
free-form attributes. Spans are kept in memory and written out once, when
the run ends. Spark jobs are tied to the span that started them through the
job group: ``job_group`` tags every job a block starts, and
``SparkStatus`` later turns those jobs and their stages into child spans
with Spark's own submission and completion times.

Nothing here changes the engine: the status stores are read over py4j from
outside, after the traced work has returned.
"""

from __future__ import annotations

import itertools
import json
import re
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one run. ``enabled=False`` makes every call a no-op, so the
    untraced path runs the engine exactly as a plain caller would.
    ``cost_s`` accumulates the time traced work spends in tracing hooks."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.cost_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def charge(self, t0: float) -> None:
        """Add the time since ``t0`` (``time.perf_counter``) to ``cost_s``."""
        dt = time.perf_counter() - t0
        with self._lock:
            self.cost_s += dt

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, new_trace: bool = False, parent: Span | None = None,
             **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = parent if parent is not None else self.current()
        trace_id = (
            uuid.uuid4().hex[:16]
            if new_trace or parent is None else parent.trace_id
        )
        sp = Span(next(self._ids), name, time.time(), 0.0,
                  None if new_trace or parent is None else parent.span_id,
                  trace_id, dict(attrs))
        st = self._stack()
        st.append(sp)
        self.charge(t0)
        try:
            yield sp
        finally:
            t0 = time.perf_counter()
            sp.end = time.time()
            st.pop()
            with self._lock:
                self.spans.append(sp)
            self.charge(t0)

    def add(self, name: str, start: float, end: float, parent: Span,
            **attrs) -> Span:
        sp = Span(next(self._ids), name, start, end, parent.span_id,
                  parent.trace_id, dict(attrs))
        with self._lock:
            self.spans.append(sp)
        return sp

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.span_id]

    def subtree(self, root: Span) -> list[Span]:
        by_parent: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                by_parent.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(by_parent.get(s.span_id, ()))
        return out

    def layer_time(self, sp: Span) -> float:
        """Time of ``sp``'s tree split into layers and summed: each span's
        self time, plus, per span, the union of its Spark jobs (the jobs are
        the leaves; their stages are detail). Nested spans sum to the root's
        duration; spans that overlap siblings they are not jobs of (e.g.
        concurrent pipeline stages) count once each, so the sum exceeds the
        root's duration by the overlap."""
        kids = [c for c in self.children(sp) if c.attrs.get("kind") != "spark_stage"]
        jobs = [c for c in kids if c.attrs.get("kind") == "spark_job"]

        def clip(c: Span) -> tuple[float, float]:
            return max(c.start, sp.start), min(c.end, sp.end)

        return (
            sp.dur - covered([clip(c) for c in kids])
            + covered([clip(j) for j in jobs])
            + sum(self.layer_time(c) for c in kids
                  if c.attrs.get("kind") != "spark_job")
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@contextmanager
def job_group(spark, tracer: Tracer, sp: Span | None):
    """Tag the Spark jobs started by this thread inside the block with a job
    group named after ``sp``, restoring the enclosing group afterwards; a
    no-op when tracing is off."""
    if not tracer.enabled or sp is None:
        yield
        return
    t0 = time.perf_counter()
    sc = spark.sparkContext
    prev = (sc.getLocalProperty("spark.jobGroup.id"),
            sc.getLocalProperty("spark.job.description"))
    group = f"pb-{sp.trace_id}-{sp.span_id}"
    sp.attrs["job_group"] = group
    sc.setJobGroup(group, sp.name)
    tracer.charge(t0)
    try:
        yield
    finally:
        t0 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", prev[0])
        sc.setLocalProperty("spark.job.description", prev[1])
        tracer.charge(t0)


# ------------------------------------------------------------- metrics ---

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}


def parse_metric(text: str | None) -> float:
    """Spark SQL metric text → number: ``"1,234"`` → 1234, ``"58.8 KiB"`` →
    bytes, ``"1.2 s"``/``"35 ms"`` → seconds. Multi-task metrics read
    ``"total (min, med, max ...)\\n<total> (...)"``; the total is used."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    it = s.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class SparkStatus:
    """Reads jobs, stages and SQL executions of this session's application
    from Spark's status stores (the ones the web UI renders; they exist with
    the UI disabled)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._q = gw.new_array(gw.jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0
        self.floor = -1

    def mark(self) -> None:
        """Ungrouped jobs started before this call are never claimed by a
        later ``attach``."""
        self.floor = max(self.job_ids(None), default=-1)

    def sql_count(self) -> int:
        return int(self.sql.executionsCount())

    def job(self, jid: int) -> dict:
        j = self.store.job(int(jid))
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        return {
            "job_id": int(jid),
            "start": sub.getTime() / 1000 if sub is not None else None,
            "end": done.getTime() / 1000 if done is not None else None,
            "stage_ids": [int(x) for x in _seq(j.stageIds())],
        }

    def job_ids(self, group: str | None) -> list[int]:
        """Jobs of a job group; ``None`` gives the jobs started with no
        group, e.g. from threads the engine starts itself."""
        return sorted(int(j) for j in self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, stage_id: int) -> list[dict]:
        """Every attempt of a stage that ran (skipped stages have none)."""
        out = []
        for s in _seq(self.store.stageData(stage_id, False, None, False, None)):
            if str(s.status()) == "SKIPPED":
                continue
            sub, done = _opt(s.submissionTime()), _opt(s.completionTime())
            n_tasks = int(s.numCompleteTasks())
            skew = 0.0
            if n_tasks >= 2:
                summ = _opt(self.store.taskSummary(stage_id, s.attemptId(), self._q))
                if summ is not None:
                    q = _seq(summ.executorRunTime())
                    if q and q[0] > 0:
                        skew = float(q[1]) / float(q[0])
            out.append({
                "stage_id": stage_id,
                "attempt": int(s.attemptId()),
                "start": sub.getTime() / 1000 if sub is not None else None,
                "end": done.getTime() / 1000 if done is not None else None,
                "tasks": n_tasks,
                "task_s": s.executorRunTime() / 1000,
                "gc_s": s.jvmGcTime() / 1000,
                "shuffle_write_bytes": int(s.shuffleWriteBytes()),
                "shuffle_read_bytes": int(s.shuffleReadBytes()),
                "spill_bytes": int(s.diskBytesSpilled()),
                "skew": skew,
            })
        return out

    def python_nodes(self, since: int, job_ids: set[int]) -> list[dict]:
        """Python-boundary plan nodes (Arrow/pandas UDFs, mapIn*) of the SQL
        executions numbered ``since`` onward that ran any of ``job_ids``:
        node description and its SQL metrics as numbers."""
        out = []
        total = self.sql_count()
        if total <= since:
            return out
        for e in _seq(self.sql.executionsList(since, total - since)):
            jobs = {int(k) for k in _seq(e.jobs().keys())}
            if not jobs & job_ids:
                continue
            values = self.sql.executionMetrics(e.executionId())
            for node in _seq(self.sql.planGraph(e.executionId()).allNodes()):
                name = node.name()
                if "Python" not in name and "InPandas" not in name \
                        and "InArrow" not in name:
                    continue
                metrics = {}
                for pm in _seq(node.metrics()):
                    metrics[pm.name()] = parse_metric(
                        _opt(values.get(pm.accumulatorId()))
                    )
                out.append({"name": name, "desc": node.desc(),
                            "metrics": metrics})
        return out

    def attach(self, tracer: Tracer, sp: Span, claimed: set[int],
               ungrouped: bool = True) -> list[dict]:
        """Add the jobs of ``sp`` as child spans of ``sp`` and their stages
        as children of the jobs; returns the stage records. The jobs of a
        span are those of its job group plus, with ``ungrouped``, the
        not-yet-claimed jobs without a group submitted while the span was
        open: engine threads do not inherit the caller's job group, and the
        workloads run one client, so those jobs belong to the open span.
        ``claimed`` collects the job ids taken, across calls."""
        group = sp.attrs.get("job_group")
        if group is None:
            return []
        ids = [j for j in self.job_ids(group) if j not in claimed]
        jobs = [self.job(j) for j in ids]
        if ungrouped:
            for jid in self.job_ids(None):
                if jid in claimed or jid <= self.floor:
                    continue
                job = self.job(jid)
                if job["start"] is not None and \
                        sp.start - 1e-3 <= job["start"] <= sp.end:
                    jobs.append(job)
        stages = []
        for job in jobs:
            claimed.add(job["job_id"])
            if job["start"] is None:
                continue
            jsp = tracer.add(f"job {job['job_id']}", job["start"],
                             job["end"] or job["start"], sp,
                             kind="spark_job", job_id=job["job_id"])
            for sid in job["stage_ids"]:
                for st in self.stages(sid):
                    if st["start"] is None:
                        continue
                    attrs = {k: v for k, v in st.items() if k not in ("start", "end")}
                    tracer.add(f"stage {sid}.{st['attempt']}", st["start"],
                               st["end"] or st["start"], jsp,
                               kind="spark_stage", **attrs)
                    st["job_id"] = job["job_id"]
                    stages.append(st)
        return stages
