"""Spans, layer attribution and the benchmark's own arithmetic.

Spans are kept in memory and written out when the run ends. Each span has a
name, a layer, a start, an end (epoch seconds, so they line up with the
millisecond timestamps of Spark's status store) and a parent. Levels: run,
pass, op, builder call / action / layer call, and Spark job.

The pure functions at the top (``tail_percentile``, ``self_times``,
``attribute_jobs``) carry the arithmetic that ``test_arith.py`` checks.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

#: Percentiles the tail metric may report, highest first.
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)


def tail_percentile(values: list[float], guaranteed_n: int | None = None) -> tuple[float, float]:
    """(percentile, value): the highest ladder percentile with at least ten
    samples beyond it. The percentile is chosen from ``guaranteed_n`` (the
    sample count every run reaches) when given, so it does not move between
    runs that complete a different number of passes; the value is the
    nearest-rank percentile of all ``values``."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    basis = min(n, guaranteed_n or n)
    pct = None
    for p in TAIL_LADDER:
        if basis - math.ceil(p / 100.0 * basis) >= 10:
            pct = p
            break
    if pct is None:
        pct = 50.0  # fewer than 20 samples: the median is all they support
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return pct, ordered[rank - 1]


def op_p50(samples: list[tuple[str, float]]) -> float:
    """Median latency of one op. A pass mixes ops of different kinds, so
    each kind's median is taken first and the result is the geometric mean
    of those medians (with one kind, simply its median)."""
    kinds: dict[str, list[float]] = {}
    for kind, latency in samples:
        kinds.setdefault(kind, []).append(latency)
    logs = [math.log(statistics.median(v)) for v in kinds.values()]
    return math.exp(sum(logs) / len(logs))


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_self_times(spans: list["Span"]) -> dict[str, float]:
    """Layer -> self time: the wall time covered by the layer's spans minus
    the part covered by their children of other layers. Overlapping spans
    of one layer (concurrent jobs, nested calls) count once."""
    by_id = {s.id: s for s in spans}
    out: dict[str, float] = {}
    for layer in {s.layer for s in spans}:
        own = [(s.start, s.end) for s in spans if s.layer == layer]
        kids = []
        for s in spans:
            parent = by_id.get(s.parent)
            if parent is not None and parent.layer == layer and s.layer != layer:
                kids.append((max(s.start, parent.start), min(s.end, parent.end)))
        lo = min(a for a, _ in own)
        hi = max(b for _, b in own)
        out[layer] = union_length(own, lo, hi) - union_length(kids, lo, hi)
    return out


def self_times(spans: list["Span"]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its child spans cover (overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - union_length(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float
    end: float
    stage_ids: list[int] = field(default_factory=list)
    op: int | None = None  # attributed op span id
    how: str = ""  # "group", "window" or "" (unattributed)


def attribute_jobs(jobs: list[Job], ops: list["Span"]) -> None:
    """Attribute each job to an op span: by the job group the benchmark set
    (``op.attrs['group']``), else by the op whose time window contains the
    job's submission. Jobs matching neither stay unattributed."""
    by_group = {o.attrs.get("group"): o for o in ops if o.attrs.get("group")}
    for j in jobs:
        op = by_group.get(j.group) if j.group else None
        if op is not None:
            j.op, j.how = op.id, "group"
            continue
        for o in ops:
            if o.start <= j.submit <= o.end:
                j.op, j.how = o.id, "window"
                break


def job_gap(jobs: list[Job]) -> float:
    """Idle time between one op's jobs: the span from the first
    submission to the last completion not covered by any job."""
    if not jobs:
        return 0.0
    lo = min(j.submit for j in jobs)
    hi = max(j.end for j in jobs)
    return (hi - lo) - union_length([(j.submit, j.end) for j in jobs], lo, hi)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "layer": self.layer,
                "start": self.start, "end": self.end, "parent": self.parent,
                **({"attrs": self.attrs} if self.attrs else {})}


class Tracer:
    """In-memory span recorder. Spans opened on a thread with no open span
    of its own (builder worker threads) nest under the main thread's
    innermost open span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._main = threading.main_thread()

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, layer: str, **attrs) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        s = Span(next(self._ids), name, layer, time.time(),
                 parent=parent.id if parent else None, attrs=attrs)
        self.spans.append(s)
        stack.append(s)
        return s

    def close(self, s: Span) -> None:
        s.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is s:
            stack.pop()
        elif s in stack:
            stack.remove(s)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        s = self.open(name, layer, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None,
            **attrs) -> Span:
        s = Span(next(self._ids), name, layer, start, end, parent, attrs)
        self.spans.append(s)
        return s

    def wrap(self, fn, name: str, layer: str):
        """``fn`` with a span around every call."""
        tracer = self

        def traced(*a, **k):
            with tracer.span(name, layer):
                return fn(*a, **k)

        traced.__wrapped__ = fn
        return traced

    def descendants(self, root: int) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            for c in kids.get(todo.pop(), []):
                out.append(c)
                todo.append(c.id)
        return out


def place_jobs(tracer: Tracer, jobs: list[Job]) -> None:
    """Add a span per attributed job under the innermost span of its op
    whose interval contains the job's submission."""
    for j in jobs:
        if j.op is None:
            continue
        parent = j.op
        best = None
        for s in tracer.descendants(j.op):
            if s.layer != "spark" and s.start <= j.submit <= s.end:
                if best is None or s.start >= best.start:
                    best = s
        if best is not None:
            parent = best.id
        tracer.add(f"job {j.job_id}", "spark", j.submit, j.end, parent,
                   job=j.job_id, how=j.how)


# ---------------------------------------------------------------- status store

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value ('22.9 KiB', '1.3 s', '1,000', or the
    'total (min, med, max ...)\\n<total> (...)' form) as a number in bytes,
    seconds or rows."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    return value


PYTHON_SENT = "data sent to Python workers"
PYTHON_RECV = "data returned from Python workers"
PYTHON_RUN = "time to run Python workers"
PYTHON_ROWS = "number of output rows"
#: Physical operators that hand rows to Python workers.
PYTHON_NODE = re.compile(r"EvalPython|InPandas|InArrow|PythonUDTF|MapInBatch")


class StatusHarvester:
    """Reads jobs, stages and SQL executions from Spark's status stores
    (they are populated with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self.conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.seen_stages: set[int] = set()
        self.job_floor = -1  # newest job id already read or skipped
        self.exec_floor = 0  # SQL executions already read or skipped

    def _seq(self, s):
        return self.conv.asJava(s)

    def settle(self, timeout_s: float = 5.0) -> None:
        """Wait until the listener bus has delivered the end of every job
        and SQL execution newer than the last harvest."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            busy = False
            for jd in self._seq(self.store.jobsList(None)):  # newest first
                if int(jd.jobId()) <= self.job_floor:
                    break
                busy = busy or not jd.completionTime().isDefined()
            count = int(self.sql.executionsCount())
            for e in self._seq(self.sql.executionsList(self.exec_floor, count - self.exec_floor)):
                busy = busy or not e.completionTime().isDefined()
            if not busy:
                return
            time.sleep(0.1)

    def skip(self) -> None:
        """Mark every job and SQL execution so far as seen, unread."""
        jobs = self.store.jobsList(None)
        if jobs.nonEmpty():
            self.job_floor = int(jobs.head().jobId())  # newest first
        self.exec_floor = int(self.sql.executionsCount())

    def new_jobs(self) -> tuple[list[Job], dict[int, dict]]:
        """Jobs finished since the last call, and the metrics of the stages
        they ran (a stage shared by several jobs is counted once)."""
        jobs, stages = [], {}
        for jd in self._seq(self.store.jobsList(None)):  # newest first
            jid = int(jd.jobId())
            if jid <= self.job_floor:
                break
            if not jd.completionTime().isDefined():
                continue
            grp = jd.jobGroup()
            job = Job(jid, grp.get() if grp.isDefined() else None,
                      jd.submissionTime().get().getTime() / 1000.0,
                      jd.completionTime().get().getTime() / 1000.0,
                      [int(x) for x in self._seq(jd.stageIds())])
            jobs.append(job)
            for sid in job.stage_ids:
                if sid in self.seen_stages:
                    continue
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                self.seen_stages.add(sid)
                stages[sid] = {
                    "job": jid,
                    "tasks": int(sd.numCompleteTasks()),
                    "run_s": sd.executorRunTime() / 1000.0,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1000.0,
                    "input_bytes": int(sd.inputBytes()),
                    "input_rows": int(sd.inputRecords()),
                    "shuffle_read": int(sd.shuffleReadBytes()),
                    "shuffle_write": int(sd.shuffleWriteBytes()),
                    "spill": int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled()),
                }
        if jobs:
            self.job_floor = max(j.job_id for j in jobs)
        return jobs, stages

    def new_python_metrics(self) -> dict[int, dict]:
        """job id -> Python-eval node totals (rows, bytes, run seconds) of
        each SQL execution since the last call, keyed by the execution's
        lowest job id."""
        out: dict[int, dict] = {}
        count = int(self.sql.executionsCount())
        for e in self._seq(self.sql.executionsList(self.exec_floor, count - self.exec_floor)):
            eid = int(e.executionId())
            if not PYTHON_NODE.search(e.physicalPlanDescription()):
                continue
            job_ids = [int(j) for j in self._seq(e.jobs().keys().toSeq())]
            if not job_ids:
                continue
            acc = {"rows": 0.0, "bytes": 0.0, "run_s": 0.0}
            ids: list[tuple[str, int]] = []
            for node in self._seq(self.sql.planGraph(eid).allNodes()):
                if not PYTHON_NODE.search(node.name()):
                    continue
                metrics = {m.name(): int(m.accumulatorId()) for m in self._seq(node.metrics())}
                for key, name in (("bytes", PYTHON_SENT), ("bytes", PYTHON_RECV),
                                  ("run_s", PYTHON_RUN), ("rows", PYTHON_ROWS)):
                    if name in metrics:
                        ids.append((key, metrics[name]))
            if ids:
                values = self.sql.executionMetrics(eid)
                for key, aid in ids:
                    if values.contains(aid):
                        acc[key] += parse_metric(values.apply(aid))
            out[min(job_ids)] = acc
        self.exec_floor = count
        return out


_METRIC_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def plan_python_metrics(spark, jdf) -> dict:
    """Python-eval node totals read from the SQL metrics of a DataFrame's
    executed plan. Used for ``toLocalIterator``: its SQL execution ends
    before its jobs run, so the status store keeps no metrics for it."""
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    acc = {"rows": 0.0, "bytes": 0.0, "run_s": 0.0}
    todo = [jdf.queryExecution().executedPlan()]
    while todo:
        plan = todo.pop()
        name = plan.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(plan.executedPlan())
            continue
        if PYTHON_NODE.search(name):
            for m in conv.asJava(plan.metrics()).values():
                name = m.name().get()
                value = m.value() * _METRIC_SCALE.get(m.metricType(), 1.0)
                if name in (PYTHON_SENT, PYTHON_RECV):
                    acc["bytes"] += value
                elif name == PYTHON_RUN:
                    acc["run_s"] += value
                elif name == PYTHON_ROWS:
                    acc["rows"] += value
        todo.extend(conv.asJava(plan.children()))
    return acc
