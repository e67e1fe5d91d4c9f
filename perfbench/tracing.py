"""Spans, percentiles and Spark status-store readers for the benchmark.

Spans are recorded in memory by the benchmark's own code around the calls
it makes into the program's public functions; nothing inside
``collimate_spark`` is edited. The Spark-side numbers come from Spark's
own status stores (``AppStatusStore`` for jobs and stages, the SQL status
store for plan-node metrics), which stay populated with the UI disabled.
"""

from __future__ import annotations

import functools
import re
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

median = statistics.median


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    children: list["Span"] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span) -> float:
    """A span's duration minus the part of it its children cover."""
    return span.duration - covered(
        [(c.start, c.end) for c in span.children], span.start, span.end
    )


class Tracer:
    """In-memory span recorder; records nothing while ``enabled`` is False."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent)
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def reset(self) -> None:
        self.spans.clear()
        self._stack.clear()


def instrument(tracer: Tracer, module, attr: str, span_name: str, on_call=None):
    """Wrap ``module.attr`` in a span, and rebind the wrapper wherever a
    ``collimate_spark`` module imported the same function object by name.
    Returns an undo callable that restores every binding."""
    original = getattr(module, attr)

    @functools.wraps(original)
    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            if on_call is not None:
                on_call()
            return original(*args, **kwargs)

    rebound = []
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("collimate_spark") or mod is None:
            continue
        for name, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, name, wrapper)
                rebound.append((mod, name))

    def undo():
        for mod, name in rebound:
            setattr(mod, name, original)

    return undo


# ---------------------------------------------------------------------------
# Spark status stores

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of a rendered SQL metric: ``'1,000'``, ``'2.7 s'``,
    ``'156.6 KiB'``, or the multi-line ``'total (min, med, max ...)\\n<v> (...)'``
    form. Times come back in seconds and sizes in bytes."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _VALUE_RE.match(text)
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


PYTHON_NODE_RE = re.compile(r"Python|Pandas|Arrow")
PYTHON_METRICS = {
    "time to run Python workers": "functions.python_total_s",
    "time to start Python workers": "functions.python_boot_s",
    "time to initialize Python workers": "functions.python_init_s",
    "data sent to Python workers": "functions.python_bytes_sent",
    "data returned from Python workers": "functions.python_bytes_received",
    "number of output rows": "functions.python_rows_received",
}
ROW_METRICS = ("number of output rows", "shuffle records written")
STAGE_KEYS = (
    "spark.stages", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.jvm_gc_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.input_bytes", "spark.output_bytes",
)


class StatusReader:
    """Reads jobs, stages and SQL plan metrics for named job groups."""

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._bus.waitUntilEmpty(60_000)

    def jobs_by_group(self) -> dict[str, list]:
        out: dict[str, list] = {}
        for j in _iter(self._app.jobsList(None)):
            g = j.jobGroup()
            if g.isDefined():
                out.setdefault(g.get(), []).append(j)
        return out

    def executions_by_job(self) -> dict[int, int]:
        """job id -> SQL execution id."""
        out = {}
        for e in _iter(self._sql.executionsList()):
            for jid in _iter(e.jobs().keys()):
                out[int(jid)] = int(e.executionId())
        return out

    def stage_totals(self, jobs) -> dict[str, float]:
        """Sums over the completed stages of ``jobs`` (skipped ones ran nothing)."""
        t = dict.fromkeys(STAGE_KEYS, 0.0)
        seen = set()
        for j in jobs:
            for sid in _iter(j.stageIds()):
                sid = int(sid)
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._app.lastStageAttempt(sid)
                if str(st.status()) != "COMPLETE":
                    continue
                t["spark.stages"] += 1
                t["spark.tasks"] += st.numTasks()
                t["spark.executor_run_s"] += st.executorRunTime() / 1e3
                t["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                t["spark.jvm_gc_s"] += st.jvmGcTime() / 1e3
                t["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                t["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                t["spark.spill_bytes"] += st.diskBytesSpilled()
                t["spark.input_bytes"] += st.inputBytes()
                t["spark.output_bytes"] += st.outputBytes()
        return t

    def _graph(self, execution_id: int):
        g = self._sql.planGraph(execution_id)
        nodes = {int(n.id()): n for n in _iter(g.allNodes())}
        children: dict[int, list[int]] = {}
        for e in _iter(g.edges()):
            children.setdefault(int(e.toId()), []).append(int(e.fromId()))
        return nodes, children

    def root_rows(self, execution_id: int) -> float | None:
        """Row count nearest the plan root: follow the single-child chain
        down from the root to the first node that counts its rows."""
        nodes, children = self._graph(execution_id)
        values = self._sql.executionMetrics(execution_id)
        nid = min(nodes) if nodes else None
        while nid is not None:
            for m in _iter(nodes[nid].metrics()):
                if m.name() in ROW_METRICS:
                    v = values.get(m.accumulatorId())
                    return parse_metric(v.get()) if v.isDefined() else None
            kids = children.get(nid, [])
            nid = kids[0] if len(kids) == 1 else None
        return None

    def python_metrics(self, execution_ids) -> dict[str, float]:
        """Sum PythonSQLMetrics over every Python-worker plan node."""
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        seen = set()  # a cached relation's nodes recur in every plan reading it
        for eid in execution_ids:
            e = self._sql.execution(eid)
            if not e.isDefined() or not PYTHON_NODE_RE.search(
                e.get().physicalPlanDescription()
            ):
                continue
            nodes, _ = self._graph(eid)
            values = self._sql.executionMetrics(eid)
            for n in nodes.values():
                if not PYTHON_NODE_RE.search(n.name()):
                    continue
                for m in _iter(n.metrics()):
                    key = PYTHON_METRICS.get(m.name())
                    acc = m.accumulatorId()
                    if key is None or acc in seen:
                        continue
                    seen.add(acc)
                    v = values.get(acc)
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        return out

    def cached_bytes(self) -> int:
        return sum(
            int(r.memoryUsed()) + int(r.diskUsed()) for r in _iter(self._app.rddList(True))
        )
