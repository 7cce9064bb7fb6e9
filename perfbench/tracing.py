"""Tracing from outside the program: spans, Spark's status stores, memory.

Spans are kept in memory and written once, at the end of a traced run.
With tracing off, ``Tracer.span`` records nothing, so untraced runs pay
only a context-manager call per span.

The status-store readers go through py4j into the driver JVM:
``AppStatusStore`` for jobs and stages (executor run/CPU/GC time,
shuffle bytes, spill) and ``SQLAppStatusStore`` for per-node SQL metrics.
Both are fed asynchronously by the listener bus, which is drained first.
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, the clock Spark stamps jobs with
    end: float
    parent: int | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans (name, start, end, parent). Parents are per thread:
    a span opened in a callback thread (foreachBatch runs on one) with
    nothing open on that thread hangs under ``root``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        with self._lock:
            sid = len(self.spans)
            span = Span(sid, name, time.time(), 0.0, parent)
            self.spans.append(span)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            span.end = time.time()

    @contextmanager
    def root_span(self, name: str):
        """A span that other threads' parentless spans hang under."""
        with self.span(name):
            if self.enabled:
                self.root = len(self.spans) - 1
            try:
                yield
            finally:
                self.root = None

    def named(self, name: str, since: float = 0.0) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.start >= since]

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


@contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Wrap ``getattr(owner, attr)`` in a span named ``name`` for each
    (owner, attr, name), restoring the originals on exit. Callers that
    look the function up at call time see the wrapper."""
    saved = []
    for owner, attr, name in targets:
        fn = getattr(owner, attr)
        saved.append((owner, attr, fn))
        setattr(owner, attr, _wrap(tracer, fn, name))
    try:
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


def _wrap(tracer: Tracer, fn, name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


# ------------------------------------------------------------- status stores


class StatusStore:
    """Reads the driver's status stores for everything submitted inside
    one of the time windows [start, end] (epoch seconds)."""

    def __init__(self, spark, windows: list[tuple[float, float]]):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.windows = windows

    def inside(self, t: float | None) -> bool:
        return t is not None and any(a <= t <= b for a, b in self.windows)

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(60_000)

    def jobs(self) -> list[dict]:
        self.drain()
        out = []
        jobs = self.jsc.statusStore().jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            t = _epoch(j.submissionTime())
            if self.inside(t):
                ids = j.stageIds()
                out.append({"id": j.jobId(), "submitted": t, "stages": [ids.apply(k) for k in range(ids.size())]})
        return out

    def stages(self) -> list[dict]:
        """Stage attempts that ran (not skipped) in the windows."""
        self.drain()
        gw = self.spark.sparkContext._gateway
        stages = self.jsc.statusStore().stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        out = []
        for i in range(stages.size()):
            s = stages.apply(i)
            t = _epoch(s.submissionTime())
            if not self.inside(t) or str(s.status()) == "SKIPPED":
                continue
            out.append({
                "id": s.stageId(),
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_write": s.shuffleWriteBytes(),
                "shuffle_read": s.shuffleReadBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        return out

    def sql_nodes(self) -> list[dict]:
        """Every physical-plan node of every SQL execution submitted in
        the windows, with its metric values and its children's ids."""
        self.drain()
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        out = []
        for k in range(execs.size()):
            e = execs.apply(k)
            t = e.submissionTime() / 1e3
            if not self.inside(t):
                continue
            eid = e.executionId()
            graph = store.planGraph(eid)
            values = store.executionMetrics(eid)
            edges = graph.edges()
            children: dict[int, list[int]] = {}
            for i in range(edges.size()):
                edge = edges.apply(i)
                children.setdefault(edge.toId(), []).append(edge.fromId())
            nodes = graph.allNodes()
            for i in range(nodes.size()):
                n = nodes.apply(i)
                metrics = {}
                ms = n.metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                out.append({
                    "exec": eid,
                    "id": n.id(),
                    "name": n.name(),
                    "desc": n.desc(),
                    "metrics": metrics,
                    "children": children.get(n.id(), []),
                })
        return out


def _epoch(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A formatted SQL metric -> a number in bytes, seconds or a count.

    Spark formats task-level metrics as a header line plus
    ``total (min, med, max ...)``; the total leads the last line."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if m is None:
        return 0.0
    number = float(m.group(1).replace(",", ""))
    return number * _UNITS.get(m.group(2) or "", 1)


def rows_out(nodes_by_id: dict, nid: int) -> float:
    """Rows a node emits: its own row metric, or its first child's."""
    node = nodes_by_id[nid]
    for key in ("number of output rows", "records read"):
        if key in node["metrics"]:
            return node["metrics"][key]
    kids = node["children"]
    return rows_out(nodes_by_id, kids[0]) if kids else 0.0


# ------------------------------------------------------------------- memory


def tree_peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) over this process and all
    of its descendants — the JVM and its Python workers — read from
    this process tree's own /proc entries."""
    total_kb = 0
    todo = [os.getpid()]
    seen = set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited while we walked the tree
    return total_kb / 1024
