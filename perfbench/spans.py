"""Spans and counters for the benchmark's traced run.

A :class:`Tracer` keeps spans (name, start, end, parent, op id) in memory
around the benchmark's calls into each layer; the benchmark writes them out
when it ends. At every span boundary it also takes a :class:`Harvester`
mark: the last Spark SQL execution id and the JVM's cumulative JIT and GC
time. After an op, the harvester reads the executions that ran inside each
span from the driver's SQL status store (``executionMetrics`` and
``planGraph``) and the stages behind them from the app status store, all
of which Spark keeps with the UI disabled.

A layer is the prefix of a span name before the first dot; its self time
is the span's duration minus the part of that interval covered by child
spans.
"""

from __future__ import annotations

import json
import math
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Mark:
    """Counters read at one span boundary."""

    exec_id: int  # last SQL execution id in the status store
    jit_ms: float  # cumulative HotSpot compile time
    gc_ms: float  # cumulative collection time over every collector
    wall: float  # time.time(), comparable with Spark's epoch-ms stamps


@dataclass
class Span:
    id: int
    name: str
    start: float  # perf_counter seconds
    end: float
    parent: int | None
    op: int
    begin: Mark | None = None
    finish: Mark | None = None
    executions: list = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {
            "id": self.id, "name": self.name, "start": self.start,
            "end": self.end, "parent": self.parent, "op": self.op,
            "executions": [e["id"] for e in self.executions],
        }


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and takes
    no marks, so an untraced op runs exactly the program's own calls."""

    def __init__(self, enabled: bool, mark=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._mark = mark
        self.op = -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, 0.0, math.nan, parent, self.op)
        self.spans.append(s)
        self._stack.append(s.id)
        s.begin = self._mark() if self._mark else None
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.finish = self._mark() if self._mark else None
            self._stack.pop()

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]


def dump_spans(spans: list[Span], path: str) -> None:
    """Write spans as JSON lines."""
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps(s.to_json()) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the union of its
    children's intervals within it."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    st = self_times(spans)
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.id]
    return out


# ---------------------------------------------------------------------------
# Spark SQL metric strings
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str | None) -> float:
    """Total of a formatted SQL metric, in bytes, seconds or a count.

    Spark formats sums as ``1,234``, sizes as ``12.4 MiB`` and timings as
    ``830 ms`` / ``1.2 s``; per-task spreads put the total on the line
    after ``total (min, med, max ...)``."""
    if not text:
        return 0.0
    line = text.strip().split("\n")[-1]
    parts = line.replace(",", "").split()
    if not parts:
        return 0.0
    try:
        value = float(parts[0])
    except ValueError:
        return 0.0
    if len(parts) > 1 and parts[1] in _UNITS:
        value *= _UNITS[parts[1]]
    return value


# ---------------------------------------------------------------------------
# status-store reader
# ---------------------------------------------------------------------------

class Harvester:
    """Reads Spark's status stores and the driver JVM's management beans.

    Every status-store object is serialized to JSON inside the JVM (one
    py4j call each) with the Jackson mapper Spark itself ships."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$",
        ).__getattr__("MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return int(self._sql.executionsList(n - 1, 1).head().executionId())

    def jvm_ms(self) -> tuple[float, float]:
        return (
            float(self._jit.getTotalCompilationTime()),
            float(sum(g.getCollectionTime() for g in self._gcs)),
        )

    def mark(self) -> Mark:
        jit, gc = self.jvm_ms()
        return Mark(self.last_execution_id(), jit, gc, time.time())

    def execution(self, eid: int, nodes: bool) -> dict | None:
        """One finished execution: its jobs' wall stamps, its stages' task
        metrics and (when ``nodes``) every plan node's SQL metrics."""
        opt = self._sql.execution(eid)
        if opt.isEmpty():
            return None
        ex = opt.get()
        out = {"id": eid, "jobs": [], "stages": [], "nodes": []}
        for jid in self._json(ex.jobs()):
            job = self._json(self._app.job(int(jid)))
            out["jobs"].append({
                "submitted": job["submissionTime"] / 1000.0,
                "completed": job["completionTime"] / 1000.0,
            })
        for sid in self._json(ex.stages()):
            try:
                out["stages"].append(self._json(self._app.lastStageAttempt(int(sid))))
            except Py4JJavaError:  # a stage evicted from the store has no data
                continue
        if nodes:
            values = self._json(self._sql.executionMetrics(eid))
            for n in self._json(self._sql.planGraph(eid).allNodes()):
                if "nodes" in n:  # a WholeStageCodegen cluster; members are listed too
                    continue
                out["nodes"].append({
                    "name": n["name"],
                    "desc": n["desc"],
                    "metrics": {
                        m["name"]: parse_metric(values.get(str(m["accumulatorId"])))
                        for m in n["metrics"]
                    },
                })
        return out

    def attach(self, spans: list[Span], nodes: bool) -> None:
        """Read the executions that ran inside ``spans`` and give each to
        the innermost span whose boundary marks enclose its id."""
        by_id = {s.id: s for s in spans}
        depth = {}
        for s in spans:
            d, p = 0, s.parent
            while p is not None and p in by_id:
                d, p = d + 1, by_id[p].parent
            depth[s.id] = d
        self._bus.waitUntilEmpty(10_000)  # status stores fill from the bus
        lo = min(s.begin.exec_id for s in spans)
        hi = max(s.finish.exec_id for s in spans)
        for eid in range(lo + 1, hi + 1):
            owners = [s for s in spans if s.begin.exec_id < eid <= s.finish.exec_id]
            if not owners:
                continue
            ex = self.execution(eid, nodes)
            if ex is not None:
                max(owners, key=lambda s: depth[s.id]).executions.append(ex)


class StreamCounter:
    """Micro-batch progress of every streaming query, from a Python
    ``StreamingQueryListener`` registered on the session."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self
        self._lock = threading.Lock()
        self.batches: list[float] = []  # triggerExecution seconds
        self.state_rows: dict[str, int] = {}  # query run id -> last state rows

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rows = sum(int(s.numRowsTotal) for s in p.stateOperators)
                with counter._lock:
                    counter.batches.append(p.durationMs.get("triggerExecution", 0) / 1000.0)
                    counter.state_rows[str(p.runId)] = rows

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)
        self._spark = spark
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def snapshot(self, timeout_ms: int = 10_000) -> tuple[list[float], dict[str, int]]:
        """Copy the counts once Spark's listener bus has delivered every
        event posted so far (it runs behind the query threads)."""
        self._bus.waitUntilEmpty(timeout_ms)
        with self._lock:
            return list(self.batches), dict(self.state_rows)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)
