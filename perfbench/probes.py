"""Counters read from outside the program: SQL metrics, JVM, spans, streams.

Everything here observes the engine through public or py4j-reachable Spark
state, so the package itself carries no instrumentation:

- SQL metrics of every execution in a window, from the session's SQL status
  store (the final AQE plan's per-operator metrics, as the UI would show
  them). The store is fed by a listener Spark registers even with the UI off.
- JVM GC time from the GC MXBeans and peak RSS (VmHWM) from /proc.
- Spans kept in memory and written out once, when the run ends.
- Per-epoch progress of streaming queries, from a StreamingQueryListener.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_NUM = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """'1.6 s' -> 1600.0 (ms), '143.2 KiB' -> bytes, '6,000' -> 6000.0.

    Multi-task metrics read 'total (min, med, max ...)\\n<total> (...)';
    the total is the first figure on the second line.
    """
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


@dataclass
class Node:
    name: str
    metrics: dict[str, float]


class SqlMetrics:
    """Per-operator metrics of the SQL executions that ran in a window."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        """Execution id high-water mark; pass it to ``since``."""
        return int(self._store.executionsCount())

    def since(self, mark: int) -> list[list[Node]]:
        """Plans (as node lists, pre-order) of executions with id >= mark."""
        plans = []
        it = self._store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            if eid < mark:
                continue
            values = self._store.executionMetrics(eid)
            nodes = []
            jn = self._store.planGraph(eid).allNodes().iterator()
            while jn.hasNext():
                n = jn.next()
                ms = {}
                jm = n.metrics().iterator()
                while jm.hasNext():
                    m = jm.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        ms[m.name()] = parse_metric(v.get())
                nodes.append(Node(n.name().strip(), ms))
            plans.append(nodes)
        return plans


def summarize(plans: list[list[Node]]) -> dict[str, float]:
    """Layer totals over a window's plans: exchanges, shuffle, Python, spill."""
    out = dict(exchanges=0.0, shuffle_bytes=0.0, spill_bytes=0.0,
               python_ms=0.0, python_boot_ms=0.0, bytes_to_python=0.0,
               bytes_from_python=0.0, python_tasks=0.0)
    for nodes in plans:
        for i, n in enumerate(nodes):
            m = n.metrics
            out["spill_bytes"] += m.get("spill size", 0.0)
            if n.name == "Exchange":
                out["exchanges"] += 1
                out["shuffle_bytes"] += m.get("shuffle bytes written", 0.0)
            if "time to run Python workers" in m:
                out["python_ms"] += m["time to run Python workers"]
                out["python_boot_ms"] += m.get("time to start Python workers", 0.0)
                out["bytes_to_python"] += m.get("data sent to Python workers", 0.0)
                out["bytes_from_python"] += m.get("data returned from Python workers", 0.0)
                out["python_tasks"] += _feeding_partitions(nodes[i + 1:])
    return out


def _feeding_partitions(below: list[Node]) -> float:
    """Partitions read by the first shuffle read under a Python node."""
    for n in below:
        if n.name in ("AQEShuffleRead", "Exchange"):
            return n.metrics.get("number of partitions", 0.0)
    return 0.0


class Jvm:
    """GC time and peak RSS of the driver JVM (local mode: the whole engine)."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self.pid = int(self._jvm.java.lang.ProcessHandle.current().pid())

    def gc_ms(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def vm_hwm_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    attrs: dict = field(default_factory=dict)


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5), counted after comm
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_canary(seconds: float = 0.25) -> float:
    """Millions of trivial Python loop turns per second on one core.

    Recorded with each run (not a metric): it shows how fast the host ran
    the benchmark, so a slow run can be told apart from a slow program.
    """
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        n += 1
    return n / seconds / 1e6


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out at run end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the ``with`` body as a child of the enclosing span."""
        span = Span(name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else None,
                    self.run_id, attrs)
        self._stack.append(name)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(span)


class EpochListener(StreamingQueryListener):
    """Collects every progress event; ``wait_next`` drains the bus."""

    def __init__(self):
        self.started: list[str] = []
        self.progress: dict[str, list[dict]] = {}
        self._done: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        with self._cv:
            self.started.append(str(event.id))
            self._cv.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        state = p.stateOperators[0] if p.stateOperators else None
        rec = {
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": state.numRowsTotal if state else 0,
            "state_memory_bytes": state.memoryUsedBytes if state else 0,
        }
        with self._cv:
            self.progress.setdefault(str(p.id), []).append(rec)

    def onQueryTerminated(self, event):
        with self._cv:
            self._done.add(str(event.id))
            self._cv.notify_all()

    def count(self) -> int:
        """Streams started so far; pass it to ``wait_next`` before starting one."""
        with self._cv:
            return len(self.started)

    def wait_next(self, count: int, timeout: float = 60.0) -> list[dict]:
        """Progress of the first stream started after ``count``, once terminated."""
        with self._cv:
            ok = self._cv.wait_for(
                lambda: len(self.started) > count and self.started[count] in self._done,
                timeout,
            )
            if not ok:
                raise TimeoutError("no termination event for the stream")
            return self.progress.get(self.started[count], [])
