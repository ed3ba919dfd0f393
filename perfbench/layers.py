"""Spans, host probes and Spark's own layer counters, read from outside the
package.

Two stores are read after the work they describe has finished:

- the SQL status store (`sharedState().statusStore()`): per execution, the
  plan graph and the accumulated value of every plan-node metric ("time to
  run Python workers", "data sent to Python workers", "scan time", ...);
- the app status store (`sc.statusStore()`): per job its job group, per
  stage its run, CPU, GC, shuffle and spill totals, and per-task quantiles.

Both work with `spark.ui.enabled=false`. Everything Spark records is tied to
a span through the job group the benchmark sets around the span.
"""

from __future__ import annotations

import itertools
import os
import re
import statistics
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

# ------------------------------------------------------------------ spans


@dataclass
class Span:
    span_id: int
    name: str  # "<module>.<call>"; the module is the layer
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    group: str = ""  # Spark job group active while the span is open

    @property
    def module(self) -> str:
        return self.name.split(".", 1)[0]


@dataclass
class Tracer:
    """In-memory span recorder. With `enabled=False` it still sets the job
    group (a local property, no Spark work) but records nothing."""

    sc: object
    run_id: str
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _ids: Iterator[int] = field(default_factory=lambda: itertools.count(1))

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = Span(sid, name, parent.span_id if parent else None, self.run_id, 0.0)
        s.group = f"{self.run_id}:{sid}:{name}"
        if self.enabled:
            self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name, False)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(parent.group, parent.name, False)

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted((s.start, s.end) for s in self.spans if s.parent == span.span_id)
        covered, cur_end = 0.0, span.start
        for a, b in kids:
            a, b = max(a, cur_end), min(b, span.end)
            if b > a:
                covered += b - a
                cur_end = b
        return (span.end - span.start) - covered

    def to_rows(self) -> list[dict]:
        return [
            {
                "span_id": s.span_id,
                "name": s.name,
                "parent": s.parent,
                "run_id": s.run_id,
                "start": s.start,
                "end": s.end,
                "self_s": self.self_time(s),
                "group": s.group,
            }
            for s in self.spans
        ]


# ------------------------------------------------------- status-store reads

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string → number (bytes, seconds or a count).

    Multi-task metrics read "total (min, med, max (stageId: taskId))\\n<total>
    (<min>, ...)"; single-task ones are the bare total."""
    line = text.split("\n")[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    return val * _UNITS.get(m.group(2), 1.0)


@dataclass
class Execution:
    eid: int
    jobs: list[int]
    duration_s: float
    # (node name, node description, metric name → (accumulator id, value))
    nodes: list[tuple[str, str, dict[str, tuple[int, float]]]]

    def has(self, node: str, desc_has: str = "") -> bool:
        return any(n.startswith(node) and desc_has in d for n, d, _ in self.nodes)


def node_sum(
    execs: list[Execution], node: str, metric: str, desc_has: str | None = None, desc_not: str | None = None
) -> float:
    """Sum of `metric` over the plan nodes named `node*` in `execs`.

    A cached plan appears again under every later scan of its cache, with
    the same accumulators (reading 0 in the executions that only scanned
    the cache), so each accumulator counts once, at its largest value."""
    seen: dict[int, float] = {}
    for e in execs:
        for n, d, ms in e.nodes:
            if (
                n.startswith(node)
                and metric in ms
                and (desc_has is None or desc_has in d)
                and (desc_not is None or desc_not not in d)
            ):
                acc, value = ms[metric]
                seen[acc] = max(seen.get(acc, 0.0), value)
    return sum(seen.values())


@dataclass
class Stage:
    stage_id: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    input_records: int
    task_skew: float  # max ÷ median task run time


class StatusStores:
    """Reads both status stores through py4j, after the fact."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(jvm.double, 0)
        self._quantiles = gw.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def _list(self, seq):
        return list(self._conv.asJava(seq))

    def job_groups(self) -> dict[int, str]:
        out = {}
        for j in self._list(self._app.jobsList(None)):
            g = j.jobGroup()
            out[j.jobId()] = g.get() if g.isDefined() else ""
        return out

    def job_stages(self) -> dict[int, list[int]]:
        return {
            j.jobId(): [int(s) for s in self._list(j.stageIds())]
            for j in self._list(self._app.jobsList(None))
        }

    def executions(self, min_eid: int = 0) -> list[Execution]:
        out = []
        for ex in self._list(self._sql.executionsList()):
            eid = ex.executionId()
            if eid < min_eid or ex.completionTime().isEmpty():
                continue
            vals = dict(self._conv.asJava(self._sql.executionMetrics(eid)))
            nodes = []
            for node in self._list(self._sql.planGraph(eid).allNodes()):
                ms = {}
                for m in self._list(node.metrics()):
                    v = vals.get(m.accumulatorId())
                    if v is not None:
                        ms[m.name()] = (m.accumulatorId(), parse_metric(v))
                nodes.append((node.name(), node.desc(), ms))
            jobs = [int(k) for k in self._conv.asJava(ex.jobs()).keySet()]
            dur = (ex.completionTime().get().getTime() - ex.submissionTime()) / 1e3
            out.append(Execution(eid, jobs, dur, nodes))
        return out

    def max_execution_id(self) -> int:
        ids = [ex.executionId() for ex in self._list(self._sql.executionsList())]
        return max(ids) if ids else -1

    def stages(self) -> dict[int, Stage]:
        out = {}
        for s in self._list(
            self._app.stageList(None, False, False, self._no_quantiles, None)
        ):
            skew = 1.0
            dist = self._app.taskSummary(s.stageId(), s.attemptId(), self._quantiles)
            if dist.isDefined():
                med, mx = list(self._conv.asJava(dist.get().executorRunTime()))
                skew = mx / med if med > 0 else 1.0
            out[s.stageId()] = Stage(
                s.stageId(),
                s.executorRunTime() / 1e3,
                s.executorCpuTime() / 1e9,
                s.jvmGcTime() / 1e3,
                s.shuffleReadBytes(),
                s.shuffleWriteBytes(),
                s.memoryBytesSpilled() + s.diskBytesSpilled(),
                s.inputRecords(),
                skew,
            )
        return out


# ------------------------------------------------------------ host probes


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def _tree_rss_kb(root: int) -> int:
    """Resident memory of `root` and all its descendants (the driver
    Python process, its JVM, the Python daemon and workers)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Background thread sampling the process tree's resident memory."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)


# --------------------------------------------------------------- summaries


def tail(values: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it, or the
    maximum when there are too few samples for any; returns (name, value)."""
    xs = sorted(values)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100) >= 10:
            k = min(n - 1, int(p / 100 * n))
            return f"p{p:g}", xs[k]
    return "max", xs[-1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
