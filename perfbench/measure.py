"""Measurement plumbing: spans, Spark SQL/task metrics, host counters.

Everything here observes the program from outside. Spans wrap the
benchmark's own calls into ``linguistjs_spark``; Spark's SQL metrics are
read back from the session's SQL status store after the traced run, and
per-task run times from the SparkContext's status store. Both work with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from statistics import median


class Tracer:
    """Spans kept in memory: name, start, end, parent and run id.

    While a span is open, Spark jobs started inside it carry the span's
    ``desc`` as their job description, so the SQL executions they produce
    can be attributed to it afterwards.
    """

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "run": self.run_id, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobDescription(self.desc(name))
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(
                self.desc(self.spans[self._stack[-1]]["name"])
                if self._stack else None)

    def desc(self, name: str) -> str:
        """The job description Spark jobs get inside span ``name``."""
        return f"{self.run_id}:{name}"

    def self_ms(self) -> dict[str, float]:
        """Per-name self time: span duration minus the time its direct
        children cover (children of one span never overlap here)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            own = (s["end"] - s["start"] - c) * 1e3
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def total_ms(self, name: str) -> float:
        return sum((s["end"] - s["start"]) * 1e3
                   for s in self.spans if s["name"] == name)

    def write(self, f) -> None:
        """One JSON line per span; ``parent`` is the parent's ``id``."""
        for i, s in enumerate(self.spans):
            f.write(json.dumps({"id": i, **s}) + "\n")


# --- Spark SQL metrics -----------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_NUM = re.compile(r"[-\d.,]+")


def parse_metric(kind: str, text: str) -> float:
    """A SQL metric's display string as a number in base units (count,
    bytes, ms). Multi-task metrics read 'total (min, med, max ...)\\n<total>
    (...)'; averages read '(min, med, max ...)' and give their median."""
    body = text.strip().split("\n")[-1]
    if kind == "sum":
        return float(body.replace(",", ""))
    if kind == "average":
        nums = _NUM.findall(body)
        return float(nums[1 if body.startswith("(") else 0].replace(",", ""))
    value, unit = body.split(" ")[:2]
    value = float(value.replace(",", ""))
    if kind == "size":
        return value * _SIZE[unit]
    if kind in ("timing", "nsTiming"):
        return value * _TIME_MS[unit]
    raise ValueError(f"unknown metric type {kind!r}")


class SparkMetrics:
    """Read-back of finished SQL executions and their stages."""

    def __init__(self, spark):
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()

    def _list(self, seq) -> list:
        return list(self.conv.asJava(seq))

    def executions(self, tracer: Tracer, span: str) -> list[dict]:
        """Every finished SQL execution started inside ``span`` of
        ``tracer``: its plan nodes with parsed metrics and its stages with
        exact stage and task figures."""
        description = tracer.desc(span)
        out = []
        for e in self._list(self.sql.executionsList()):
            if e.description() != description:
                continue
            eid = e.executionId()
            values = dict(self.conv.asJava(self.sql.executionMetrics(eid)))
            nodes = []
            for n in self._list(self.sql.planGraph(eid).allNodes()):
                ms = {}
                for m in self._list(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v is not None:
                        ms[m.name()] = parse_metric(m.metricType(), v)
                nodes.append({"name": n.name(), "desc": n.desc(), "metrics": ms})
            stages = [self._stage(s) for s in sorted(self._list(e.stages().toSeq()))]
            done = e.completionTime()
            duration = (done.get().getTime() - e.submissionTime()
                        if done.isDefined() else 0)
            out.append({"nodes": nodes, "stages": stages,
                        "duration_ms": float(duration)})
        return out

    def _stage(self, sid: int) -> dict:
        sd = self.app.lastStageAttempt(sid)
        tasks = self._list(self.app.taskList(sid, sd.attemptId(), 100000))
        runs = sorted(t.taskMetrics().get().executorRunTime() for t in tasks
                      if t.taskMetrics().isDefined())
        return {
            "run_ms": sd.executorRunTime(), "task_run_ms": runs,
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "shuffle_write_ms": sd.shuffleWriteTime() / 1e6,
        }


def nodes(execs: list[dict], prefix: str, desc_has: str = "") -> list[dict]:
    return [n for e in execs for n in e["nodes"]
            if n["name"].startswith(prefix) and desc_has in n["desc"]]


def metric_sum(execs: list[dict], prefix: str, metric: str,
               desc_has: str = "") -> float:
    return sum(n["metrics"].get(metric, 0.0)
               for n in nodes(execs, prefix, desc_has))


def task_skew(execs: list[dict]) -> float:
    """max/median task run time of the busiest stage (1.0 = even)."""
    stages = [s for e in execs for s in e["stages"] if s["task_run_ms"]]
    if not stages:
        return 0.0
    runs = max(stages, key=lambda s: s["run_ms"])["task_run_ms"]
    med = median(runs)
    return runs[-1] / med if med > 0 else 1.0


# --- host ------------------------------------------------------------------

def cpu_ticks() -> tuple[int, int, int] | None:
    """(total, sys, steal) jiffies from /proc/stat, None off-Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return sum(v), v[2], v[7]


def host_share(before, after) -> dict[str, float]:
    if not before or not after:
        return {"sys_pct": 0.0, "steal_pct": 0.0}
    tot = (after[0] - before[0]) or 1
    return {"sys_pct": 100.0 * (after[1] - before[1]) / tot,
            "steal_pct": 100.0 * (after[2] - before[2]) / tot}


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages are split among their sharers,
    so a JVM's short-lived forks (Hadoop shells out to set file
    permissions) and the Python workers' shared pages count once."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _tree_pss_kb(root: int) -> int:
    """Memory of ``root`` and all its descendants, in KiB."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        try:
            total += _pss_kb(p)
        except (OSError, ValueError):
            pass  # the process ended while we walked the tree
        todo.extend(children.get(p, ()))
    return total


class MemorySampler:
    """Samples the memory of the driver's process tree (driver, JVM, Python
    workers) every PERIOD seconds on a daemon thread; ``peak()`` returns
    and resets the peak in MiB since the last call."""

    PERIOD = 0.2

    def __init__(self):
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        me = os.getpid()
        while not self._stop.wait(self.PERIOD):
            kb = _tree_pss_kb(me)
            with self._lock:
                self._peak = max(self._peak, kb)

    def peak(self) -> float:
        kb = _tree_pss_kb(os.getpid())
        with self._lock:
            kb, self._peak = max(self._peak, kb), 0
        return kb / 1024.0
