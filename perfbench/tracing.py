"""Measurement plumbing: spans, Spark event-log join, memory and host load.

Spans are recorded in memory around each public engine call made from the
benchmark's own files (name, start, end, parent, op id) and written out
when the run ends.  While a span is open its id is the Spark job
description, so every job the call starts can be joined back to it from
Spark's event log; self time is a span's duration minus its child spans.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    jobs: list = field(default_factory=list)      # jobs started while this span was innermost
    jobs_all: list = field(default_factory=list)  # ... and while any descendant was

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer only runs the body,
    so the untraced path carries no bookkeeping."""

    def __init__(self, sc=None) -> None:
        self.sc = sc  # SparkContext whose job descriptions carry span ids
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.op, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(f"span:{s.id}")
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setJobDescription(f"span:{parent.id}" if parent else None)

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        return s.duration - sum(c.duration for c in self.children(s))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                                    "start": s.start, "end": s.end, "self_s": self.self_time(s),
                                    "jobs": [j.id for j in s.jobs]}) + "\n")


# --------------------------------------------------------- Spark event log


@dataclass
class Job:
    id: int
    span: int | None
    start: float
    end: float = 0.0
    stages: list = field(default_factory=list)
    execution: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stage_metrics: dict[int, dict]          # stage id -> summed task metrics
    plans: dict[int, dict]                  # SQL execution id -> final plan tree
    sql_metric: dict[int, int]              # accumulator id -> summed task updates


_TASK_KEYS = {
    "Executor Run Time": "run_ms", "Executor CPU Time": "cpu_ns", "JVM GC Time": "gc_ms",
    "Memory Bytes Spilled": "spill_mem", "Disk Bytes Spilled": "spill_disk",
}


def read_event_log(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(int))
    plans: dict[int, dict] = {}
    acc: dict[int, int] = defaultdict(int)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                desc = props.get("spark.job.description") or ""
                ex = props.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = Job(
                    e["Job ID"], int(desc[5:]) if desc.startswith("span:") else None,
                    e["Submission Time"] / 1e3, stages=[s["Stage ID"] for s in e["Stage Infos"]],
                    execution=int(ex) if ex is not None else None)
            elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
            elif ev == "SparkListenerTaskEnd":
                st = stages[e["Stage ID"]]
                st["tasks"] += 1
                tm = e.get("Task Metrics") or {}
                for k, short in _TASK_KEYS.items():
                    st[short] += int(tm.get(k) or 0)
                st["shuffle_write"] += int((tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written") or 0)
                for a in (e.get("Task Info") or {}).get("Accumulables", []):
                    try:
                        acc[a["ID"]] += int(a["Update"])
                    except (KeyError, TypeError, ValueError):
                        pass
            elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                plans[e["executionId"]] = e["sparkPlanInfo"]
            elif ev.endswith("SparkListenerDriverAccumUpdates"):  # driver-side SQL metrics
                for acc_id, value in e.get("accumUpdates", []):
                    acc[acc_id] += int(value)
    return EventLog(jobs, stages, plans, acc)


def plan_nodes(plan: dict):
    """Pre-order walk of a plan tree: yields (node, ancestors)."""
    stack = [(plan, ())]
    while stack:
        n, anc = stack.pop()
        yield n, anc
        for c in reversed(n.get("children", [])):
            stack.append((c, anc + (n,)))


def node_metric(log: EventLog, node: dict, name: str) -> int:
    return sum(log.sql_metric.get(m["accumulatorId"], 0) for m in node.get("metrics", []) if m["name"] == name)


def node_seconds(log: EventLog, node: dict, name: str) -> float:
    """A timing SQL metric in seconds (Spark keeps some in ms, some in ns)."""
    scale = {"timing": 1e-3, "nsTiming": 1e-9}
    return sum(log.sql_metric.get(m["accumulatorId"], 0) * scale.get(m.get("metricType"), 1e-3)
               for m in node.get("metrics", []) if m["name"] == name)


def jvm_gc_seconds(spark) -> float:
    """Cumulative GC time of the driver JVM (in local mode also the
    executors' JVM), from its GarbageCollectorMXBeans."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def attach_jobs(tracer: Tracer, log: EventLog) -> None:
    for j in sorted(log.jobs.values(), key=lambda j: j.id):
        if j.span is None or j.span >= len(tracer.spans):
            continue
        s = tracer.spans[j.span]
        s.jobs.append(j)
        while s is not None:
            s.jobs_all.append(j)
            s = tracer.spans[s.parent] if s.parent is not None else None


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


# ------------------------------------------------------ memory, host load


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(name))
    return kids


def tree_peak_rss_bytes(root: int) -> int:
    """Sum of the peak resident memory (VmHWM) of ``root`` and all its
    descendants: the Python driver, the driver JVM it launched and the
    JVM's Python workers. Each process's peak is kept by the kernel, so
    nothing is missed between samples; the sum bounds their joint peak."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


def host_load() -> dict:
    """Load averages and cumulative CPU jiffies (incl. steal) from /proc."""
    with open("/proc/loadavg") as f:
        la = f.read().split()
    with open("/proc/stat") as f:
        cpu = [int(v) for v in f.readline().split()[1:]]
    return {"loadavg": [float(v) for v in la[:3]], "cpu_total": sum(cpu[:8]),
            "cpu_idle": cpu[3] + cpu[4], "cpu_steal": cpu[7] if len(cpu) > 7 else 0}


def load_delta(a: dict, b: dict) -> dict:
    dt = max(1, b["cpu_total"] - a["cpu_total"])
    return {"loadavg_start": a["loadavg"], "loadavg_end": b["loadavg"],
            "busy_frac": round(1 - (b["cpu_idle"] - a["cpu_idle"]) / dt, 4),
            "steal_frac": round((b["cpu_steal"] - a["cpu_steal"]) / dt, 4)}
