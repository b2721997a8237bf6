"""Spans, Spark status-store readings and process-tree memory.

Spans are recorded by the benchmark around its calls into each layer and
kept in memory until the run ends. Spark's own status store (the data
behind its web UI) is read through the py4j gateway after the run and
each stage, job and SQL execution is charged to the innermost span whose
interval holds its submission time. Nothing is registered with Spark and
nothing is added to the package under test.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """In-memory span recorder; wall-clock epoch seconds so that spans
    line up with Spark's submission timestamps."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        sp = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                  attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Duration minus the time covered by direct children (children
        of one parent never overlap: the driver is single-threaded)."""
        out = [sp.end - sp.start for sp in self.spans]
        for sp in self.spans:
            if sp.parent is not None:
                out[sp.parent] -= sp.end - sp.start
        return out

    def innermost(self, t: float) -> int | None:
        best = None
        for i, sp in enumerate(self.spans):
            if sp.start <= t <= sp.end:
                best = i  # later spans nest inside earlier ones
        return best

    def layer_seconds(self, name: str) -> float:
        st = self.self_times()
        return sum(st[i] for i, sp in enumerate(self.spans) if sp.name == name)

    def dump(self, path: Path, extra: dict) -> None:
        st = self.self_times()
        rows = [{"id": i, "name": sp.name, "parent": sp.parent, "start": sp.start,
                 "end": sp.end, "self_s": st[i], **sp.attrs}
                for i, sp in enumerate(self.spans)]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": rows, **extra}, indent=1))


@contextmanager
def wrapped(tracer: Tracer, module, attr: str, span_name: str):
    """Temporarily route module.attr through a span (only for calls that
    do their work eagerly, such as writes and collects)."""
    orig = getattr(module, attr)

    def traced(*a, **kw):
        with tracer.span(span_name):
            return orig(*a, **kw)

    setattr(module, attr, traced)
    try:
        yield
    finally:
        setattr(module, attr, orig)


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

STAGE_UNITS = {"shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
               "gc_s": "s", "task_retries": "count", "skew_ratio": "ratio"}
_SUMMED = ("shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s", "task_retries")


def _jlist(jvm, seq):
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def _date_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _num(text: str) -> float:
    """First number in a SQL metric value string ('1,234' or
    'total (min, med, max ...)\\n12.3 MiB (...)')."""
    m = re.search(r"-?[\d,]*\.?\d+", text.split("\n")[-1])
    return float(m.group().replace(",", "")) if m else 0.0


class StatusReader:
    """Reads stages, jobs and SQL plan metrics from the live status store."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark.sparkContext._jvm

    def stages(self) -> list[dict]:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        out = []
        for s in _jlist(self.jvm, store.stageList(None, False, False,
                                                  gw.new_array(gw.jvm.double, 0), None)):
            sub = _date_s(s.submissionTime())
            if sub is None:
                continue
            med = mx = 0.0
            if s.numTasks() > 1:
                dist = store.taskSummary(s.stageId(), s.attemptId(), q)
                if dist.isDefined():
                    run = dist.get().executorRunTime()
                    med, mx = float(run.apply(0)), float(run.apply(1))
            out.append({
                "t": sub,
                "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
                "shuffle_read_mb": s.shuffleReadBytes() / 1e6,
                "spill_mb": s.diskBytesSpilled() / 1e6,
                "gc_s": s.jvmGcTime() / 1000.0,
                "task_retries": s.numFailedTasks() + s.numKilledTasks()
                + (1 if s.attemptId() > 0 else 0),
                "task_med_ms": med, "task_max_ms": mx,
            })
        return out

    def job_times(self) -> list[float]:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        out = []
        for j in _jlist(self.jvm, store.jobsList(None)):
            t = _date_s(j.submissionTime())
            if t is not None:
                out.append(t)
        return out

    def sql_nodes(self) -> list[dict]:
        """Per SQL execution: its submission time and, per plan node,
        its name and metric values by metric name."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        for ex in _jlist(self.jvm, store.executionsList()):
            eid = ex.executionId()
            values = dict(self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                store.executionMetrics(eid)))
            for node in _jlist(self.jvm, store.planGraph(eid).allNodes()):
                m = {}
                for pm in _jlist(self.jvm, node.metrics()):
                    v = values.get(pm.accumulatorId())
                    if v is not None:
                        m[pm.name()] = _num(v)
                out.append({"t": ex.submissionTime() / 1000.0,
                            "node": node.name(), "metrics": m})
        return out


def layer_stage_metrics(tracer: Tracer, stages: list[dict]) -> dict[str, dict]:
    """Aggregate stages onto the layer of the innermost span that held
    their submission. skew_ratio = sum of per-stage max task time over
    sum of per-stage median task time (a time-weighted max/median)."""
    agg: dict[str, dict] = {}
    for st in stages:
        i = tracer.innermost(st["t"])
        if i is None:
            continue
        a = agg.setdefault(tracer.spans[i].layer,
                           {k: 0.0 for k in STAGE_UNITS} | {"_med": 0.0, "_max": 0.0})
        for k in _SUMMED:
            a[k] += st[k]
        a["_med"] += st["task_med_ms"]
        a["_max"] += st["task_max_ms"]
    for a in agg.values():
        a["skew_ratio"] = a["_max"] / a["_med"] if a["_med"] > 0 else 0.0
    return agg


# ---------------------------------------------------------------------------
# process-tree resident memory
# ---------------------------------------------------------------------------


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM (each process's peak resident set) over `root` and its
    live descendants: the driver, the JVM and any Python workers. Read
    once, while the session is still up, so nothing samples /proc during
    the measured operations. An upper bound on the tree's joint peak."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            pass  # exited after the scan
    return total / 1e6
