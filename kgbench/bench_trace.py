"""Measurement helpers of the KG-construction benchmark: spans, self time,
the tail-percentile rule, process-tree RSS sampling and Spark event-log
attribution.  Pure Python: nothing here imports Spark, so the tests run
without a session."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


# ---------------------------------------------------------------- spans

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    sid: int
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records one span per layer call made by the benchmark.  Spans stay
    in memory until ``dump``.  When ``enabled`` is false, ``span`` only
    yields and records nothing.  With ``spark_context`` set, entering a
    span labels the Spark jobs it submits with the span name
    (``setJobDescription``), so event-log stages map to layers."""

    def __init__(self, enabled: bool, spark_context=None):
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run_id = "setup"

    def span(self, name: str):
        return _SpanCtx(self, name)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name
        self.span: Span | None = None

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return self
        parent = t._stack[-1] if t._stack else None
        self.span = Span(self.name, time.perf_counter(), math.nan, parent,
                         t.run_id, len(t.spans))
        t.spans.append(self.span)
        t._stack.append(self.span.sid)
        if t.sc is not None:
            t.sc.setJobDescription(self.name)
        return self

    def count(self, key: str, value) -> None:
        if self.span is not None:
            self.span.counts[key] = value

    def __exit__(self, *exc):
        t = self.t
        if self.span is None:
            return False
        self.span.end = time.perf_counter()
        t._stack.pop()
        if t.sc is not None:
            t.sc.setJobDescription(t.spans[t._stack[-1]].name
                                   if t._stack else None)
        return False


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval covered by its direct children (overlapping children are
    merged, so concurrent children are not subtracted twice)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_a = cur_b = None
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.sid] = (s.end - s.start) - covered
    return out


def layer_of(span_name: str) -> str:
    """Layer (module) of a span name ``<module path>.<call>``."""
    return span_name.rsplit(".", 1)[0]


# ---------------------------------------------------------------- stats

def tail_percentile(samples: list[float], beyond: int = 10
                    ) -> tuple[float, float]:
    """The highest percentile that has at least ``beyond`` samples above
    it, as ``(percentile, value)``: with sorted samples x[0..n-1] it is
    x[n-1-beyond], the p = 100·(n-beyond)/n percentile.  With ``beyond``
    samples or fewer no such percentile exists; the maximum is returned
    with percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= beyond:
        return 100.0, xs[-1]
    return 100.0 * (n - beyond) / n, xs[n - 1 - beyond]


def quartiles(xs: list[float]) -> list[float]:
    """First quartile, median and third quartile."""
    if len(xs) < 2:
        return [xs[0]] * 3
    return statistics.quantiles(xs, n=4)


# ---------------------------------------------------------------- RSS

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def tree_rss_mb(root: int) -> tuple[float, dict[str, float]]:
    """Summed RSS of ``root`` and its ``java`` and ``python*``
    descendants (the JVM and the Python workers), and its split by
    command name (MB).  Other descendants are short-lived helpers the
    JVM spawns (``chmod`` during Hadoop writes, ``bash``); before its
    exec such a child still shares the JVM's pages, carries the name of
    the JVM thread that forked it, and would count the JVM twice."""
    split: dict[str, float] = {}
    for p in [root] + descendants(root):
        name = _comm(p)
        if p != root and not name.startswith(("java", "python")):
            continue
        split[name] = split.get(name, 0.0) + _rss_kb(p) / 1024.0
    return sum(split.values()), split


class RssSampler:
    """Samples the summed RSS of this process, the JVM and its Python
    worker daemon and workers (``tree_rss_mb``) from ``/proc`` on a
    background thread; ``peak_mb`` is the highest sum seen and
    ``peak_split`` its split by command name."""

    def __init__(self, interval_s: float = 0.1):
        self.interval = interval_s
        self.peak_mb = 0.0
        self.peak_split: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        total, split = tree_rss_mb(os.getpid())
        if total > self.peak_mb:
            self.peak_mb, self.peak_split = total, split

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return False


# ---------------------------------------------------------------- event log

@dataclass
class TaskRec:
    stage: int
    layer: str
    duration_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_b: int
    spill_b: int
    records_read: int
    scans: tuple[str, ...]
    operators: frozenset


def parse_event_log(path: str, scan_markers: dict[str, str]
                    ) -> list[TaskRec]:
    """Task records of a Spark event log, each attributed to the job
    description (the benchmark's span name, hence its layer) of the job
    that ran it.  ``scan_markers`` maps a tag to a path fragment: a task
    whose SQL execution's physical plan mentions the fragment carries
    the tag in ``scans`` (used to tell corpus scans from other reads).
    ``operators`` names the physical operators the task's stage ran
    (``MapInArrow`` marks an extraction stage)."""
    stage_job: dict[int, int] = {}
    stage_ops: dict[int, frozenset] = {}
    job_desc: dict[int, str] = {}
    job_exec: dict[int, int] = {}
    exec_plan: dict[int, str] = {}
    tasks = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                job_desc[jid] = props.get("spark.job.description") or ""
                if props.get("spark.sql.execution.id") is not None:
                    job_exec[jid] = int(props["spark.sql.execution.id"])
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                exec_plan[ev["executionId"]] = ev.get(
                    "physicalPlanDescription", "")
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                exec_plan[ev["executionId"]] = (
                    exec_plan.get(ev["executionId"], "")
                    + ev.get("physicalPlanDescription", ""))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stage_ops[info["Stage ID"]] = frozenset(
                    json.loads(r["Scope"]).get("name", "")
                    for r in info.get("RDD Info", []) if r.get("Scope"))
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    out = []
    for ev in tasks:
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        jid = stage_job.get(ev["Stage ID"])
        plan = exec_plan.get(job_exec.get(jid, -1), "")
        out.append(TaskRec(
            stage=ev["Stage ID"],
            layer=job_desc.get(jid, "") if jid is not None else "",
            duration_ms=int(info.get("Finish Time", 0))
            - int(info.get("Launch Time", 0)),
            run_ms=int(m.get("Executor Run Time", 0)),
            cpu_ns=int(m.get("Executor CPU Time", 0)),
            gc_ms=int(m.get("JVM GC Time", 0)),
            shuffle_write_b=int((m.get("Shuffle Write Metrics") or {})
                                .get("Shuffle Bytes Written", 0)),
            spill_b=int(m.get("Memory Bytes Spilled", 0))
            + int(m.get("Disk Bytes Spilled", 0)),
            records_read=int((m.get("Input Metrics") or {})
                             .get("Records Read", 0)),
            scans=tuple(tag for tag, frag in scan_markers.items()
                        if frag in plan),
            operators=stage_ops.get(ev["Stage ID"], frozenset())))
    return out


def in_layer(span_name: str, prefix: str) -> bool:
    """Whether a job labelled ``span_name`` belongs to ``prefix``: the
    span itself, a span below it in the dotted name, or, for an empty
    prefix, any labelled job."""
    if not prefix:
        return bool(span_name)
    return span_name == prefix or span_name.startswith(prefix + ".")


def spark_layer_metrics(tasks: list[TaskRec], layer_prefix: str) -> dict:
    """Shuffle write, spill, GC and JVM-thread CPU share of the tasks
    of one layer (see ``in_layer``)."""
    sel = [t for t in tasks if in_layer(t.layer, layer_prefix)]
    run_ms = sum(t.run_ms for t in sel)
    return {
        "shuffle_write_mb": sum(t.shuffle_write_b for t in sel) / 1e6,
        "spill_mb": sum(t.spill_b for t in sel) / 1e6,
        "gc_s": sum(t.gc_ms for t in sel) / 1e3,
        "cpu_share": (sum(t.cpu_ns for t in sel) / 1e6 / run_ms
                      if run_ms else 0.0),
    }


def task_skew(tasks: list[TaskRec], layer_prefix: str) -> float:
    """Slowest ÷ median task duration of the stage with the most task
    time among the layer's stages (its extraction stage)."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        if in_layer(t.layer, layer_prefix):
            by_stage.setdefault(t.stage, []).append(max(1, t.duration_ms))
    if not by_stage:
        return 0.0
    durs = max(by_stage.values(), key=sum)
    return max(durs) / statistics.median(durs)


def records_read(tasks: list[TaskRec], layer_prefix: str,
                 scan_tag: str | None = None, operator: str | None = None
                 ) -> int:
    """Input records read by the layer's tasks, restricted to executions
    that scan ``scan_tag``'s path and/or to stages running ``operator``."""
    return sum(t.records_read for t in tasks
               if in_layer(t.layer, layer_prefix)
               and (scan_tag is None or scan_tag in t.scans)
               and (operator is None or operator in t.operators))
