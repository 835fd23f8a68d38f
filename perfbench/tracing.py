"""Tracing from outside the program: Python spans and Spark's event log.

Spans wrap calls into the program's public module functions (patched at
run time, restored afterwards) and the benchmark's own operation steps.
The event log (``spark.eventLog.*`` passed through ``get_spark``) gives
SQL executions, jobs, stages and tasks; each SQL execution is attributed
to a layer by the table its plan writes or reads, and joined to its jobs
through ``spark.sql.execution.id``.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import re
import statistics
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field


def now_ms() -> float:
    return time.time() * 1000.0


@dataclass
class Span:
    name: str
    start: float  # epoch ms, the event log's clock
    end: float
    parent: str | None
    thread: int


class Tracer:
    """In-memory spans; ``instrument`` wraps every public function of the
    given modules, and every from-import of them in the program's package."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(name)
        t0 = now_ms()
        try:
            yield
        finally:
            stack.pop()
            with self._lock:
                self.spans.append(Span(name, t0, now_ms(), parent, threading.get_ident()))

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def instrument(self, layers: dict[str, object], package: str) -> None:
        wrapped: dict[int, object] = {}
        for layer, mod in layers.items():
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn):
                    continue
                if fn.__module__ != mod.__name__:
                    continue
                wrapped[id(fn)] = self._wrap(f"{layer}.{attr}", fn)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(package):
                continue
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and id(val) in wrapped:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapped[id(val)])

    def uninstrument(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    @contextmanager
    def instrumented(self, layers: dict[str, object], package: str):
        self.instrument(layers, package)
        try:
            yield self
        finally:
            self.uninstrument()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_ms_by_layer(self, lo: float, hi: float) -> dict[str, float]:
        """Self time of instrumented calls inside [lo, hi], per layer: a
        span's duration minus its direct children's (same thread)."""
        inside = [s for s in self.spans if s.start >= lo and s.end <= hi and "." in s.name]
        out: dict[str, float] = {}
        for s in inside:
            child = sum(
                c.end - c.start
                for c in inside
                if c.thread == s.thread and c.parent == s.name and c.start >= s.start and c.end <= s.end
            )
            layer = s.name.rsplit(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - child
        return out


class NullTracer:
    """The untraced run's stand-in: no spans, no patching."""

    def span(self, name: str):
        return nullcontext()

    def instrumented(self, layers: dict[str, object], package: str):
        return nullcontext(self)


# ---- event log ---------------------------------------------------------------


def eventlog_conf(log_dir: str) -> dict[str, str]:
    """Session config for an uncompressed, single-file local event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Execution:
    id: int
    start: float
    end: float = 0.0
    plan: str = ""
    label: str = "other"


@dataclass
class Job:
    id: int
    start: float
    end: float = 0.0
    exec_id: int | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class Task:
    stage: int
    run_ms: float
    gc_ms: float
    spill: int
    shuffle_write: int
    input_bytes: int
    output_bytes: int


@dataclass
class EventLog:
    executions: dict[int, Execution]
    jobs: dict[int, Job]
    tasks: list[Task]
    stage_span: dict[int, tuple[float, float]]
    file_scan_stages: set[int]

    def jobs_in(self, lo: float, hi: float) -> list[Job]:
        return [j for j in self.jobs.values() if j.start >= lo and j.start <= hi]

    def execs_in(self, lo: float, hi: float) -> list[Execution]:
        return [e for e in self.executions.values() if e.start >= lo and e.start <= hi]

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        stages = {s for j in jobs for s in j.stages}
        return [t for t in self.tasks if t.stage in stages]


def read_eventlog(log_dir: str) -> EventLog:
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    ex: dict[int, Execution] = {}
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    stage_span: dict[int, tuple[float, float]] = {}
    file_scan: set[int] = set()
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SparkListenerSQLExecutionStart"):
                ex[ev["executionId"]] = Execution(
                    ev["executionId"], float(ev["time"]), plan=ev.get("physicalPlanDescription", "")
                )
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in ex:
                    ex[ev["executionId"]].end = float(ev["time"])
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                eid = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"],
                    float(ev["Submission Time"]),
                    exec_id=int(eid) if eid is not None else None,
                    stages=list(ev["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = float(ev["Completion Time"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                if "Submission Time" in info and "Completion Time" in info:
                    stage_span[sid] = (float(info["Submission Time"]), float(info["Completion Time"]))
                if any(r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])):
                    file_scan.add(sid)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks.append(
                    Task(
                        stage=ev["Stage ID"],
                        run_ms=float(m.get("Executor Run Time", 0)),
                        gc_ms=float(m.get("JVM GC Time", 0)),
                        spill=int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0)),
                        shuffle_write=int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)),
                        input_bytes=int((m.get("Input Metrics") or {}).get("Bytes Read", 0)),
                        output_bytes=int((m.get("Output Metrics") or {}).get("Bytes Written", 0)),
                    )
                )
    return EventLog(ex, jobs, tasks, stage_span, file_scan)


# the write's target: first argument in the formatted plan's node details
_WRITE = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: ([^,\s]+)")
_READ = re.compile(r"Location: \w+ \[([^\]]+)\]")


def written_table(plan: str) -> str | None:
    m = _WRITE.search(plan)
    return os.path.basename(m.group(1).rstrip("/")) if m else None


def read_tables(plan: str) -> set[str]:
    return {
        os.path.basename(p.strip().rstrip("/"))
        for m in _READ.finditer(plan)
        for p in m.group(1).split(",")
    }


# ---- interval arithmetic -------------------------------------------------------


def union_ms(spans, lo: float, hi: float) -> float:
    """Length of the union of (start, end) spans clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in spans if e > lo and s < hi)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_totals(log: EventLog, lo: float, hi: float, cores: int) -> dict[str, float]:
    """Runtime-layer metrics for every job started inside [lo, hi]."""
    jobs = log.jobs_in(lo, hi)
    tasks = log.tasks_of(jobs)
    stages = {s for j in jobs for s in j.stages if s in log.stage_span}
    skew = 1.0
    if stages:
        longest = max(stages, key=lambda s: log.stage_span[s][1] - log.stage_span[s][0])
        runs = [t.run_ms for t in tasks if t.stage == longest]
        med = statistics.median(runs) if runs else 0.0
        skew = max(runs) / med if med > 0 else 1.0
    wall = hi - lo
    job_union = union_ms([(j.start, j.end) for j in jobs], lo, hi)
    return {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "sql_executions": len(log.execs_in(lo, hi)),
        "run_s": sum(t.run_ms for t in tasks) / 1000.0,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "spill_bytes": sum(t.spill for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "task_skew": skew,
        "driver_only_s": (wall - job_union) / 1000.0,
        "busy_ratio": sum(t.run_ms for t in tasks) / (cores * wall) if wall > 0 else 0.0,
    }
