"""Spans, Spark event-log accounting and process-memory sampling.

Spans are recorded from the benchmark's own files, around each call into an
engine layer; nothing inside the engine is patched except, in traced runs,
the public functions of the operator/source/sink modules, which are
rebound to span-recording wrappers (``instrument``). Spark-side numbers
come from Spark's own event log: every job carries the job group the
benchmark set for the operation that issued it.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. With ``enabled`` false, ``layer`` spans are
    skipped and only the operation spans the end-to-end metrics need are
    kept."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, dict(attrs)))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    @contextmanager
    def layer(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        with self.span(name, **attrs) as s:
            yield s

    def self_seconds(self, idx: int) -> float:
        """Span duration minus the part its direct children cover."""
        s = self.spans[idx]
        children = sorted(
            (c.start, c.end) for c in self.spans if c.parent == idx
        )
        return s.seconds - _covered(children, s.start, s.end)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- module rebinding ----------------------------------------------------------


class _Traced:
    """Span-recording stand-in for a module-level engine function. Pickles
    as a by-name lookup, so closures shipped to Python workers resolve the
    worker's own (unwrapped) function."""

    def __init__(self, fn, module, label: str, tracer: Tracer) -> None:
        functools.update_wrapper(self, fn)
        self._fn, self._module, self._label, self._tracer = fn, module, label, tracer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._label):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return getattr, (self._module, self._fn.__name__)


def instrument(tracer: Tracer, module_names: list[str]):
    """Rebind every public function defined in each module to a wrapper that
    records an ``op.<module>.<function>`` span. Returns an undo callable."""
    undo = []
    for mod_name in module_names:
        mod = importlib.import_module(mod_name)
        short = mod_name.rsplit(".", 2)[-2] + "." + mod_name.rsplit(".", 1)[-1]
        for name, obj in list(vars(mod).items()):
            if (
                name.startswith("_")
                or not inspect.isfunction(obj)
                or obj.__module__ != mod_name
            ):
                continue
            setattr(mod, name, _Traced(obj, mod, f"op.{short}.{name}", tracer))
            undo.append((mod, name, obj))

    def restore() -> None:
        for mod, name, obj in undo:
            setattr(mod, name, obj)

    return restore


# --- Spark event log -------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    group: str | None
    description: str | None
    submitted: float  # epoch seconds


@dataclass
class TaskRow:
    stage: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int


@dataclass
class EventLog:
    jobs: list[Job]
    tasks: list[TaskRow]
    stage_job: dict  # (app, stage id) -> job index
    completed_stages: set  # (app, stage id)
    task_app: list  # app id per task row


def read_event_logs(log_dir: str) -> EventLog:
    """Parse every uncompressed, non-rolling event log in ``log_dir``."""
    jobs: list[Job] = []
    tasks: list[TaskRow] = []
    task_app: list[str] = []
    stage_job: dict = {}
    completed: set = set()
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append(Job(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id"),
                        props.get("spark.job.description"),
                        ev["Submission Time"] / 1000.0,
                    ))
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault((app, sid), len(jobs) - 1)
                elif kind == "SparkListenerStageCompleted":
                    completed.add((app, ev["Stage Info"]["Stage ID"]))
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(TaskRow(
                        ev["Stage ID"],
                        info["Launch Time"] / 1000.0,
                        info["Finish Time"] / 1000.0,
                        m.get("Executor Run Time", 0) / 1000.0,
                        m.get("Executor CPU Time", 0) / 1e9,
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        sw.get("Shuffle Bytes Written", 0),
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    ))
                    task_app.append(app)
    return EventLog(jobs, tasks, stage_job, completed, task_app)


SPARK_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
)


def spark_rows(log: EventLog, groups: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Per job group: jobs, stages and tasks run, executor time, shuffle
    bytes, spill, and the driver gap — the part of the group's wall window
    ``groups[g] = (start, end)`` in which no task of the group was running."""
    out = {g: dict.fromkeys(SPARK_KEYS, 0) for g in groups}
    job_group = {i: j.group for i, j in enumerate(log.jobs)}
    intervals: dict[str, list] = {g: [] for g in groups}
    stages: dict[str, set] = {g: set() for g in groups}
    for j in log.jobs:
        if j.group in out:
            out[j.group]["spark.jobs"] += 1
    for t, app in zip(log.tasks, log.task_app):
        ji = log.stage_job.get((app, t.stage))
        g = job_group.get(ji)
        if g not in out:
            continue
        row = out[g]
        row["spark.tasks"] += 1
        row["spark.executor_run_s"] += t.run_s
        row["spark.executor_cpu_s"] += t.cpu_s
        row["spark.shuffle_read_bytes"] += t.shuffle_read
        row["spark.shuffle_write_bytes"] += t.shuffle_write
        row["spark.spill_bytes"] += t.spill
        intervals[g].append((t.launch, t.finish))
        if (app, t.stage) in log.completed_stages:
            stages[g].add((app, t.stage))
    for g, (lo, hi) in groups.items():
        out[g]["spark.stages"] = len(stages[g])
        out[g]["spark.driver_gap_s"] = (hi - lo) - _covered(intervals[g], lo, hi)
    return out


# --- memory ------------------------------------------------------------------------


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages are split between the processes
    that map them, so forked Python workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as fh:
                kids.extend(int(p) for p in fh.read().split())
        except OSError:
            pass
    return kids


def tree_memory_mb(pid: int) -> float:
    """Resident memory (PSS) of ``pid`` plus all its descendants, in MB."""
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += _pss_kb(p)
        todo.extend(_children(p))
    return total / 1024.0


class MemorySampler:
    """Samples the resident memory of the Spark JVM and its Python workers
    from ``/proc`` on a background thread while active."""

    def __init__(self, pid: int, interval_s: float = 0.1) -> None:
        self.pid, self.interval_s, self.peak_mb = pid, interval_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_memory_mb(self.pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_memory_mb(self.pid))
