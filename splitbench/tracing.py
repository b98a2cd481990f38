"""Measurement plumbing for the splitter benchmark.

- :class:`ProcTree` reads the CPU time of this process and every
  descendant (the Spark driver JVM, the PySpark worker daemon and its
  forked workers) from ``/proc``.
- :func:`read_event_log` folds a Spark event log (``spark.eventLog.*``,
  uncompressed) into per-job records.
- :class:`Tracer` wraps public functions of the package at runtime: each
  call records a span (name, start, end, parent, thread) and runs under a
  Spark job group named after the span, so the event log's jobs can be
  attributed to the layer whose call triggered them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


# --- /proc process tree ---------------------------------------------------------


class ProcTree:
    """CPU time of the process tree rooted at ``root`` (default: self).

    CPU is ``utime + stime + cutime + cstime`` summed over the live tree:
    a worker that exits is reaped by its parent (the worker daemon), whose
    ``cutime``/``cstime`` then carry its time, so the sum never loses the
    CPU of short-lived workers."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def cpu_s(self) -> float:
        total = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(b")") + 2:].split()
            total += sum(int(x) for x in fields[11:15])
        return total / _TICK


# --- event log ---------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int = 0
    stage_ids: list = field(default_factory=list)
    tasks: int = 0
    cpu_s: float = 0.0  # executor CPU time of the job's tasks
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    task_s: list = field(default_factory=list)  # per-task executor run time


def read_event_log(log_dir: Path) -> list[Job]:
    """Jobs of every application log under ``log_dir``, with the metrics
    of their tasks folded in. Rolling (``eventlog_v2_*/events_*``) and
    single-file logs are both read; they must be uncompressed."""
    files = sorted(p for p in Path(log_dir).rglob("*") if p.is_file()
                   and not p.name.startswith("."))
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                            ev["Submission Time"], stage_ids=ev["Stage IDs"])
                    jobs[j.job_id] = j
                    for s in j.stage_ids:
                        stage_job[s] = j.job_id
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j.tasks += 1
                    j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    j.task_s.append(m.get("Executor Run Time", 0) / 1e3)
                    sw = m.get("Shuffle Write Metrics") or {}
                    j.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
                    j.spill_mb += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0)) / 1e6
                    j.input_mb += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0) / 1e6
                    j.output_mb += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0) / 1e6
    return sorted(jobs.values(), key=lambda j: j.job_id)


def fold_jobs(jobs: list[Job]) -> dict:
    """Totals over a set of jobs; ``task_skew`` is max over median task
    run time (1.0 when every task took as long as the median)."""
    task_s = [t for j in jobs for t in j.task_s]
    med = statistics.median(task_s) if task_s else 0.0
    return {
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "cpu_s": sum(j.cpu_s for j in jobs),
        "shuffle_mb": sum(j.shuffle_write_mb for j in jobs),
        "spill_mb": sum(j.spill_mb for j in jobs),
        "input_mb": sum(j.input_mb for j in jobs),
        "output_mb": sum(j.output_mb for j in jobs),
        "task_skew": (max(task_s) / med) if med > 0 else 1.0,
    }


def jobs_between(jobs: list[Job], t0: float, t1: float) -> list[Job]:
    """Jobs submitted within the wall-clock window [t0, t1] (seconds)."""
    lo, hi = t0 * 1000, t1 * 1000
    return [j for j in jobs if lo <= j.submit_ms <= hi]


# --- spans --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    thread: int
    cpu0: float  # process-tree CPU seconds at start and end
    cpu1: float = 0.0


class Tracer:
    """Span recorder plus the runtime wrappers that feed it.

    ``targets`` lists ``(module, attribute)`` pairs; a dotted attribute
    (``"StageStore.save"``) names a method. A module-level function is
    replaced in EVERY loaded module of the package that holds the same
    object, so ``from .x import f`` bindings are wrapped too. Each span
    sets a Spark job group on the calling thread (the group id is the
    span's index) and restores the enclosing span's group on exit; spans
    opened on a thread with no open span (the program's own thread pools)
    have no parent. Spans stay in memory until the run ends."""

    package = "osm_history_splitter_spark"

    def __init__(self, spark, tree: ProcTree):
        self.spark = spark
        self.tree = tree
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _enter(self, name: str) -> int:
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(
                name, time.time(), 0.0, stack[-1] if stack else None,
                threading.get_ident(), self.tree.cpu_s(),
            ))
        stack.append(idx)
        self.spark.sparkContext.setJobGroup(f"span{idx}", name)
        return idx

    def _exit(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.time()
        span.cpu1 = self.tree.cpu_s()
        stack = self._stack()
        stack.pop()
        sc = self.spark.sparkContext
        if stack:
            sc.setJobGroup(f"span{stack[-1]}", self.spans[stack[-1]].name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span around the benchmark's own code; yields its index."""
        idx = self._enter(name)
        try:
            yield idx
        finally:
            self._exit(idx)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, targets: list[tuple[str, str]]) -> None:
        import importlib

        for mod_name, _ in targets:
            importlib.import_module(mod_name)
        pkg_modules = [m for n, m in list(sys.modules.items())
                       if m is not None and (n == self.package
                                             or n.startswith(self.package + "."))]
        for mod_name, attr in targets:
            mod = sys.modules[mod_name]
            short = mod_name.rsplit(".", 1)[-1]
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                setattr(cls, meth, self.wrap(f"{short}.{attr}", orig))
                self._undo.append((cls, meth, orig))
                continue
            orig = getattr(mod, attr)
            wrapped = self.wrap(f"{short}.{attr}", orig)
            for m in pkg_modules:
                if getattr(m, attr, None) is orig:
                    setattr(m, attr, wrapped)
                    self._undo.append((m, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

