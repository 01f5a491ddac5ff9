"""Tracing for the benchmark: spans around the calls into each layer's
public functions, Spark status-store counters per job, and a resident
memory sampler for the Spark JVM and its Python workers.

Spans are recorded from the benchmark's own files only, kept in memory
and written out when the run ends. The status store is read in-process,
so it works with the Spark UI disabled.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "int | None" = None
    op: "int | None" = None       # operation the span belongs to
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields.
    Each span names the span that caused it (``parent``) and the
    operation it belongs to, so spans of one operation share an id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: "list[Span]" = []
        self._stack: "list[int]" = []
        self._op: "int | None" = None

    @contextmanager
    def span(self, name: str, new_op: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        if new_op:
            self._op = idx
        s = Span(name=name, start=time.perf_counter(), parent=parent,
                 op=self._op)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> "dict[str, float]":
        """Per span name: total duration minus the part of it that child
        spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: "dict[str, float]" = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + s.dur - child[i]
        return out

    def to_json(self) -> "list[dict]":
        t0 = self.spans[0].start if self.spans else 0.0
        return [dict(id=i, name=s.name, start=s.start - t0, end=s.end - t0,
                     parent=s.parent, op=s.op, counters=s.counters)
                for i, s in enumerate(self.spans)]


# --- Spark status store --------------------------------------------------

def job_counters(spark, group: str) -> dict:
    """Counters of every job run under job group ``group``, summed over
    their stages (skipped stages count nothing): jobs, tasks, executor
    run time, JVM GC time, shuffle bytes written and spilled bytes."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict(jobs=0, tasks=0, executor_run_s=0.0, gc_s=0.0,
               shuffle_mb=0.0, spill_mb=0.0)
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        stages = store.job(job_id).stageIds().iterator()
        while stages.hasNext():
            try:
                sd = store.lastStageAttempt(stages.next())
            except Exception:  # stage evicted from the store
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_mb"] += sd.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (sd.memoryBytesSpilled()
                                + sd.diskBytesSpilled()) / 1e6
    return out


def plan_seconds(df) -> float:
    """Force Catalyst analysis, optimization and planning of ``df`` and
    return the phase tracker's total for them."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases().iterator()
    ms = 0
    while phases.hasNext():
        ms += phases.next()._2().durationMs()
    return ms / 1e3


# --- resident memory -----------------------------------------------------

def _children() -> "dict[int, list[int]]":
    kids: "dict[int, list[int]]" = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root_pid: int) -> "list[int]":
    """``root_pid`` and every process below it."""
    kids = _children()
    todo, out = [root_pid], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants."""
    return sum(_rss_kb(p) for p in descendants(root_pid)) / 1024.0


class RssSampler:
    """Samples the process tree under ``root_pid`` every ``every``
    seconds on a daemon thread and keeps the peak."""

    def __init__(self, root_pid: int, every: float = 0.2):
        self.root_pid = root_pid
        self.every = every
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._stop.wait(self.every)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
