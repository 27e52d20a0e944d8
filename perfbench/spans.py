"""Span recorder and Spark counter diffs, measured from outside the engine.

A span is recorded around each call the benchmark makes into a layer:
name, start, end, parent span and request id. Spans always record their
wall times (the end-to-end metrics need them); in traced mode each span
also carries the diff of Spark's cumulative counters over its interval.
Spans stay in memory and are written out once, at exit.

Counters come from the application status store and are diffed, never
counted from the retained lists (the store drops old jobs and stages):

* ``jobs`` — the difference of the next job id at the span's two ends;
* ``tasks``, ``gc_ms``, ``input_bytes``, ``shuffle_read_bytes``,
  ``shuffle_write_bytes`` — the difference of the executors' cumulative
  totals (``executorList``);
* ``task_ms`` — the executors' ``totalDuration`` is busy wall time, not
  the sum over parallel tasks, so task time is the summed
  ``executorRunTime`` of the stages of the span's jobs. A job the store
  has already dropped adds nothing and is counted in ``dropped_jobs``.

Spans that overlap in time (legs run on other threads) each see the
other's work; per-unit metrics sum only non-overlapping spans.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTER_FIELDS = (
    "jobs",
    "tasks",
    "task_ms",
    "gc_ms",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "dropped_jobs",
)
# ExecutorSummary getter per cumulative counter
_EXECUTOR_TOTALS = {
    "tasks": "totalTasks",
    "gc_ms": "totalGCTime",
    "input_bytes": "totalInputBytes",
    "shuffle_read_bytes": "totalShuffleRead",
    "shuffle_write_bytes": "totalShuffleWrite",
}


def _stat_fields(path: str) -> list[str] | None:
    """The fields of a ``/proc/.../stat`` file after the command name."""
    try:
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:  # the process or thread ended while we looked
        return None


def _ticks(fields: list[str], children: bool) -> int:
    """utime + stime (+ cutime + cstime of reaped children)."""
    return sum(int(v) for v in fields[11:15 if children else 13])


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by process ``root`` and its
    descendants, reaped children included. Time the hypervisor gave to
    other guests (steal) is not charged to a process, so unlike wall time
    this hardly grows when the host is busy."""
    stats: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(f"/proc/{name}/stat")
            if f is not None:  # fields: state ppid ...
                stats[int(name)] = (int(f[1]), _ticks(f, children=True))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return total / _TICKS


class CpuClock:
    """CPU seconds of this process tree (Python driver, JVM, Python
    workers), less the JVM's JIT compiler threads. Compiling is the JVM's
    own warm-up: in a fresh JVM it takes about half of all CPU time and
    shrinks as the run goes on, so counting it would measure how far the
    warm-up got, not the engine's work. The JVM must keep a fixed set of
    compiler threads (``-XX:-UseDynamicNumberOfCompilerThreads``), or an
    exiting one would take its time out of the subtraction."""

    def __init__(self, jvm_pid: int | None) -> None:
        self._jit: list[str] = []
        if jvm_pid is not None:
            task = f"/proc/{jvm_pid}/task"
            for tid in os.listdir(task):
                try:
                    with open(f"{task}/{tid}/comm") as fh:
                        if "CompilerThre" in fh.read():
                            self._jit.append(f"{task}/{tid}/stat")
                except OSError:
                    continue

    def jit_s(self) -> float:
        fields = (_stat_fields(p) for p in self._jit)
        return sum(_ticks(f, children=False) for f in fields if f) / _TICKS

    def now(self) -> float:
        return tree_cpu_s(os.getpid()) - self.jit_s()


_TICKS = os.sysconf("SC_CLK_TCK")


def diff_marks(before: dict[str, int], after: dict[str, int],
               job_task_ms) -> dict[str, int]:
    """Counters over the interval between two marks. ``job_task_ms(j)``
    gives job ``j``'s task time in ms, or None if it is no longer known."""
    out = dict.fromkeys(COUNTER_FIELDS, 0)
    for k in _EXECUTOR_TOTALS:
        out[k] = after[k] - before[k]
    out["jobs"] = after["next_job"] - before["next_job"]
    for j in range(before["next_job"], after["next_job"]):
        ms = job_task_ms(j)
        if ms is None:
            out["dropped_jobs"] += 1
        else:
            out["task_ms"] += ms
    return out


class SparkCounters:
    """Cumulative engine counters read from the status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._ssc = sc._jsc.sc()
        self._store = self._ssc.statusStore()
        self._all = sc._gateway.jvm.java.util.ArrayList()
        self._task_ms: dict[int, int | None] = {}
        self._stages: set[int] = set()

    def mark(self) -> dict[str, int]:
        # the store is fed by the asynchronous listener bus: drain it so
        # every ended task, stage and job is visible
        self._ssc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(_EXECUTOR_TOTALS, 0)
        execs = self._store.executorList(True)
        for i in range(execs.size()):
            e = execs.apply(i)
            for k, getter in _EXECUTOR_TOTALS.items():
                out[k] += getattr(e, getter)()
        jobs = self._store.jobsList(self._all)  # newest first
        out["next_job"] = jobs.apply(0).jobId() + 1 if jobs.size() else 0
        return out

    def between(self, before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
        return diff_marks(before, after, self._job_task_ms)

    def _job_task_ms(self, job_id: int) -> int | None:
        """Summed executor run time of the job's stages; each stage is
        counted once, under the first job that lists it."""
        if job_id not in self._task_ms:
            try:
                ids = self._store.job(job_id).stageIds()
            except Exception:  # noqa: BLE001 — NoSuchElementException: dropped
                self._task_ms[job_id] = None
                return None
            ms = 0
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._stages:
                    continue
                self._stages.add(sid)
                try:
                    ms += self._store.lastStageAttempt(sid).executorRunTime()
                except Exception:  # noqa: BLE001 — stage skipped, never attempted
                    continue
            self._task_ms[job_id] = ms
        return self._task_ms[job_id]


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    request: int | None
    start: float
    end: float = 0.0
    cpu: float | None = None  # CpuClock seconds, where asked for
    counters: dict | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """``counters=None`` records wall times only (the untraced mode)."""

    def __init__(self, counters: SparkCounters | None = None) -> None:
        self.counters = counters
        self.cpu_clock = CpuClock(None)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._t0 = time.perf_counter()
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, request: int | None = None, cpu: bool = False,
             **attrs):
        """``cpu=True`` also records the CPU time (``CpuClock``) used over
        the span; reading it takes a few ms."""
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        before = self.counters.mark() if self.counters else None
        sp = Span(len(self.spans), parent.id if parent else None, name, request,
                  0.0, attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        cpu0 = self.cpu_clock.now() if cpu else None
        t_start = time.perf_counter()
        sp.start = t_start - self._t0
        self.overhead_s += t_start - t_in
        try:
            yield sp
        finally:
            t_end = time.perf_counter()
            sp.end = t_end - self._t0
            if cpu0 is not None:
                sp.cpu = self.cpu_clock.now() - cpu0
            if before is not None:
                sp.counters = self.counters.between(before, self.counters.mark())
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t_end

    def record(self, name: str, t_start: float, t_end: float) -> None:
        """Add a span timed elsewhere (e.g. on another thread) as a child
        of the open span, without counters."""
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(
            len(self.spans), parent.id if parent else None, name,
            parent.request if parent else None,
            t_start - self._t0, t_end - self._t0))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def within(self, units: list[Span]) -> list[Span]:
        """Every span that started inside one of ``units`` (the units too)."""
        return [s for s in self.spans
                if any(u.start <= s.start <= u.end for u in units)]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        covered, edge = 0.0, sp.start
        for c in sorted(self.children(sp), key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return sp.wall - covered

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + self.self_time(s)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "parent": s.parent, "name": s.name,
                    "request": s.request, "start": round(s.start, 6),
                    "end": round(s.end, 6), "self": round(self.self_time(s), 6),
                    "counters": s.counters, **s.attrs,
                }) + "\n")


def sum_counters(spans: list[Span]) -> dict[str, int]:
    tot = dict.fromkeys(COUNTER_FIELDS, 0)
    for s in spans:
        for k, v in (s.counters or {}).items():
            tot[k] += v
    return tot
