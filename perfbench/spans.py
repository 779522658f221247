"""In-memory spans around layer calls, Spark job accounting, CPU clocks.

Spans are recorded only from the benchmark's own files: ``wrap``
replaces a module global or an object attribute with a timing shim, so
the program under test is unchanged. Each span keeps its name, start,
end, parent and the trace id of the entry or request it belongs to.
A layer's self time is its spans' duration minus the part covered by
their child spans (one driver thread, so children never overlap).

``SparkJobs`` tags every job with a job group and reads jobs, stages,
tasks and executor metrics for that group from the live
``AppStatusStore`` (present with ``spark.ui.enabled=false``).
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.trace_id = ""
        self.spans: list[tuple] = []  # (trace_id, name, start, end, parent index)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((self.trace_id, name, time.perf_counter(), None, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            tid, n, start, _, par = self.spans[idx]
            self.spans[idx] = (tid, n, start, time.perf_counter(), par)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a shim that records a span named
        ``name`` around each call while the tracer is active."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, shim)

    def totals(self, keep=lambda trace_id: True) -> tuple[dict, dict, dict]:
        """(total seconds, self seconds, call count) per span name, over
        the spans whose trace id passes ``keep``."""
        total: dict = defaultdict(float)
        child: dict = defaultdict(float)
        calls: dict = defaultdict(int)
        for tid, name, start, end, parent in self.spans:
            if end is None or not keep(tid):
                continue
            total[name] += end - start
            calls[name] += 1
            if parent >= 0:
                child[parent] += end - start
        own: dict = defaultdict(float)
        for i, (tid, name, start, end, _) in enumerate(self.spans):
            if end is None or not keep(tid):
                continue
            own[name] += (end - start) - child.get(i, 0.0)
        return total, own, calls

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, (tid, name, start, end, parent) in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "trace": tid, "name": name, "start": start,
                    "end": end, "parent": parent if parent >= 0 else None,
                }) + "\n")


_STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "inputBytes", "shuffleReadBytes",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


class SparkJobs:
    """Per-job-group totals read from the application status store."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._seen_stages: set = set()
        self.cores = self._sc.defaultParallelism

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, group)

    def read(self, group: str) -> dict:
        """Totals for the jobs of ``group``. Call right after the group's
        work ends: the store keeps only the last spark.ui.retainedJobs
        jobs. A stage reused by a later job is counted once, for the job
        that ran it."""
        self._bus.waitUntilEmpty(30_000)
        out = dict.fromkeys(("jobs", "stages", "tasks", "job_wall_s") + _STAGE_FIELDS, 0)
        spans = []
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen_stages:
                    continue
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — py4j NoSuchElement: stage never ran
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                for f in _STAGE_FIELDS:
                    out[f] += getattr(st, f)()
        out["job_wall_s"] = _union_ms(spans) / 1000.0
        return out


def _union_ms(intervals: list) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def steal_s() -> float:
    """CPU seconds the host has so far stolen from this machine's CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class JobCounter:
    """Spark jobs submitted so far on the context (all groups)."""

    def __init__(self, spark) -> None:
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def __call__(self) -> int:
        return self._dag.numTotalJobs()


class CpuClock:
    """CPU seconds used so far by the driver process and the JVM, leaving
    out the JVM's JIT compiler threads.

    Unlike wall time, CPU time does not grow while the host steals the
    machine's CPUs. JIT compilation runs on its own threads, in bursts
    whose timing differs from run to run; it is left out so the figure
    is the work of the program. The process totals have nanosecond
    resolution (the kernel's per-process CPU clock); the compiler threads
    are read per thread from /proc, so a compiler thread that exits only
    loses its last increment."""

    _JIT = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, jvm_pid: int) -> None:
        # MAKE_PROCESS_CPUCLOCK(pid, CPUCLOCK_SCHED) from the kernel's
        # posix-timers.h: the clock clock_getcpuclockid(3) returns.
        self._jvm_clock = ((~jvm_pid) << 3) | 2
        self.task_dir = f"/proc/{jvm_pid}/task"
        self.tick = os.sysconf("SC_CLK_TCK")
        self._jit: dict = {}  # compiler thread id -> its ticks when last read
        self._names: dict = {}  # thread id -> name

    def __call__(self) -> float:
        jvm_s = time.clock_gettime(self._jvm_clock)
        for tid in os.listdir(self.task_dir):
            try:
                name = self._names.get(tid)
                if name is None:
                    with open(f"{self.task_dir}/{tid}/comm") as fh:
                        name = self._names[tid] = fh.read().strip()
                if name.startswith(self._JIT):
                    with open(f"{self.task_dir}/{tid}/stat") as fh:
                        fields = fh.read().rsplit(")", 1)[1].split()
                    self._jit[tid] = int(fields[11]) + int(fields[12])  # utime, stime
            except FileNotFoundError:  # the thread ended meanwhile
                pass
        return time.process_time() + jvm_s - sum(self._jit.values()) / self.tick
