"""Measurement helpers: host contention markers, process CPU and RSS, JVM
counters over py4j, Spark job-group accounting and the span tracer.

Everything here reads state; nothing changes how the engine runs. Only
traced runs call the JVM probes (status store, JMX, Catalyst phase
tracker); untraced runs use ``ProcessTree`` for ``cpu_s_per_op`` and
``peak_rss_mb``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- host


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_psi_avg60() -> float:
    """``some avg60`` from /proc/pressure/cpu; -1 where PSI is unavailable."""
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    return float(line.split()[2].split("=")[1])
    except OSError:
        pass
    return -1.0


def host_markers() -> dict:
    return {"steal_jiffies": steal_jiffies(), "loadavg_1m": loadavg_1m(), "cpu_psi_avg60": cpu_psi_avg60()}


# ------------------------------------------------------------- processes


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may contain spaces; fields resume after ')'
        return f.read().rsplit(")", 1)[1].split()


def _cpu_s(pid: int) -> float:
    """utime + stime + reaped children's cutime + cstime, in seconds."""
    f = _stat_fields(pid)
    return sum(int(x) for x in f[11:15]) / CLK_TCK


def driver_cpu_s() -> float:
    """CPU seconds of this Python process (with its reaped children)."""
    return _cpu_s(os.getpid())


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class ProcessTree:
    """CPU seconds and peak RSS of the Python driver plus the JVM and every
    process under it (Spark's Python workers). A worker that exits is
    folded into its parent's reaped-children counters, so its CPU is not
    lost."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def _tree(self) -> list[int]:
        pids, todo = [], [self.jvm_pid]
        while todo:
            p = todo.pop()
            pids.append(p)
            todo += _children(p)
        return pids

    def cpu_s(self) -> float:
        total = driver_cpu_s()
        for p in self._tree():
            try:
                total += _cpu_s(p)
            except OSError:  # exited between listing and reading
                pass
        return total

    def peak_rss_mb(self) -> float:
        return (_hwm_kb(os.getpid()) + _hwm_kb(self.jvm_pid)) / 1024.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# ----------------------------------------------------------------- JVM


def jvm_gc_s(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def jvm_heap_used_mb(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def cache_state(spark) -> tuple[int, float]:
    """(persisted RDD count, MB they hold in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    mb = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()) / 2**20
    return int(jsc.getPersistentRDDs().size()), mb


def catalyst_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations recorded on ``df``'s QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def job_group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, completed stages and tasks run under ``group``, and the wall
    time covered by those jobs (union of submission..completion)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = stages = tasks = 0
    spans = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(jid)
        jobs += 1
        stages += jd.numCompletedStages()
        tasks += jd.numCompletedTasks()
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and done.isDefined():
            spans.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
    wall = 0.0
    end = float("-inf")
    for s, e in sorted(spans):
        s = max(s, end)
        if e > s:
            wall += e - s
            end = e
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "job_wall_s": wall}


# -------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans: name, start, end, parent span and op id. With
    ``enabled`` false every call is a no-op and no span is kept."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]


@contextmanager
def wrapped(tracer: Tracer, module, attr: str, span_name: str):
    """Record a span around every call of ``module.attr`` while inside the
    block (traced runs only: it lets the benchmark split a public call into
    the layers it calls, without touching the engine's code)."""
    if not tracer.enabled:
        yield
        return
    orig = getattr(module, attr)

    def traced(*args, **kwargs):
        with tracer.span(span_name):
            return orig(*args, **kwargs)

    setattr(module, attr, traced)
    try:
        yield
    finally:
        setattr(module, attr, orig)
