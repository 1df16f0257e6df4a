"""The one place a query run is timed: ``bench.py`` and the ``tools/``
probes all measure through this module.

- ``start_session`` starts Spark and runs a small warm-up query, so JVM
  start-up and first codegen are billed to no measured query.
- ``contention`` snapshots host load (1-minute loadavg, cumulative
  hypervisor steal jiffies, CPU pressure). This box shows minute-scale
  steal storms, so a number is only evidence when the steal accrued while
  it ran stays under ``STEAL_TRUST_JIFFIES`` (``trusted``).
- ``time_query`` runs a query ``runs`` times into the noop sink (full
  execution, no driver-side collect in the timing). Run 1 pays one-time
  whole-stage-codegen compilation; later runs measure the data path. It
  also counts the jobs, stages and tasks the runs launched, so fixed
  per-task overhead shows next to the seconds it costs, and reads the
  largest stage's peak execution memory (hash tables, sort buffers).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Callable

STEAL_TRUST_JIFFIES = 500


def start_session(app_name: str):
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    from boxoffice_spark.session import get_spark

    spark = get_spark(app_name)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark


def contention() -> dict:
    """Host load markers; a marker this host cannot give is left out."""
    out: dict = {}
    try:
        with open("/proc/loadavg") as fh:
            out["loadavg_1m"] = float(fh.read().split()[0])
    except (OSError, IndexError, ValueError):
        pass
    try:  # cumulative steal jiffies over all CPUs: hypervisor noisy-neighbour time
        with open("/proc/stat") as fh:
            out["steal_jiffies"] = int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        pass
    try:  # PSI: share of the last minute runnable tasks waited for a CPU
        with open("/proc/pressure/cpu") as fh:
            out["cpu_pressure_some_avg60"] = float(fh.readline().split("avg60=")[1].split()[0])
    except (OSError, IndexError, ValueError):
        pass
    return out


def steal_delta(before: dict, after: dict) -> int | None:
    if "steal_jiffies" in before and "steal_jiffies" in after:
        return after["steal_jiffies"] - before["steal_jiffies"]
    return None


def trusted(delta: int | None) -> bool:
    """A number may back a speed claim only when the steal accrued while it
    ran is known and under the threshold."""
    return delta is not None and delta < STEAL_TRUST_JIFFIES


@dataclass(frozen=True)
class Timing:
    build: list[float]  # per run: build() = plan assembly plus any eager work
    exec: list[float]  # per run: execution into the noop sink
    steal_delta: int | None  # over all runs
    jobs: int  # over all runs, builds included
    stages: int  # completed stages (a skipped, reused stage is not counted)
    tasks: int  # completed tasks
    peak_exec_mb: float  # largest stage peakExecutionMemory, summed over its tasks

    @property
    def cold(self) -> float:
        return self.exec[0]

    @property
    def warm(self) -> float:
        return min(self.exec)

    @property
    def total(self) -> float:
        """Fastest run's build + exec: everything the query did."""
        return min(b + e for b, e in zip(self.build, self.exec))


def time_query(spark, name: str, build: Callable, runs: int = 2, fresh: bool = False) -> Timing:
    """Time ``runs`` runs of ``build()`` and of writing its DataFrame to the
    noop sink, each under the job group ``name``.

    ``fresh=False`` keeps caches: a query that persists a shared
    intermediate through ``scoped_persist`` reuses run 1's handle, so later
    runs are warm steady-state and run 1 (``cold``) pays cache population.
    ``fresh=True`` releases every scoped cache before each run, so each run
    computes what a persist would otherwise serve; growth probes need that,
    or min() reports cache-scan growth and hides superlinear work upstream
    of a persist."""
    from boxoffice_spark.functions.caching import release_all

    sc = spark.sparkContext
    earlier = set(sc.statusTracker().getJobIdsForGroup(name))
    before = contention()
    builds, execs = [], []
    try:
        for i in range(runs):
            if fresh:
                release_all()
            sc.setJobGroup(name, f"{name} run {i + 1}")
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    steal = steal_delta(before, contention())
    return Timing(builds, execs, steal, *_group_counts(sc, name, earlier))


def _group_counts(sc, group: str, earlier: set[int]) -> tuple[int, int, int, float]:
    """Jobs, completed stages, completed tasks and the largest stage peak
    execution memory (MiB) under ``group``, leaving out the ``earlier`` jobs
    of a previous call with the same name."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    store, tracker = jsc.statusStore(), sc.statusTracker()
    jobs = [j for j in tracker.getJobIdsForGroup(group) if j not in earlier]
    stages = tasks = peak = 0
    for jid in jobs:
        jd = store.job(jid)
        stages += jd.numCompletedStages()
        tasks += jd.numCompletedTasks()
        for sid in tracker.getJobInfo(jid).stageIds:
            # past spark.ui.retainedStages the store evicts skipped stages
            # (no completion time, no tasks, no memory) first
            if tracker.getStageInfo(sid) is not None:
                peak = max(peak, store.lastStageAttempt(sid).peakExecutionMemory())
    return len(jobs), stages, tasks, peak / 2**20
