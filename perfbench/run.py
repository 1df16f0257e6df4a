"""Benchmark entry point.

    python3 perfbench/run.py --workload daily --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One invocation is one fresh process for
one workload: it generates the seeded inputs under ``.perfbench_work/``,
sets up Spark through the engine's public functions, runs the workload's
op in a closed loop for ``--seconds`` seconds, checks every op's output
against DuckDB and prints one JSON result as its last line. The line
before it carries the run's details: per-op latencies, the set-up
breakdown, input-generation time and the contention markers.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records spans
and counts and reports the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

from workloads import CURATION_QUERIES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOAD_NAMES = tuple(WORKLOADS)
# Pinned so every run of every commit gets the same engine configuration.
# One local core: the inputs are small, so more cores only add tasks per
# stage and steal noise (a curation pass measured 10 s on local[1], 13 s on
# local[2] and 17 s on local[4]), and the other cores stay free for the
# JVM's JIT compiler threads. The 2g heap keeps the JVM's footprint small
# on a shared machine; the engine's own default is 16g.
SPARK_GRAFT_CPUS = "1"
SPARK_GRAFT_DRIVER_MEM = "2g"
# JIT tier 1 (C1) only and the serial collector. A run is one short-lived
# JVM: with the default tiered C2 its compile backlog never drained within
# a run, and op latency drifted 40% inside one run; with C1 the compiler
# settles during the first op. G1's parallel GC threads burn CPU while the
# host deschedules them: the same cold curation pass cost 30.5 s of CPU in
# a quiet phase of the shared host and 38.9 s in a busy one (spread 0.21
# over ten seeds); with the serial collector, the collector the JVM's own
# ergonomics choose for a one-core machine, five seeds spread 0.01. Both
# commits of a comparison run with the same options. -XX:-UsePerfData
# keeps the JVM from writing its counters file under /tmp.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -XX:-UsePerfData"

# Op latency is not among them: on a shared 4-vCPU host it moved up to 2x
# between runs of the same work (see README.md); it is reported with the
# run's details and by the traced run.
END_TO_END_UNITS = {"cpu_s_per_op": "s", "peak_rss_mb": "MB", "setup_s": "s"}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "tables.register_views_s": "s",
    "agent.run_sql_self_s": "s",
    "agent.validate_sql_self_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    **{f"queries.{q}.build_s": "s" for q in CURATION_QUERIES},
    "operators.build_jobs": "count",
    "operators.build_s_per_job": "s",
    "caching.persisted_rdds": "count",
    "caching.storage_mb": "MB",
    "upsert.merge_upsert_s": "s",
    "io.overwrite_partitions_s": "s",
    "io.bytes_written": "bytes",
    "io.files_written": "count",
    "io.bytes_per_input_byte": "ratio",
    "ingest.rows_per_s": "rows/s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.driver_gap_s": "s",
    "jvm.gc_s": "s",
    "jvm.heap_used_mb": "MB",
    "host.steal_jiffies": "jiffies",
    "host.loadavg_1m": "load",
    "host.cpu_psi_avg60": "%",
    "trace.latency_p50_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def _pin_environment(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": SPARK_GRAFT_CPUS,
            "SPARK_GRAFT_DRIVER_MEM": SPARK_GRAFT_DRIVER_MEM,
            "SPARK_LOCAL_IP": "127.0.0.1",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "TZ": "UTC",
            # the JVM's scratch files stay inside the work directory too
            "PYSPARK_SUBMIT_ARGS": f'--driver-java-options "{JVM_OPTIONS} -Djava.io.tmpdir={tmp}" pyspark-shell',
        }
    )
    time.tzset()
    tempfile.tempdir = tmp


class Context:
    """What a workload op needs: the session, the registry, the generated
    inputs and the tracer; it also owns the op's job groups and counts."""

    def __init__(self, spark, specs, manifest, tracer, probes):
        self.spark = spark
        self.specs = specs
        self.manifest = manifest
        self.tracer = tracer
        self.probes = probes
        self.op_id = "setup"
        self.groups: list[str] = []
        self.counts: dict[str, float] = {}

    def start_op(self, i: int) -> None:
        self.op_id = f"op{i}"
        self.tracer.op = self.op_id
        self.groups = [self.op_id]
        self.counts = {}
        self.spark.sparkContext.setJobGroup(self.op_id, self.op_id)

    @contextmanager
    def group(self, name: str):
        """Run the block's Spark jobs under their own job group, so the
        traced run can tell build jobs and action jobs apart."""
        g = f"{self.op_id}/{name}"
        self.groups.append(g)
        self.spark.sparkContext.setJobGroup(g, g)
        try:
            yield
        finally:
            self.spark.sparkContext.setJobGroup(self.op_id, self.op_id)

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0.0) + value

    @contextmanager
    def probing(self):
        """Time a probe that runs inside an op: its cost is the tracing
        overhead the traced run reports."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.count("trace.probe_s", time.perf_counter() - t0)

    def collect(self, df) -> list:
        with self.tracer.span("exec.collect"), self.group(f"action.{len(self.groups)}"):
            rows = df.collect()
        if self.tracer.enabled:
            with self.probing():
                for k, v in self.probes.catalyst_phases_ms(df).items():
                    self.count(f"catalyst.{k}_ms", v)
        return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "boxoffice_spark", "__init__.py")):
        print(f"engine package boxoffice_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import datagen
    import probes

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        _pin_environment(work)
        host0 = probes.host_markers()
        t0 = time.perf_counter()
        manifest = datagen.generate(args.seed, os.path.join(work, "inputs"))
        gen_s = time.perf_counter() - t0
        try:
            return _run(args, manifest, gen_s, host0, probes)
        finally:
            _stop_spark()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _stop_spark() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run(args, manifest, gen_s, host0, probes) -> int:
    # set-up starts at the engine's import: the interpreter's start, the
    # benchmark's own imports and input generation are not the engine's
    setup_t0 = time.perf_counter()
    setup_cpu0 = probes.driver_cpu_s()
    from boxoffice_spark import agent, registry, session

    import_s = time.perf_counter() - setup_t0
    tracer = probes.Tracer(args.trace == 1)
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    specs = registry.load_all()
    load_all_s = time.perf_counter() - t0
    ctx = Context(spark, specs, manifest, tracer, probes)
    wl = WORKLOADS[args.workload](ctx)
    # the fixed warm-up: the session's first Spark job, then the workload's
    # warm-up ops on the run's own inputs
    spark.range(1).collect()
    for i in range(wl.warm_up_ops):
        ctx.start_op(i)
        wl.op(i)
    setup_wall_s = time.perf_counter() - setup_t0
    tree = probes.ProcessTree(probes.jvm_pid(spark))
    cpu0 = tree.cpu_s()
    # setup_s is set-up's CPU seconds (the driver since set-up began, plus
    # the JVM, which set-up started), for the reason cpu_s_per_op is CPU:
    # on the shared host the wall time of set-up follows the neighbours'
    # load (two sets of ten runs of the same code read 32.4 s and 41.5 s),
    # while work moved into set-up still shows in its CPU seconds
    setup_cpu_s = cpu0 - setup_cpu0

    lat: list[float] = []
    traced: list[dict] = []
    errors = 0
    max_ops = len(manifest["ingest_days"])  # daily runs out of days first
    deadline = time.perf_counter() + args.seconds
    with probes.wrapped(tracer, agent, "register_views", "tables.register_views"):
        for i in range(wl.warm_up_ops, max_ops):
            if time.perf_counter() >= deadline:
                break
            ctx.start_op(i)
            before = probes.jvm_gc_s(spark) if tracer.enabled else 0.0
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    wl.op(i)
            except Exception:
                traceback.print_exc()
                errors += 1
            dt_s = time.perf_counter() - t0
            lat.append(dt_s)
            if tracer.enabled:
                traced.append(_op_record(ctx, probes, dt_s, before))
    cpu1 = tree.cpu_s()
    host1 = probes.host_markers()

    ok = wl.check()
    n = len(lat)
    failed = sum(1 for i in range(wl.warm_up_ops, wl.warm_up_ops + n) if not ok.get(i, False))
    markers = {
        "spark_graft_cpus": SPARK_GRAFT_CPUS,
        "spark_graft_driver_mem": SPARK_GRAFT_DRIVER_MEM,
        "steal_jiffies_delta": host1["steal_jiffies"] - host0["steal_jiffies"],
        "loadavg_1m_before": host0["loadavg_1m"],
        "loadavg_1m_after": host1["loadavg_1m"],
        "cpu_psi_avg60": host1["cpu_psi_avg60"],
    }
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "trace": args.trace,
                "ops": n,
                "latencies_s": lat,
                "latency_p50_s": statistics.median(lat),
                "op_exceptions": errors,
                "error_rate": failed / n,
                "latency_p90_s": statistics.quantiles(lat, n=10)[-1] if n >= 100 else "omitted: needs 100 ops",
                "input_generation_s": gen_s,
                "setup_wall_s": setup_wall_s,
                "setup_breakdown_s": {
                    "import_engine": import_s,
                    "get_spark": get_spark_s,
                    "load_all": load_all_s,
                    "first_job_and_warm_up": setup_wall_s - import_s - get_spark_s - load_all_s,
                },
                "contention": markers,
                "spans": len(tracer.spans),
                "part_latencies_s": getattr(wl, "part_s", {}),
            }
        )
    )
    if args.trace == 0:
        values = {
            "cpu_s_per_op": (cpu1 - cpu0) / n,
            "peak_rss_mb": tree.peak_rss_mb(),
            "setup_s": setup_cpu_s,
        }
        units = END_TO_END_UNITS
    else:
        values = _layer_metrics(tracer, traced, get_spark_s, load_all_s, markers)
        units = PER_LAYER_UNITS
    print(
        json.dumps(
            {
                "correct": failed == 0 and all(ok.values()),
                "attempted": n,
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


def _op_record(ctx, probes, dt_s: float, gc_before: float) -> dict:
    """Counts at the op boundary: Spark jobs by group, JVM, caches."""
    spark = ctx.spark
    rec = {"op": ctx.op_id, "latency_s": dt_s, "counts": dict(ctx.counts)}
    rec.update(jobs=0, stages=0, tasks=0, action_job_wall_s=0.0, build_jobs=0)
    for g in ctx.groups:
        s = probes.job_group_stats(spark, g)
        rec["jobs"] += s["jobs"]
        rec["stages"] += s["stages"]
        rec["tasks"] += s["tasks"]
        if "/action." in g:
            rec["action_job_wall_s"] += s["job_wall_s"]
        if "/build." in g:
            rec["build_jobs"] += s["jobs"]
    rec["persisted_rdds"], rec["storage_mb"] = probes.cache_state(spark)
    rec["gc_s"] = probes.jvm_gc_s(spark) - gc_before
    rec["heap_used_mb"] = probes.jvm_heap_used_mb(spark)
    return rec


def _layer_metrics(tracer, traced, get_spark_s, load_all_s, markers) -> dict:
    """Per-layer values: for each traced op, the layer's span time (total,
    or self time where the name says so) and counts; each metric is the
    median over the traced ops. A layer the workload never enters reads 0."""
    totals: dict[str, dict[str, float]] = {r["op"]: {} for r in traced}
    selfs: dict[str, dict[str, float]] = {r["op"]: {} for r in traced}
    for s, self_s in zip(tracer.spans, tracer.self_times()):
        if s["op"] in totals:
            d = s["end"] - s["start"]
            totals[s["op"]][s["name"]] = totals[s["op"]].get(s["name"], 0.0) + d
            selfs[s["op"]][s["name"]] = selfs[s["op"]].get(s["name"], 0.0) + self_s

    def med(f) -> float:
        return statistics.median([f(r) for r in traced]) if traced else 0.0

    def total(name):
        return lambda r: totals[r["op"]].get(name, 0.0)

    def count(name):
        return lambda r: r["counts"].get(name, 0.0)

    def action_s(r):
        return total("exec.collect")(r) + total("io.overwrite_partitions")(r)

    def build_s(r):
        return sum(total(f"queries.{q}.build")(r) for q in CURATION_QUERIES)

    def ingest_rate(r):
        t = total("ingest")(r)
        return count("ingest.rows")(r) / t if t else 0.0

    return {
        "session.get_spark_s": get_spark_s,
        "registry.load_all_s": load_all_s,
        "tables.register_views_s": med(total("tables.register_views")),
        "agent.run_sql_self_s": med(lambda r: selfs[r["op"]].get("agent.run_sql", 0.0)),
        "agent.validate_sql_self_s": med(lambda r: selfs[r["op"]].get("agent.validate_sql", 0.0)),
        **{f"catalyst.{p}_ms": med(count(f"catalyst.{p}_ms")) for p in ("analysis", "optimization", "planning")},
        **{f"queries.{q}.build_s": med(total(f"queries.{q}.build")) for q in CURATION_QUERIES},
        "operators.build_jobs": med(lambda r: r["build_jobs"]),
        "operators.build_s_per_job": med(lambda r: build_s(r) / r["build_jobs"] if r["build_jobs"] else 0.0),
        "caching.persisted_rdds": med(lambda r: r["persisted_rdds"]),
        "caching.storage_mb": med(lambda r: r["storage_mb"]),
        "upsert.merge_upsert_s": med(total("upsert.merge_upsert")),
        "io.overwrite_partitions_s": med(total("io.overwrite_partitions")),
        **{f"io.{k}": med(count(f"io.{k}")) for k in ("bytes_written", "files_written", "bytes_per_input_byte")},
        "ingest.rows_per_s": med(ingest_rate),
        "exec.action_s": med(action_s),
        "exec.jobs": med(lambda r: r["jobs"]),
        "exec.stages": med(lambda r: r["stages"]),
        "exec.tasks": med(lambda r: r["tasks"]),
        "exec.driver_gap_s": med(lambda r: action_s(r) - r["action_job_wall_s"]),
        "jvm.gc_s": med(lambda r: r["gc_s"]),
        "jvm.heap_used_mb": med(lambda r: r["heap_used_mb"]),
        "host.steal_jiffies": markers["steal_jiffies_delta"],
        "host.loadavg_1m": markers["loadavg_1m_after"],
        "host.cpu_psi_avg60": markers["cpu_psi_avg60"],
        "trace.latency_p50_s": med(lambda r: r["latency_s"]),
        "trace.overhead_s": med(count("trace.probe_s")),
        "trace.spans": len(tracer.spans),
    }


if __name__ == "__main__":
    sys.exit(main())
