"""Per-query micro-bench + plan dump.

Usage:
    python tools/bench_one.py QUERY [QUERY ...] [--plan OUTDIR] [--runs N]

Times a subset of queries with bench.py's methodology (``measure.time_query``:
noop sink, run-1 cold / best-of-N warm, build timed separately) so an
optimization loop doesn't pay for the whole headline suite. Each line also
gives the jobs, stages and tasks the runs launched (builds included) and
the largest stage's peak execution memory. With
``--plan OUTDIR`` the ``explain('formatted')`` text of each query is also
written to ``OUTDIR/<query>.txt`` (the plan artifacts under plans/).
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import measure  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--plan", default=None, help="directory for explain('formatted') dumps")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from boxoffice_spark.registry import load_all

    spark = measure.start_session("boxoffice_spark_bench_one")
    specs = load_all()

    for name in args.queries:
        spec = specs[name]
        t = measure.time_query(spark, name, lambda: spec.fn(spark, sf_dir), runs=args.runs)
        print(
            f"{name}: warm={t.warm:.3f} cold={t.cold:.3f} "
            f"build={min(t.build):.3f} runs={[round(r, 3) for r in t.exec]} "
            f"jobs={t.jobs} stages={t.stages} tasks={t.tasks} "
            f"peak_exec_mb={t.peak_exec_mb:.1f} steal+{t.steal_delta}",
            flush=True,
        )
        if args.plan:
            os.makedirs(args.plan, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                spec.fn(spark, sf_dir).explain("formatted")
            with open(os.path.join(args.plan, f"{name}.txt"), "w") as fh:
                fh.write(buf.getvalue())
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
