"""Run the benchmark on several seeds and report each metric's median and
spread (interquartile range over median, as statistics.quantiles gives
the quartiles).

    python3 perfbench/spread.py --workload daily --seeds 1-10

Runs are untraced and measure for BENCHMARK.json's ``run_seconds``.

For ``daily`` it also puts the spread of the uniform-op median next to the
spread of a mixed-part median: the median over the latencies of the op's
three parts (ingest, top-10 panel, rollup panel) pooled together, the kind
of statistic that jumps between part costs from one run to the next.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def spread(xs: list[float]) -> float:
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    here = os.path.dirname(os.path.abspath(__file__))
    run = os.path.join(here, "run.py")
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])
    values: dict[str, list[float]] = {}
    mixed: list[float] = []
    for seed in range(lo, hi + 1):
        cmd = [sys.executable, run, "--workload", args.workload, "--seed", str(seed),
               "--seconds", seconds, "--trace", "0"]
        p = subprocess.run(cmd, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        info, result = json.loads(lines[-2]), json.loads(lines[-1])
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        parts = info.get("part_latencies_s") or {}
        if parts:
            # timed ops only: each part's first entry is the warm-up op
            mixed.append(statistics.median([x for xs in parts.values() for x in xs[1:]]))
        print(json.dumps({"seed": seed, "correct": result["correct"], "ops": info["ops"],
                          "setup_wall_s": info["setup_wall_s"],
                          "latencies_s": info["latencies_s"], "contention": info["contention"],
                          **{k: v["value"] for k, v in result["metrics"].items()}}), flush=True)
    if len(values.get(next(iter(values), ""), [])) < 4:
        return 0
    for k, xs in values.items():
        print(f"{k}: median {statistics.median(xs):.6g} spread {spread(xs):.3f}")
    if len(mixed) >= 4:
        print(f"mixed-part median: median {statistics.median(mixed):.6g} spread {spread(mixed):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
