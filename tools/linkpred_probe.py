"""Stage-attributed link-prediction scale probe.

Separates g_link_prediction's cap-independent EDGE BUILD (distinct
co-purchase pair shuffle over lineitem) from the capped wedge/score TAIL
that `max_center_degree` bounds — the decomposition behind
``SCALE_sf100.json: r11_linkpred_attribution_note``:

- ``stats`` mode prints the co-purchase graph's invariants (edge count,
  node count, degree profile, centers under a cap). On the chained-
  inflater decades the graph is byte-identical at every scale (the
  inflater clones basket part-sets verbatim), which is why the capped
  tail cannot grow across decades on this fixture.
- ``tail`` mode times the full query once cold (edge build + tail), then
  the tail alone over the operator's own warmed scoped cache, min-of-N,
  for cap=64 (the query's contract) and cap=8 (vacuous on these
  fixtures: zero nodes have degree <= 8).

Probe-harness note, learned the hard way: do NOT persist the probe's own
edge frame. The operator's internal ``scoped_persist`` of its alias-only
canonical edge select canonicalizes to the SAME plan, so Spark's cache
manager shares one entry between the two handles and the operator's
scope release drops the probe's cache too (observed as the "warm" count
silently re-running the 13 s edge build). Warming the operator's own
cache sidesteps the collision; the production query persists nothing
external, so this is a harness artifact, not an operator bug.

Usage:
    python tools/linkpred_probe.py stats SF_DIR [SF_DIR ...]
    python tools/linkpred_probe.py tail SF_DIR [--reps=N]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import measure  # noqa: E402


def main() -> None:
    mode = sys.argv[1]
    dirs = [a for a in sys.argv[2:] if not a.startswith("--")]
    reps = 3
    for a in sys.argv[2:]:
        if a.startswith("--reps"):
            reps = int(a.split("=", 1)[1])

    from pyspark.sql import functions as F

    # the shipped edge builder, so the probe always measures the production kernel
    from boxoffice_spark.queries.graph import _copurchase_edges

    spark = measure.start_session("linkpred_probe")

    if mode == "stats":
        for sf_dir in dirs:
            e = _copurchase_edges(spark, sf_dir)
            deg = (
                e.select(F.col("u").alias("n"))
                .unionAll(e.select(F.col("v").alias("n")))
                .groupBy("n")
                .count()
            )
            row = deg.agg(
                F.count("*").alias("nodes"),
                F.max("count").alias("max_deg"),
                F.expr("percentile_approx(count, 0.5)").alias("med_deg"),
                F.sum(F.when(F.col("count") <= 64, 1).otherwise(0)).alias("centers_cap64"),
                F.sum(F.when(F.col("count") <= 8, 1).otherwise(0)).alias("centers_cap8"),
            ).first()
            print(sf_dir, "n_edges", e.count(), dict(row.asDict()), flush=True)
    elif mode == "tail":
        from boxoffice_spark.operators.graph import link_prediction_scores

        (sf_dir,) = dirs
        edges = _copurchase_edges(spark, sf_dir)

        def scores(cap: int):
            return link_prediction_scores(edges, "u", "v", max_center_degree=cap, k=30)

        t = measure.time_query(spark, "linkpred_probe.cold", lambda: scores(64), runs=1)
        print(
            f"COLD_FULL (edge build + tail, cap=64): {t.total:.3f}s steal+{t.steal_delta}",
            flush=True,
        )
        for cap in (64, 8):
            t = measure.time_query(spark, f"linkpred_probe.cap{cap}", lambda: scores(cap), runs=reps)
            runs = [round(b + e, 3) for b, e in zip(t.build, t.exec)]
            print(f"# cap={cap} runs={runs} steal+{t.steal_delta}", flush=True)
            print(f"TAIL dir={sf_dir} cap={cap} warm={t.total:.3f}", flush=True)
    else:
        raise SystemExit(f"unknown mode {mode!r} (use: stats | tail)")
    spark.stop()


if __name__ == "__main__":
    main()
