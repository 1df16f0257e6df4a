"""The benchmark's workloads. Each repeats one uniform op in a closed loop
(one client: an op starts when the previous one has finished) and checks
every op's output against DuckDB once the timed loop is over.

- ``daily``: one op is one day of the box-office service. The daily batch
  lands one day (keyed upsert, dynamic partition overwrite), then the
  dashboard loads its two panels for that day through the agent surface:
  the day's top-10 brands (``agent.run_sql``) and a segment rollup over a
  join (``agent.validate_sql``, the NL->SQL guardrail path).
- ``curation``: one op is one pass over four corpus-curation queries.

Op 0 is the fixed warm-up that ends set-up; timed ops are 1, 2, ...
"""

from __future__ import annotations

import datetime as dt
import decimal
import itertools
import math
import os
import time

import duckdb

KEYS = ["l_orderkey", "l_linenumber"]
CURATION_QUERIES = ("t_dedup_clusters", "g_pagerank_authority", "g_triangle_census_approx", "t_minhash_lsh_pairs")
# the approximate triangle census's allowed relative error against the exact
# count: p = 0.25 keeps about 7,000 of some 440,000 triangles here, and ten
# seeds measured errors within 3.5%
TRIANGLE_REL_ERR = 0.10


def rollup_sql(month: int) -> str:
    """Segment rollup over a three-way join, valid in Spark SQL and DuckDB.
    Money is summed as DECIMAL so both engines give the same digits."""
    return f"""
    SELECT c.c_mktsegment AS segment, n.n_name AS nation, COUNT(*) AS n_orders,
           SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE month(o.o_orderdate) = {month}
    GROUP BY ROLLUP (c.c_mktsegment, n.n_name)
    ORDER BY segment NULLS FIRST, nation NULLS FIRST"""


def top10_sql(rel: str, day: str) -> str:
    """The flagship-shaped panel: one day's top-10 brands by revenue."""
    return f"""
    SELECT p.p_brand AS brand,
           SUM(CAST(s.l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(s.l_discount AS DECIMAL(4,2)))) AS revenue
    FROM {rel} s JOIN part p ON s.l_partkey = p.p_partkey
    WHERE s.ship_dt = DATE '{day}'
    GROUP BY p.p_brand ORDER BY revenue DESC, brand LIMIT 10"""


def _cell(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, decimal.Decimal):
        return v.normalize()
    if isinstance(v, float):
        return round(v, 9) if math.isfinite(v) else repr(v)
    return v


def same_rows(got, want, ordered: bool = True) -> bool:
    """Row-by-row, cell-by-cell equality. Decimals compare by value and
    doubles to 9 decimal places; with ``ordered`` false the rows are
    compared as multisets."""
    a = [tuple(_cell(c) for c in r) for r in got]
    b = [tuple(_cell(c) for c in r) for r in want]
    if not ordered:
        a, b = sorted(a, key=repr), sorted(b, key=repr)
    return a == b


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    from boxoffice_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


class Daily:
    """One day of the box-office service: the daily batch lands one day,
    then the dashboard's two panels load."""

    name = "daily"
    # the service is long-lived: one op warms it before timing starts
    warm_up_ops = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.warehouse = ctx.manifest["standing_dir"]
        self.top10: dict[int, list] = {}
        self.rollup: dict[int, list] = {}
        # each part's latency in every op (warm-up included), so the run's
        # details can compare a median over the mixed parts with the op median
        self.part_s: dict[str, list[float]] = {"ingest": [], "top10_panel": [], "rollup_panel": []}

    def op(self, i: int) -> None:
        from boxoffice_spark import agent

        c = self.ctx
        t0 = time.perf_counter()
        with c.tracer.span("ingest"):
            self._ingest(i)
        t1 = time.perf_counter()
        sql = top10_sql(f"parquet.`{self.warehouse}`", c.manifest["ingest_days"][i]["day"])
        with c.tracer.span("agent.run_sql"):
            df = agent.run_sql(c.spark, c.manifest["data_dir"], sql)
        self.top10[i] = c.collect(df)
        t2 = time.perf_counter()
        with c.tracer.span("agent.validate_sql"):
            df = agent.validate_sql(c.spark, c.manifest["data_dir"], rollup_sql(c.manifest["rollup_month"]))
        self.rollup[i] = c.collect(df)
        t3 = time.perf_counter()
        for k, v in zip(self.part_s, (t1 - t0, t2 - t1, t3 - t2)):
            self.part_s[k].append(v)

    def _ingest(self, i: int) -> None:
        from pyspark.sql import functions as F

        from boxoffice_spark import io
        from boxoffice_spark.operators.upsert import merge_upsert

        c = self.ctx
        day = c.manifest["ingest_days"][i]
        with c.tracer.span("upsert.merge_upsert"):
            batch = c.spark.read.parquet(day["path"])
            touched = [F.lit(dt.date.fromisoformat(d)) for d in day["touched"]]
            standing = c.spark.read.parquet(self.warehouse).where(F.col("ship_dt").isin(*touched))
            merged = merge_upsert(standing, batch, KEYS)
        with c.tracer.span("io.overwrite_partitions"), c.group("action.write"):
            io.overwrite_partitions(merged, self.warehouse, ["ship_dt"])
        if c.tracer.enabled:
            with c.probing():
                self._count_written(day)

    def _count_written(self, day: dict) -> None:
        c = self.ctx
        files = [
            os.path.join(self.warehouse, f"ship_dt={d}", f)
            for d in day["touched"]
            for f in os.listdir(os.path.join(self.warehouse, f"ship_dt={d}"))
            if f.endswith(".parquet")
        ]
        nbytes = sum(os.path.getsize(f) for f in files)
        c.count("io.files_written", len(files))
        c.count("io.bytes_written", nbytes)
        c.count("io.bytes_per_input_byte", nbytes / day["bytes"])
        c.count("ingest.rows", day["rows"])

    def _state_sql(self, upto: int) -> str:
        """DuckDB recompute of the standing table after batches 0..upto:
        the initial rows, then each batch in order, last writer wins."""
        m = self.ctx.manifest
        days = m["ingest_days"]
        parts = [
            f"""SELECT *, CAST(l_shipdate AS DATE) AS ship_dt, -1 AS _src
                FROM read_parquet('{m["data_dir"]}/lineitem.parquet')
                WHERE CAST(l_shipdate AS DATE) >= DATE '{days[0]["day"]}' - INTERVAL {m["standing_days"]} DAY
                  AND CAST(l_shipdate AS DATE) < DATE '{days[0]["day"]}'"""
        ]
        parts += [f"SELECT *, {j} AS _src FROM read_parquet('{days[j]['path']}')" for j in range(upto + 1)]
        return f"""
        SELECT * EXCLUDE (_src, _rn) FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY {", ".join(KEYS)} ORDER BY _src DESC) AS _rn
            FROM ({" UNION ALL BY NAME ".join(parts)})
        ) WHERE _rn = 1"""

    def check(self) -> dict[int, bool]:
        m = self.ctx.manifest
        con = duck(m["data_dir"])
        want_rollup = con.sql(rollup_sql(m["rollup_month"])).fetchall()
        ok = {}
        for i, top10 in self.top10.items():
            con.execute(f"CREATE OR REPLACE VIEW st AS {self._state_sql(i)}")
            want = con.sql(top10_sql("st", m["ingest_days"][i]["day"])).fetchall()
            ok[i] = (
                len(want) > 0
                and same_rows(top10, want)
                and len(want_rollup) > 0
                and same_rows(self.rollup[i], want_rollup)
            )
        # the final standing table, every row and column, against the recompute
        cols = ", ".join(f'"{c}"' for c in m["standing_columns"])
        con.execute(f"CREATE OR REPLACE VIEW st AS {self._state_sql(max(self.top10))}")
        want = con.sql(f"SELECT {cols} FROM st").fetchall()
        got = con.sql(
            f"SELECT {cols} FROM read_parquet('{self.warehouse}/*/*.parquet', hive_partitioning = true, "
            "hive_types = {'ship_dt': DATE})"
        ).fetchall()
        if not same_rows(got, want, ordered=False):
            ok = {i: False for i in ok}
        return ok


class Curation:
    """One pass over the corpus-curation queries: near-dup clusters,
    PageRank, approximate triangle census, MinHash-LSH pairs."""

    name = "curation"
    # a curation pass is a batch job that starts a fresh process, so the
    # timed pass is the process's first: no warm-up op
    warm_up_ops = 0

    def __init__(self, ctx):
        self.ctx = ctx
        self.results: dict[int, dict[str, list]] = {}

    def op(self, i: int) -> None:
        c = self.ctx
        out = {}
        for q in CURATION_QUERIES:
            with c.tracer.span(f"queries.{q}.build"), c.group(f"build.{q}"):
                df = c.specs[q].fn(c.spark, c.manifest["data_dir"])
            out[q] = c.collect(df)
        self.results[i] = out

    def check(self) -> dict[int, bool]:
        c = self.ctx
        con = duck(c.manifest["data_dir"])
        want = {q: con.sql(c.specs[q].oracle).fetchall() for q in CURATION_QUERIES if c.specs[q].oracle}
        # the exact census of the co-purchase graph the approximate one samples
        tri_exact = con.sql(c.specs["g_triangle_census"].oracle).df().iloc[0]
        want_lsh = self._lsh_pairs(con)
        ok = {}
        for i, out in self.results.items():
            # oracle-backed queries match DuckDB row for row
            ok[i] = all(len(w) > 0 and same_rows(out[q], w, ordered=False) for q, w in want.items())
            # the hash-coin edge sample is within 5 sigma of p * |E|; the
            # sampled triangles are a subset of the exact ones, and the
            # 1/p^3 estimate is within TRIANGLE_REL_ERR of the exact count
            (tri,) = out["g_triangle_census_approx"]
            p, n_edges, n_tri = tri["p"], int(tri_exact["n_edges"]), int(tri_exact["n_triangles"])
            ok[i] = ok[i] and (
                abs(tri["n_edges_sampled"] - p * n_edges) <= 5 * math.sqrt(n_edges * p * (1 - p))
                and 0 < tri["n_triangles_sampled"] <= n_tri
                and tri["est_triangles"] == round(tri["n_triangles_sampled"] / p**3, 2)
                and abs(tri["est_triangles"] - n_tri) <= TRIANGLE_REL_ERR * n_tri
            )
            # the LSH pairs are exactly the pairs inside the planted groups,
            # each with its exact shingle Jaccard
            ok[i] = ok[i] and same_rows(out["t_minhash_lsh_pairs"], want_lsh, ordered=False)
        return ok

    def _lsh_pairs(self, con) -> list[tuple]:
        """Every pair inside a planted group, id-ordered, with the Jaccard
        of its word 3-gram sets under the engine's normalisation (lowercase,
        whitespace collapsed). Unrelated documents are random draws from a
        225-word vocabulary (datagen.VOCAB) and share almost no 3-gram, so
        these are all the pairs at Jaccard >= 0.5."""
        text = dict(con.sql("SELECT doc_id, text FROM documents").fetchall())

        def shingles(doc_id: int) -> set[str]:
            w = text[doc_id].lower().split()
            return {" ".join(w[k : k + 3]) for k in range(len(w) - 2)}

        pairs = []
        for g in self.ctx.manifest["planted_groups"]:
            for a, b in itertools.combinations(sorted(g), 2):
                sa, sb = shingles(a), shingles(b)
                pairs.append((a, b, len(sa & sb) / len(sa | sb)))
        return pairs


WORKLOADS = {w.name: w for w in (Daily, Curation)}
