"""The measurement core (tools/measure.py) and the inflater the growth probe
measures on (tools/sf1_probe.generate)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

from boxoffice_spark.functions import caching
from tools import measure, sf1_probe

REPO = Path(__file__).resolve().parents[1]


def _marker_job(sc, group: str) -> int:
    """Run one tiny job under its own group and return its job id."""
    try:
        sc.setJobGroup(group, group)
        sc.parallelize([1]).count()
        (jid,) = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return jid


def test_time_query_returns_every_run(spark):
    t = measure.time_query(spark, "test_measure.runs", lambda: spark.range(100), runs=3)
    assert len(t.build) == len(t.exec) == 3
    assert t.cold == t.exec[0]
    assert t.warm == min(t.exec)
    assert t.total == min(b + e for b, e in zip(t.build, t.exec))


@pytest.mark.parametrize("fresh", [True, False])
def test_fresh_releases_scoped_caches(spark, fresh):
    scope = "test_measure.fresh"
    caching.release_all()
    alive, handles = [], []

    def build():
        alive.append(dict(caching._SCOPED))
        handles.append(caching.scoped_persist(spark.range(50).selectExpr("id * 2 AS x"), scope))
        return handles[-1]

    measure.time_query(spark, "test_measure.fresh", build, runs=2, fresh=fresh)
    caching.release_all()
    if fresh:
        assert alive == [{}, {}]
    else:
        assert alive[1] == {scope: handles[0]}
        assert handles[1] is handles[0]


def test_every_timed_job_is_in_the_query_group(spark):
    sc = spark.sparkContext
    name = "test_measure.group"

    def build():
        spark.range(3).count()  # a job launched while building
        return spark.range(10)

    lo = _marker_job(sc, "test_measure.lo")
    measure.time_query(spark, name, build, runs=2)
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    hi = _marker_job(sc, "test_measure.hi")
    timed = set(range(lo + 1, hi))
    assert len(timed) >= 4  # one build job and one sink job per run
    assert set(sc.statusTracker().getJobIdsForGroup(name)) == timed


def test_time_query_counts_jobs_stages_and_tasks(spark):
    """4 map tasks shuffled into 3 partitions: under AQE the map stage runs
    as its own job, then the result job runs the 3 reduce tasks and skips
    the already-computed map stage."""
    name = "test_measure.counts"
    t = measure.time_query(spark, name, lambda: spark.range(0, 100, 1, 4).repartition(3), runs=2)
    assert (t.jobs, t.stages, t.tasks) == (4, 4, 14)
    assert t.peak_exec_mb == 0  # a plain repartition holds no execution memory
    # a later call under the same name counts only its own jobs
    t = measure.time_query(spark, name, lambda: spark.range(0, 100, 1, 4), runs=1)
    assert (t.jobs, t.stages, t.tasks) == (1, 1, 4)
    # an aggregate holds its hash map's page
    t = measure.time_query(spark, name, lambda: spark.range(0, 100, 1, 1).groupBy("id").count(), runs=1)
    assert t.peak_exec_mb > 0


def test_peak_memory_skips_evicted_stages():
    """Past spark.ui.retainedStages the status store evicts skipped stages
    first, so a job's stage ids can name a stage the store no longer has.
    Needs its own SparkContext with a small retention, so it runs in a
    subprocess."""
    code = (
        "from pyspark.sql import SparkSession\n"
        "from tools import measure\n"
        "spark = (SparkSession.builder.master('local[2]').config('spark.ui.enabled', 'false')\n"
        "         .config('spark.ui.retainedStages', '20').getOrCreate())\n"
        "for i in range(15):\n"
        "    t = measure.time_query(spark, f'q{i}', lambda: spark.range(0, 100, 1, 4).repartition(3))\n"
        "assert (t.jobs, t.stages, t.tasks, t.peak_exec_mb) == (4, 4, 14, 0), t\n"
        "spark.stop()\n"
    )
    env = {**os.environ, "SPARK_LOCAL_IP": "127.0.0.1"}
    proc = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]


@pytest.mark.parametrize(
    "steals, kept",
    [
        ([10], 0),  # one pass
        ([10, 5], 0),  # both trusted: pass 2 is JIT-warm, keep pass 1
        ([10, 900], 0),  # only pass 1 trusted
        ([900, 10], 1),  # only pass 2 trusted
        ([900, 600], 0),  # neither trusted: lower steal does not win
        ([None, None], 0),  # steal unknown
        ([None, 10], 1),  # pass 1 unknown counts as untrusted
    ],
)
def test_bench_kept_pass(steals, kept):
    import bench

    assert bench.kept_pass([{"steal_delta": s} for s in steals]) == kept


def test_contention_snapshot_and_trust():
    snap = measure.contention()
    assert isinstance(snap["steal_jiffies"], int)  # every Linux host has /proc/stat
    assert measure.steal_delta(snap, snap) == 0
    assert measure.trusted(measure.steal_delta({}, snap)) is False
    assert measure.trusted(0) is True
    assert measure.trusted(measure.STEAL_TRUST_JIFFIES) is False


_FACTS = {
    "lineitem": "l_orderkey, l_linenumber",
    "orders": "o_orderkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "part": "p_partkey",
    "events": "event_id",
}


def _rows(con, path: str) -> int:
    return con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]


def _keys(con, path: str, key: str) -> int:
    return con.execute(f"SELECT count(*) FROM (SELECT DISTINCT {key} FROM read_parquet('{path}'))").fetchone()[0]


def test_inflater_doubles_facts_and_copies_dimensions(sf_dir, tmp_path):
    dst = str(tmp_path / "x2")
    sf1_probe.generate(sf_dir, dst, 2)
    con = duckdb.connect()
    for table, key in _FACTS.items():
        src, out = f"{sf_dir}/{table}.parquet", f"{dst}/{table}.parquet"
        assert _rows(con, out) == 2 * _rows(con, src), table
        # no copy's key collides with another copy's (the source itself
        # repeats a few (l_orderkey, l_linenumber) pairs)
        assert _keys(con, out, key) == 2 * _keys(con, src, key), table
    for table in ["region", "nation", "customer", "supplier"]:
        assert Path(f"{dst}/{table}.parquet").read_bytes() == Path(f"{sf_dir}/{table}.parquet").read_bytes()
    # copy 1 carries each source vector rotated left by one place
    src = dict(con.execute(f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')").fetchall())
    copied = dict(
        con.execute(
            f"SELECT vec_id - 10000000, embedding FROM read_parquet('{dst}/embeddings.parquet')"
            " WHERE vec_id >= 10000000"
        ).fetchall()
    )
    assert copied.keys() == src.keys()
    assert all(copied[k] == v[1:] + v[:1] for k, v in src.items())
    assert any(copied[k] != v for k, v in src.items())


def test_inflater_regenerates_when_copies_change(sf_dir, tmp_path):
    dst = str(tmp_path / "inflated")
    sf1_probe.generate(sf_dir, dst, 2)
    sf1_probe.generate(sf_dir, dst, 3)
    con = duckdb.connect()
    assert _rows(con, f"{dst}/lineitem.parquet") == 3 * _rows(con, f"{sf_dir}/lineitem.parquet")
    stamp = json.loads(Path(dst, sf1_probe.STAMP).read_text())
    assert stamp["copies"] == 3


def test_inflater_refuses_more_copies_than_vector_dimensions(sf_dir, tmp_path):
    # the fixture's vectors have 64 dimensions: copy 64 would rotate each
    # one back onto copy 0
    dst = tmp_path / "x65"
    with pytest.raises(sf1_probe.RotationAliasError, match="65 copies .* 64 dimensions"):
        sf1_probe.generate(sf_dir, str(dst), 65)
    assert not dst.exists()


def test_harnesses_import_without_starting_spark():
    modules = ["bench"] + [f"tools.{p.stem}" for p in sorted((REPO / "tools").glob("*.py"))]
    code = (
        "import importlib\n"
        f"for m in {modules!r}: importlib.import_module(m)\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._active_spark_context is None\n"
        "assert SparkContext._gateway is None\n"
    )
    proc = subprocess.run([sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr
