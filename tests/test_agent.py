"""The agent's SQL surface registers the fixture views once per session:
a warm ``register_views`` launches no Spark job, and a dropped view, a view
replaced by another caller, a rewritten table and a switched ``sf_dir`` each
give the fresh answer on the next ``run_sql``."""

from __future__ import annotations

import shutil

import pyarrow.parquet as pq
import pytest

from boxoffice_spark import agent
from boxoffice_spark.tables import TABLE_NAMES, describe_tables, register_views, table


def _count(spark, sf_dir, name):
    return agent.run_sql(spark, sf_dir, f"SELECT count(*) AS n FROM {name}").first().n


def _copy_fixture(src, dst):
    dst.mkdir()
    for name in TABLE_NAMES:
        shutil.copyfile(f"{src}/{name}.parquet", dst / f"{name}.parquet")
    return str(dst)


def _rewrite_head(sf_dir, name, n_rows):
    """Rewrite one table in place with only its first ``n_rows`` rows."""
    path = f"{sf_dir}/{name}.parquet"
    pq.write_table(pq.read_table(path).slice(0, n_rows), path)


def test_warm_register_views_launches_no_job(spark, sf_dir):
    sc = spark.sparkContext
    register_views(spark, sf_dir)
    try:
        sc.setJobGroup("test_agent.warm", "warm register_views")
        register_views(spark, sf_dir)
        agent.run_sql(spark, sf_dir, "SELECT * FROM orders")
        jobs = sc.statusTracker().getJobIdsForGroup("test_agent.warm")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []


def test_replaced_view_is_restored(spark, sf_dir):
    want = table(spark, sf_dir, "orders").count()
    assert _count(spark, sf_dir, "orders") == want
    spark.range(3).toDF("o_orderkey").createOrReplaceTempView("orders")
    assert _count(spark, sf_dir, "orders") == want


def test_dropped_view_is_restored(spark, sf_dir):
    want = table(spark, sf_dir, "nation").count()
    assert _count(spark, sf_dir, "nation") == want
    spark.catalog.dropTempView("nation")
    assert _count(spark, sf_dir, "nation") == want


def test_rewritten_table_is_reread(spark, sf_dir, tmp_path):
    d = _copy_fixture(sf_dir, tmp_path / "sf")
    full = _count(spark, d, "customer")
    assert full > 3
    _rewrite_head(d, "customer", 3)
    assert _count(spark, d, "customer") == 3


def test_switching_sf_dir_repoints_views(spark, sf_dir, tmp_path):
    d = _copy_fixture(sf_dir, tmp_path / "sf")
    _rewrite_head(d, "region", 2)
    full = table(spark, sf_dir, "region").count()
    assert full != 2
    for _ in range(2):
        assert _count(spark, d, "region") == 2
        assert _count(spark, sf_dir, "region") == full


def test_missing_table_fails_loudly(spark, sf_dir, tmp_path):
    d = _copy_fixture(sf_dir, tmp_path / "sf")
    (tmp_path / "sf" / "events.parquet").unlink()
    with pytest.raises(Exception, match="events.parquet"):
        register_views(spark, d)


def test_describe_tables_matches_table_schemas(spark, sf_dir):
    got = [tuple(r) for r in describe_tables(spark, sf_dir).collect()]
    want = [
        (name, f.name, f.dataType.simpleString(), f.nullable)
        for name in TABLE_NAMES
        for f in table(spark, sf_dir, name).schema.fields
    ]
    assert got == want
