"""Physical sink semantics (S8 append, S12 dynamic partition overwrite)
— exercised against a tmp dir since the query contract only covers
logical plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from boxoffice_spark import io as bio
from boxoffice_spark.operators.upsert import merge_upsert
from boxoffice_spark.tables import table


def test_append_then_count(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders_sink")
    o = table(spark, sf_dir, "orders").limit(100)
    bio.append(o, out)
    bio.append(o, out)
    assert spark.read.parquet(out).count() == 200


def test_dynamic_partition_overwrite_is_idempotent(spark, sf_dir, tmp_path):
    out = str(tmp_path / "fact")
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_shipdate")
        .withColumn("dt", F.to_date("l_shipdate"))
    )
    jan = li.filter(F.col("l_shipdate").between("1996-01-01", "1996-01-31"))
    bio.append(li, out, partition_by=["dt"])
    total_before = spark.read.parquet(out).count()

    # backfill January with adjusted prices, twice — count must not change
    adjusted = jan.withColumn("l_extendedprice", F.col("l_extendedprice") * 0.9)
    bio.overwrite_partitions(adjusted, out, ["dt"])
    bio.overwrite_partitions(adjusted, out, ["dt"])
    after = spark.read.parquet(out)
    assert after.count() == total_before
    # only January rows changed
    jan_sum = (
        after.filter(F.col("dt").between("1996-01-01", "1996-01-31"))
        .agg(F.sum("l_extendedprice"))
        .collect()[0][0]
    )
    jan_expected = adjusted.agg(F.sum("l_extendedprice")).collect()[0][0]
    assert jan_sum == pytest.approx(jan_expected)
    # untouched partition spot-check
    feb_cnt = after.filter(F.col("dt").between("1996-02-01", "1996-02-29")).count()
    assert feb_cnt == li.filter(F.col("l_shipdate").between("1996-02-01", "1996-02-29")).count()


def test_merge_upsert_properties(spark, sf_dir):
    """Upsert invariants: updated keys take new values, unmatched old rows
    survive, fresh keys insert, key-uniqueness holds."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    new = spark.createDataFrame(
        [(0, -1.0), (999999999, -2.0)], "o_orderkey long, o_totalprice double"
    )
    merged = merge_upsert(o, new, ["o_orderkey"])
    assert merged.count() == o.count() + 1
    assert merged.filter("o_orderkey = 0").collect()[0].o_totalprice == -1.0
    assert merged.filter("o_orderkey = 999999999").collect()[0].o_totalprice == -2.0
    assert merged.groupBy("o_orderkey").count().filter("count > 1").count() == 0


def test_partition_pruning_on_read(spark, sf_dir, tmp_path):
    """A date-partitioned fact table must prune untouched partitions at scan
    time (PartitionFilters in the plan) — the read-side payoff of S12's
    partition layout, and the property that turns a 100 TB scan into a
    one-day scan for the dashboard's date-range queries."""
    out = str(tmp_path / "pruned_fact")
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_shipdate")
        .withColumn("dt", F.to_date("l_shipdate"))
    )
    bio.append(li, out, partition_by=["dt"])
    read = spark.read.parquet(out).filter(F.col("dt") == "1996-01-15")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "1996-01-15" in plan.split("PartitionFilters")[1].split("]")[0], plan
    # and the filter must NOT degrade to a post-scan data filter only
    assert read.count() == li.filter(F.col("dt") == "1996-01-15").count()


def test_compaction_reduces_file_count(spark, sf_dir, tmp_path):
    """Micro-batch appends accrete small files; compact() must rewrite to
    the computed target count without changing the data."""
    out = str(tmp_path / "fragmented")
    o = table(spark, sf_dir, "orders").limit(500)
    for _ in range(5):  # five appends -> many small files
        bio.append(o.repartition(4), out)
    import glob
    before_files = len(glob.glob(out + "/*.parquet"))
    before = sorted(map(tuple, spark.read.parquet(out).collect()))

    n = bio.compact(spark, out, target_file_bytes=10 * 1024 * 1024)
    after_files = len(glob.glob(out + "/*.parquet"))
    assert before_files == 20
    assert after_files == n <= 2  # tiny dataset -> one or two target files
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before


def test_compaction_partitioned_few_files_per_dir(spark, sf_dir, tmp_path):
    """With partition_by, each partition directory must end up with ~1 file
    (regression: a plain repartition(n) spread every partition value over
    all n tasks, emitting up to n files per directory)."""
    import glob

    out = str(tmp_path / "bydate")
    o = table(spark, sf_dir, "orders").limit(2000).withColumn(
        "om", F.month("o_orderdate")
    )
    for _ in range(3):
        o.repartition(4).write.partitionBy("om").mode("append").parquet(out)
    before = sorted(map(tuple, spark.read.parquet(out).collect()))

    bio.compact(spark, out, target_file_bytes=10 * 1024 * 1024, partition_by=["om"])
    for d in glob.glob(out + "/om=*"):
        files = glob.glob(d + "/*.parquet")
        assert len(files) <= 2, f"{d} still fragmented: {len(files)} files"
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == before


def test_observed_quality_metrics_piggyback_the_scan(spark, sf_dir):
    """Observation metrics ride the business query's own scan — the
    zero-extra-pass form of the dq_* rule suite (at 100 TB a separate
    quality scan doubles the read). Observed counters must equal the
    standalone aggregation exactly."""
    from pyspark.sql import Observation

    li = table(spark, sf_dir, "lineitem")
    obs = Observation("dq")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("l_quantity") <= 0, 1)).alias("nonpos_qty"),
        F.count(F.when(F.col("l_extendedprice").isNull(), 1)).alias("null_price"),
    )
    # the *business* job is the only action that runs
    assert observed.groupBy("l_returnflag").count().count() > 0
    m = obs.get
    exact = li.agg(
        F.count(F.lit(1)),
        F.count(F.when(F.col("l_quantity") <= 0, 1)),
        F.count(F.when(F.col("l_extendedprice").isNull(), 1)),
    ).collect()[0]
    assert (m["n_rows"], m["nonpos_qty"], m["null_price"]) == tuple(exact)
