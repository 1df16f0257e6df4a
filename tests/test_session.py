"""Session-level invariants: scoped caches survive a cleared cache, string
case mapping does not follow the JVM's default locale, partition
discovery lists with one task per core, and Tungsten consumers take 4 MiB
pages without losing rows larger than a page."""

from __future__ import annotations

import hashlib

from pyspark import StorageLevel
from pyspark.sql import functions as F

from tools import measure

LISTING_PARALLELISM = "spark.sql.sources.parallelPartitionDiscovery.parallelism"


def test_scoped_persist_repersists_after_clear_cache(spark):
    """clearCache() drops the cache under a live scoped handle; the next
    scoped_persist of the same plan must cache it again, not hand back the
    uncached handle."""
    from boxoffice_spark.functions.caching import scoped_persist

    df = spark.range(10).selectExpr("id * 2 AS x")
    first = scoped_persist(df, "test_session.clear_cache")
    assert first.storageLevel != StorageLevel.NONE
    spark.catalog.clearCache()
    again = scoped_persist(spark.range(10).selectExpr("id * 2 AS x"), "test_session.clear_cache")
    assert again.storageLevel != StorageLevel.NONE
    again.unpersist()


def test_get_spark_pins_locale(spark):
    """Under a Turkish default locale the JVM lowers 'I' to a dotless 'ı';
    get_spark pins the root locale so lower() agrees with Python's and
    DuckDB's case mapping."""
    from boxoffice_spark.session import get_spark

    locale = spark._jvm.java.util.Locale
    old = locale.getDefault()
    try:
        locale.setDefault(locale.forLanguageTag("tr-TR"))
        get_spark()
        assert spark.sql("SELECT lower('Iç') AS s").first().s == "Iç".lower()
    finally:
        locale.setDefault(old)


def test_partition_discovery_parallelism_is_the_core_count(spark):
    assert spark.conf.get(LISTING_PARALLELISM) == str(spark.sparkContext.defaultParallelism)


def _listing_tasks(spark, group: str, resolve):
    """Run ``resolve()`` under ``group``; return its DataFrame and the task
    count of each partition-discovery listing job it launched."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        df = resolve()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store, tracker = sc._jsc.sc().statusStore(), sc.statusTracker()
    tasks = []
    for jid in tracker.getJobIdsForGroup(group):
        desc = store.job(jid).description()
        if desc.isDefined() and desc.get().startswith("Listing leaf files"):
            tasks.append(sum(tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(jid).stageIds))
    return df, tasks


def test_partition_discovery_lists_with_one_task_per_core(spark, tmp_path):
    """40 partition directories exceed the listing threshold (32), so each
    resolution lists them in a Spark job; that job runs at most one task
    per core, where Spark's default runs one per directory."""
    path = str(tmp_path / "t")
    spark.range(400).selectExpr("id", "CAST(id % 40 AS INT) AS part").coalesce(1).write.partitionBy(
        "part"
    ).parquet(path)
    cores = spark.sparkContext.defaultParallelism
    resolvers = {
        "read": lambda: spark.read.parquet(path),
        "sql": lambda: spark.sql(f"SELECT id, part FROM parquet.`{path}`"),
    }
    for how, resolve in resolvers.items():
        df, tasks = _listing_tasks(spark, f"test_session.listing.{how}", resolve)
        assert len(tasks) == 1, how  # one listing job per resolution
        assert tasks[0] <= cores, (how, tasks)
        assert dict(df.dtypes) == {"id": "bigint", "part": "int"}, how
        rows = df.collect()
        assert sorted((r.id, r.part) for r in rows) == [(i, i % 40) for i in range(400)], how


def test_tungsten_page_is_4_mib(spark):
    assert spark._jsc.sc().env().memoryManager().pageSizeBytes() == 4 * 2**20


def test_small_aggregate_holds_one_small_page(spark):
    """A hash aggregate allocates a whole page on its first row; with
    Spark's default page size a 1,000-row groupBy held 64 MiB."""
    t = measure.time_query(
        spark,
        "test_session.small_agg",
        lambda: spark.range(0, 1000, 1, 1).groupBy((F.col("id") % 10).alias("k")).count(),
        runs=1,
    )
    assert 0 < t.peak_exec_mb <= 8


def test_row_larger_than_a_page_survives_group_by_and_sort(spark):
    """A 6 MiB row does not fit a 4 MiB page; the hash map and the sorter
    then allocate a page of the row's own size."""
    n = 6 * 2**20 // 4
    big = spark.range(0, 3, 1, 1).select(
        "id", F.expr(f"repeat(concat('ab', CAST(id AS STRING)), {n})").alias("s")
    )
    want = {i: hashlib.md5((f"ab{i}" * n).encode()).hexdigest() for i in range(3)}
    grouped = big.groupBy("s").agg(F.max("id").alias("id")).select("id", F.md5("s").alias("h"))
    assert {r.id: r.h for r in grouped.collect()} == want
    ordered = big.orderBy(F.desc("s")).select("id", F.md5("s").alias("h"), F.length("s").alias("n"))
    assert [(r.id, r.h, r.n) for r in ordered.collect()] == [(i, want[i], 3 * n) for i in (2, 1, 0)]


def test_multi_page_aggregate_is_exact(spark):
    """500k groups fill several 4 MiB pages in one task."""
    n = 500_000

    def agg():
        return spark.range(0, n, 1, 1).groupBy("id").agg(F.sum(F.col("id") * 3).alias("s"))

    assert measure.time_query(spark, "test_session.multi_page_agg", agg, runs=1).peak_exec_mb > 4
    row = agg().agg(F.count("*").alias("c"), F.sum("s").alias("t")).first()
    assert (row.c, row.t) == (n, 3 * n * (n - 1) // 2)
