"""Session-level invariants: scoped caches survive a cleared cache, string
case mapping does not follow the JVM's default locale, and partition
discovery lists with one task per core."""

from __future__ import annotations

from pyspark import StorageLevel

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
