"""Session-level invariants: scoped caches survive a cleared cache, and
string case mapping does not follow the JVM's default locale."""

from __future__ import annotations

from pyspark import StorageLevel


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
