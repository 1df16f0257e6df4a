"""Fixture-table access.

The driver generates TPC-H-ish parquet at ``/root/testdata/sf*/`` (see
TESTDATA.md). All queries load through here so the scan path is uniform:
``spark.read.parquet`` (columnar, predicate pushdown + column pruning via
Catalyst). At production scale these would be partitioned/bucketed external
tables; the query code is unchanged either way.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# DuckDB-oracle twin of table()'s events ingestion rule: whatever the
# fixture's physical timestamp type, Spark sees microsecond precision, so
# every oracle touching events.ts must truncate the same way. ONE shared
# definition — per-module copies drifted (temporal.py lacked it entirely
# until round 4) and this fragment is correctness-critical under a
# TIMESTAMP(NANOS) fixture generation.
EVENTS_US_SQL = """
    SELECT event_id, date_trunc('microseconds', ts) AS ts, user_id, event_type, value
    FROM events
"""


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a lazy DataFrame.

    Ingestion rule: ``events.ts`` is normalized to a session-timezone
    TIMESTAMP (session tz is pinned UTC, session.py) regardless of how the
    fixture was written, so event-time operators (``unix_micros`` deltas,
    windowing, streaming watermarks) see one type across fixture
    generations:

    - parquet TIMESTAMP(MICROS) without the UTC flag reads as
      ``timestamp_ntz`` -> cast to TIMESTAMP (wall-clock reinterpreted in
      the UTC session, so values are unchanged and match DuckDB's naive
      read exactly);
    - parquet TIMESTAMP(NANOS) under ``nanosAsLong`` reads as raw int64 ->
      integer ``div 1000`` (not double division, which loses precision past
      2^53) then ``timestamp_micros`` — the same ns->us truncation DuckDB
      applies.

    Either way it is a single pushdown-capable parquet scan.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        except Exception:
            # a TIMESTAMP(NANOS) footer cannot be read without the legacy
            # conf — flip it only when actually needed, so a micros fixture
            # session never has its parquet conf mutated as a side effect
            # (the flip is session-wide by nature; under a nanos fixture it
            # stays set, and only events gets the ns->us fixup below)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Repartition a compute-bound input up to full parallelism.

    Parquet splits follow row-group boundaries, so a small file (or any
    unsplittable source) scans as ONE partition and everything downstream of
    it — shingling, hashing, similarity scoring — serializes onto a single
    core no matter how many the cluster has. For compute-bound operators the
    exchange is worth it: shuffle cost is proportional to input bytes, the
    saved compute to input rows x per-row work.

    Guarded: at 100 TB a scan already yields thousands of splits
    (maxPartitionBytes), getNumPartitions >= parallelism, and this is a
    no-op — no accidental full-corpus reshuffle at scale.
    """
    target = partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (SQL surface, S6/S13).

    Mirrors the reference's pattern of serving all queries over a fixed set
    of named tables (sqlite_connector.py:25-67 DDL); here the catalog entry
    is a lazy parquet scan, so SQL text gets the same Catalyst plan as the
    DataFrame API.

    Registered once per session: reading a table runs a parquet
    schema-inference job, so the ten reads are skipped when all of these
    still hold since this function last registered the views:

    - **key:** the same JVM session (``sessionUUID``) and the same
      ``sf_dir``; one ``sf_dir`` is remembered per session, and another one
      re-registers;
    - **fingerprint:** every table file, or every leaf file of a directory
      table, has the same path, length and modification time, read through
      Hadoop ``FileSystem``; a rewritten table is re-read;
    - **catalog:** the session catalog holds exactly the view objects this
      function created; a view dropped or replaced by another caller is
      restored, never served stale.

    Otherwise all ten views are re-registered. A warm call costs a few
    dozen py4j calls and launches no Spark job.
    """
    jsession = spark._jsparkSession
    catalog = jsession.sessionState().catalog()
    key = jsession.sessionUUID()
    with _views_lock:
        fp = _fingerprint(spark, sf_dir)
        held = _registered.get(key)
        if (
            held is not None
            and held[:2] == (sf_dir, fp)
            # case-class equality: reference-equal on the object registered
            # here, unequal on any replacement and on a dropped view (None)
            and all(catalog.getRawTempView(n).equals(v) for n, v in held[2].items())
        ):
            return
        for name in TABLE_NAMES:
            table(spark, sf_dir, name).createOrReplaceTempView(name)
        _registered[key] = (sf_dir, fp, {n: catalog.getRawTempView(n) for n in TABLE_NAMES})


# JVM session UUID -> (sf_dir, fingerprint, the catalog entries
# register_views created); the lock makes its check-and-register atomic
# for threads sharing a session.
_registered: dict[str, tuple[str, tuple, dict]] = {}
_views_lock = threading.Lock()


def _fingerprint(spark: SparkSession, sf_dir: str) -> tuple:
    """(path, length, modification time) of every file behind the fixture
    tables. A missing table raises ``FileNotFoundException`` here, before
    any view is touched."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs = Path(sf_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    out = []
    for name in TABLE_NAMES:
        st = fs.getFileStatus(Path(f"{sf_dir}/{name}.parquet"))
        if not st.isDirectory():
            out.append((name, st.getLen(), st.getModificationTime()))
            continue
        leaves = fs.listFiles(st.getPath(), True)
        while leaves.hasNext():
            f = leaves.next()
            out.append((f.getPath().toString(), f.getLen(), f.getModificationTime()))
    return tuple(out)


def describe_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema introspection as data (S13 analog of sqlite_master + PRAGMA,
    reference ai_agent.py:26-38): one row per column across all tables.
    Reads the schemas of the registered views (register_views), so a warm
    call runs no schema-inference job."""
    register_views(spark, sf_dir)
    rows = []
    for name in TABLE_NAMES:
        for f in spark.table(name).schema.fields:
            rows.append((name, f.name, f.dataType.simpleString(), f.nullable))
    return spark.createDataFrame(
        rows, "table_name string, column_name string, data_type string, is_nullable boolean"
    )


def plant_duplicates(df: DataFrame, id_col: str, every: int = 50, offset: int = 1_000_000) -> DataFrame:
    """Union every ``every``-th row back under ``id + offset`` — the
    planted-positive-control pattern the audit queries use so 'find the
    duplicates' logic is exercised on every run even when healthy fixture
    data contains none (round-7 lesson: a 0==0 oracle pass verifies
    nothing). The three audit oracles (v_embedding_near_dup,
    v_embedding_near_dup_lsh, m_asset_dedup) inline the SAME every/offset
    constants in their SQL — change them here and there together, and
    keep ``offset`` above the largest base id at any probed scale factor
    (fixture ids stay far below 10^6 at every SF, and the sf1 inflater
    shifts copies by i*10^7, so a planted id can never collide with a
    base or inflated id).
    """
    dup = df.filter(F.col(id_col) % every == 0).withColumn(
        id_col, F.col(id_col) + F.lit(offset)
    )
    return df.unionByName(dup)
