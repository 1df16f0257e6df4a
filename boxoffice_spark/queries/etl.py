"""ETL surface: scalar-function families and upsert/backfill semantics
(SURVEY.md §2.1 sinks, §2.8 functions).

Every transformation here is a JVM-side Catalyst expression (no Python
UDFs): the reference runs these as row-at-a-time pandas lambdas; on Spark
they ride whole-stage codegen, which is the difference between ~1 MB/s/core
and ~100 MB/s/core on a 100 TB text pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from boxoffice_spark.functions.cleaning import (
    coercive_cast,
    extract_bracketed,
    rename_snake_case,
    stock_status,
    strip_brackets,
    truncate_ellipsis,
)
from boxoffice_spark.functions.numeric import dsum, dsum_sql
from boxoffice_spark.operators.upsert import (
    idempotent_backfill,
    merge_upsert,
    snapshot_diff,
)
from boxoffice_spark.registry import register
from boxoffice_spark.tables import EVENTS_US_SQL, describe_tables, table


@register(
    "e_snake_case_rename",
    oracle="""
    SELECT r_regionkey AS region_key, r_name AS region_name FROM region
    """,
    tags=("etl", "rename"),
)
def e_snake_case_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: camelCase -> snake_case bulk rename (reference utils.py:4-9,
    applied to every external API payload). Simulated by aliasing to the
    API's camelCase and renaming back through the library helper."""
    camel = table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("regionKey"), F.col("r_name").alias("regionName")
    )
    return rename_snake_case(camel)


@register(
    "e_regex_extract_brackets",
    oracle="""
    SELECT
        doc_id,
        regexp_extract('[' || lang || '] ' || substring(text, 1, 40), '[<\\[](.*?)[>\\]]', 1) AS tag,
        trim(regexp_replace(regexp_replace('[' || lang || '] ' || substring(text, 1, 40),
             '\\[.*?\\]', '', 'g'), '<[^<>]+>', '', 'g')) AS title
    FROM documents
    """,
    tags=("etl", "regex"),
)
def e_regex_extract_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2+F3: bracket-content extraction and bracket removal (reference
    movie_events_scraper.py:260-262 extracts the movie title from
    '[Title] event name'; :282 strips it). Fixture docs get a synthetic
    '[lang] text...' title to operate on."""
    d = table(spark, sf_dir, "documents")
    titled = d.select(
        "doc_id",
        F.concat(F.lit("["), F.col("lang"), F.lit("] "), F.substring("text", 1, 40)).alias("_t"),
    )
    return titled.select(
        "doc_id",
        extract_bracketed(F.col("_t")).alias("tag"),
        strip_brackets(F.col("_t")).alias("title"),
    )


@register(
    "e_case_bucketing",
    oracle="""
    SELECT
        CASE WHEN value > 40 THEN '보유'
             WHEN value > 10 THEN '소진중'
             WHEN value > 0  THEN '소량보유'
             ELSE '소진' END AS status,
        count(*) AS n
    FROM events
    GROUP BY 1
    """,
    tags=("etl", "case"),
)
def e_case_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21: threshold CASE bucketing with the reference's exact stock-status
    thresholds and labels (movie_events_scraper.py:490-502)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(stock_status("value").alias("status")).groupBy("status").agg(F.count("*").alias("n"))


@register(
    "e_coercive_cast",
    oracle=f"""
    SELECT
        event_type,
        {dsum_sql("coalesce(try_cast(json_extract_string(props, '$.k') AS DOUBLE), 0)")} AS k_sum,
        {dsum_sql("coalesce(try_cast(event_type AS DOUBLE), 0)")} AS bad_cast_sum,
        count(*) AS n
    FROM events
    GROUP BY event_type
    """,
    tags=("etl", "cast"),
)
def e_coercive_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20/F22/F29: coercive numeric cast with ZERO-fill (reference
    utils.py:27-39: pd.to_numeric(errors='coerce').fillna(0) — failed casts
    become 0, not null; SURVEY §7 hard part (a)). bad_cast_sum proves the
    zero-fill path: every event_type fails the cast and contributes 0.
    The JSON hop is F29's get_json_object path-descent."""
    ev = table(spark, sf_dir, "events")
    k = coercive_cast(F.get_json_object("props", "$.k"))
    bad = coercive_cast(F.col("event_type"))
    return ev.groupBy("event_type").agg(
        dsum(k).alias("k_sum"), dsum(bad).alias("bad_cast_sum"), F.count("*").alias("n")
    )


@register(
    "e_date_functions",
    oracle="""
    SELECT
        o_orderkey,
        strftime(o_orderdate, '%Y-%m-%d') AS iso_day,
        strftime(o_orderdate, '%Y.%m.%d') AS dotted_day,
        CAST(year(o_orderdate) AS INT) AS order_year,
        strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso_ts
    FROM orders
    WHERE o_orderkey % 50 = 0
    """,
    tags=("etl", "date"),
)
def e_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13/F14/F17/F18: date formatting family (reference
    kobisdata_extractor.py:121,131 '%Y-%m-%d'/'%Y%m%d';
    movie_events_scraper.py:265-268 YYYYMMDD->YYYY.MM.DD;
    supabase_connector.py:39-41 ISO serialization)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
        F.date_format("o_orderdate", "yyyy.MM.dd").alias("dotted_day"),
        F.year("o_orderdate").alias("order_year"),
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").alias("iso_ts"),
    )


@register(
    "e_date_sequence_explode",
    oracle="""
    SELECT o_orderkey, unnest(generate_series(o_orderdate, o_orderdate + INTERVAL 3 DAY, INTERVAL 1 DAY)) AS dt
    FROM orders
    WHERE o_orderkey % 100 = 0
    """,
    tags=("etl", "date", "explode"),
)
def e_date_sequence_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19: date-range generation (reference backfill driver loops,
    backfill_boxoffice.py:51, kobis_pipeline.py:36-40 — fetch day-by-day
    from watermark to yesterday). sequence+explode turns the driver-side
    Python loop into a distributed generator."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return o.select(
        "o_orderkey",
        F.explode(
            F.sequence(
                F.col("o_orderdate"),
                F.col("o_orderdate") + F.expr("INTERVAL 3 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("dt"),
    )


@register(
    "e_array_ops",
    oracle="""
    SELECT
        doc_id,
        len(string_split(text, ' ')) AS n_words,
        array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS first3,
        list_contains(string_split(text, ' '), 'spark') AS has_spark,
        CASE WHEN length(text) > 31 THEN substring(text, 1, 31) || '...' ELSE text END AS text_short
    FROM documents
    """,
    tags=("etl", "array"),
)
def e_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F26-F28 + F10: native array ops replacing the reference's
    JSON-string round-trips (kobisdata_extractor.py:93-113 encodes arrays
    as JSON text; ai_agent.py:134-139 decodes + joins). Arrays are
    first-class columns here — split/size/slice/contains are all codegen'd
    — plus the display truncation (dashboard.py:304-306)."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        # long, not size()'s int32: both engines emit BIGINT (width parity)
        F.size(words).cast("long").alias("n_words"),
        F.array_join(F.slice(words, 1, 3), " ").alias("first3"),
        F.array_contains(words, "spark").alias("has_spark"),
        truncate_ellipsis(F.col("text")).alias("text_short"),
    )


_UPSERT_ORACLE = """
WITH new_rows AS (
    SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
           o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT o_orderkey + 10000000000, o_custkey, 'N', o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 97 = 0
),
tagged AS (
    SELECT *, 0 AS _src FROM orders
    UNION ALL
    SELECT *, 1 AS _src FROM new_rows
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY _src DESC) AS _rn
    FROM tagged
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM ranked WHERE _rn = 1
"""


@register("e_upsert_merge", oracle=_UPSERT_ORACLE, bench=True, tags=("etl", "upsert"))
def e_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/S10: keyed merge-upsert, last-writer-wins (reference
    sqlite_connector.py:76-114 ON CONFLICT DO UPDATE; supabase upsert on
    composite keys). A synthetic 'new batch' updates every 10th order and
    inserts fresh keys; operators/upsert.py does union + key-window. The
    scaled path is Delta/Iceberg MERGE INTO — same logical plan shape."""
    o = table(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    inserts = o.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 10000000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    return merge_upsert(o, updates.unionByName(inserts), ["o_orderkey"])


@register(
    "e_backfill_overwrite",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
    FROM lineitem
    WHERE l_shipdate NOT BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-01-31'
    UNION ALL
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice * 0.9, l_shipdate
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-01-31'
    """,
    tags=("etl", "backfill"),
)
def e_backfill_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: idempotent delete-then-reinsert backfill (reference
    backfill_boxoffice.py:27-47: DELETE WHERE date BETWEEN ... then
    re-insert). Here January 1996 is 'recomputed' with a 10% price
    adjustment. The physical form is a dynamic partition overwrite
    (exercised in tests/test_etl_write.py); this query is the logical
    semantics."""
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"]
    li = table(spark, sf_dir, "lineitem").select(*cols)
    in_range = F.col("l_shipdate").between("1996-01-01", "1996-01-31")
    replacement = (
        li.filter(in_range)
        .withColumn("l_extendedprice", F.col("l_extendedprice") * 0.9)
    )
    return idempotent_backfill(li, replacement, in_range)


@register(
    "e_snapshot_diff",
    oracle="""
    WITH old_snap AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 5 <> 0
    ),
    new_snap AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 7 <> 0
    ),
    diffed AS (
        SELECT
            coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
            CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                 WHEN n.o_orderkey IS NULL THEN 'delete'
                 WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 'update'
            END AS change_type,
            CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_totalprice
                 ELSE o.o_totalprice END AS o_totalprice,
            CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_orderstatus
                 ELSE o.o_orderstatus END AS o_orderstatus
        FROM old_snap o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
    )
    SELECT * FROM diffed WHERE change_type IS NOT NULL
    """,
    tags=("etl", "cdc"),
)
def e_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-based CDC (operators/upsert.snapshot_diff): diff two keyed
    full dumps of orders into an insert/update/delete changeset — the
    change log a source that only emits full snapshots never gives you.
    Old snapshot drops every 5th key (-> inserts), the new snapshot drops
    every 7th (-> deletes) and bumps prices on every 3rd (-> updates,
    null-safe value compare). One full-outer shuffle join on the key;
    bucketed snapshots make it exchange-free."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    old_snap = o.filter(F.col("o_orderkey") % 5 != 0)
    new_snap = o.filter(F.col("o_orderkey") % 7 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    return snapshot_diff(
        old_snap, new_snap, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


@register(
    "e_schema_introspection",
    # DuckDB names types differently (BIGINT vs bigint, VARCHAR vs string);
    # the oracle maps its information_schema type names onto Spark's
    # simpleString vocabulary. The one semantic (not spelling) divergence is
    # events.ts: the engine's ingestion rule (tables.table) normalizes it to
    # a UTC session timestamp whatever the fixture's physical type, while
    # plain parquet timestamps would read as timestamp_ntz — the CASE
    # mirrors that documented rule.
    oracle="""
    SELECT
        table_name,
        column_name,
        CASE
            WHEN table_name = 'events' AND column_name = 'ts' THEN 'timestamp'
            WHEN data_type LIKE 'TIMESTAMP%' THEN 'timestamp_ntz'
            WHEN data_type = 'BIGINT' THEN 'bigint'
            WHEN data_type = 'INTEGER' THEN 'int'
            WHEN data_type = 'DOUBLE' THEN 'double'
            WHEN data_type = 'FLOAT' THEN 'float'
            WHEN data_type = 'VARCHAR' THEN 'string'
            WHEN data_type = 'BOOLEAN' THEN 'boolean'
            WHEN data_type = 'DATE' THEN 'date'
            WHEN data_type = 'FLOAT[]' THEN 'array<float>'
            ELSE lower(data_type)
        END AS data_type,
        (is_nullable = 'YES') AS is_nullable
    FROM information_schema.columns
    WHERE table_name IN ('region', 'nation', 'customer', 'supplier', 'part',
                         'orders', 'lineitem', 'events', 'documents', 'embeddings')
    """,
    tags=("etl", "catalog"),
)
def e_schema_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: schema introspection as data (reference ai_agent.py:26-38 reads
    sqlite_master + PRAGMA table_info to ground the NL->SQL prompt). Spark
    source of truth: DataFrame schemas."""
    return describe_tables(spark, sf_dir)


# F7 html-unescape: &amp; last so "&amp;lt;" unescapes once, not twice —
# the same chain runs on both engines, and html.unescape-exact fidelity
# (numeric refs etc.) would be the Pandas-UDF fallback noted in SURVEY §7.
_UNESCAPES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]


def _unescape_sql(expr: str) -> str:
    for ent, ch in _UNESCAPES:
        quoted = ch.replace("'", "''")
        expr = f"replace({expr}, '{ent}', '{quoted}')"
    return expr


@register(
    "e_display_normalize",
    oracle=f"""
    WITH alias_map(raw, norm) AS (VALUES ('Brand#11', 'B-11'), ('Brand#23', 'B-23')),
    src AS (
        SELECT p_partkey,
               'A &amp; B &lt;' || p_brand || '&gt; &#39;' || p_type || '&#39;' AS raw_title,
               p_brand, p_retailprice
        FROM part
    )
    SELECT p_partkey,
           {_unescape_sql('raw_title')} AS title,
           coalesce(m.norm, s.p_brand) AS brand_norm,
           format('{{:,}}',
                  CAST(CAST(p_retailprice AS DECIMAL(18, 2)) * 100 AS BIGINT))
               AS price_display
    FROM src s LEFT JOIN alias_map m ON s.p_brand = m.raw
    """,
    tags=("etl", "display"),
)
def e_display_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/F9/F24: display normalization — HTML-entity unescape (reference
    movie_events_scraper.py:731-742, chained-replace built-in form), alias
    normalization via a broadcast lookup map with identity fallback
    (GOODS_NORMALIZATION_MAP, movie_events_scraper.py:151-188), and
    thousands-grouped number formatting (dashboard.py:168-169,214-218)."""
    p = table(spark, sf_dir, "part")
    src = p.select(
        "p_partkey",
        F.concat(
            F.lit("A &amp; B &lt;"), F.col("p_brand"), F.lit("&gt; &#39;"),
            F.col("p_type"), F.lit("&#39;"),
        ).alias("raw_title"),
        "p_brand",
        "p_retailprice",
    )
    title = F.col("raw_title")
    for ent, ch in _UNESCAPES:
        title = F.replace(title, F.lit(ent), F.lit(ch))
    alias_map = spark.createDataFrame(
        [("Brand#11", "B-11"), ("Brand#23", "B-23")], "raw string, norm string"
    )
    return (
        src.join(F.broadcast(alias_map), src.p_brand == alias_map.raw, "left")
        .select(
            "p_partkey",
            title.alias("title"),
            F.coalesce("norm", "p_brand").alias("brand_norm"),
            # cents via exact DECIMAL arithmetic (parity rule 4): the 2dp
            # money double recovers its decimal exactly, *100 is exact, and
            # the BIGINT cast never sees a tie — round(double, 0) does
            F.format_number(
                (F.col("p_retailprice").cast("decimal(18,2)") * 100).cast(
                    "bigint"
                ),
                0,
            ).alias("price_display"),
        )
    )


@register(
    "e_scd2_history",
    oracle=f"""
    WITH ev AS ({EVENTS_US_SQL})
    SELECT user_id, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current,
           value AS attr_value
    FROM ev
    WHERE event_type = 'signup'
    """,
    tags=("etl", "scd2"),
)
def e_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) derivation: an append-only
    change log (signup events per user) becomes a validity-interval
    history — valid_from = change ts, valid_to = next change's ts (null =
    open), is_current on the last row. The warehouse-standard upsert
    alternative when history must be queryable ("what was the value on
    date X" = BETWEEN probe on the intervals). One shuffle on user_id;
    the as-of join (operators/temporal.py) is the read-side complement.
    event_id tie-breaks equal timestamps deterministically."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
        F.col("value").alias("attr_value"),
    )


@register(
    "e_deletion_propagation",
    oracle="""
    WITH victims AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0
    ),
    doomed_orders AS (
        SELECT o_orderkey FROM orders
        WHERE EXISTS (SELECT 1 FROM victims v WHERE v.c_custkey = o_custkey)
    )
    SELECT 'customer' AS table_name,
           (SELECT count(*) FROM victims) AS n_delete,
           (SELECT count(*) FROM customer) AS n_total
    UNION ALL
    SELECT 'orders', (SELECT count(*) FROM doomed_orders),
           (SELECT count(*) FROM orders)
    UNION ALL
    SELECT 'lineitem',
           (SELECT count(*) FROM lineitem l
            WHERE EXISTS (SELECT 1 FROM doomed_orders d
                          WHERE d.o_orderkey = l.l_orderkey)),
           (SELECT count(*) FROM lineitem)
    """,
    tags=("etl", "privacy", "deletion"),
)
def e_deletion_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten sweep: given a deletion cohort (every 100th
    customer), the per-table deletion manifest cascading through the
    foreign-key graph (customer -> orders -> lineitem) — the audit that
    precedes the actual anti-join rewrite, sized so compliance can be
    scheduled per table. Each hop is one LEFT SEMI join on the key (the
    cohort broadcasts; the order-key frontier broadcasts when small,
    shuffles when not); the physical delete is the same predicate as an
    anti-join + dynamic partition overwrite (io.overwrite_partitions)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    victims = c.filter(F.col("c_custkey") % 100 == 0).select("c_custkey")
    doomed_o = o.join(
        victims, o.o_custkey == victims.c_custkey, "semi"
    ).select("o_orderkey")
    doomed_li = li.join(
        doomed_o, li.l_orderkey == doomed_o.o_orderkey, "semi"
    )

    def manifest(name: str, doomed: DataFrame, total: DataFrame) -> DataFrame:
        return doomed.agg(F.count("*").alias("n_delete")).crossJoin(
            total.agg(F.count("*").alias("n_total"))
        ).select(F.lit(name).alias("table_name"), "n_delete", "n_total")

    return (
        manifest("customer", victims, c)
        .unionByName(manifest("orders", doomed_o, o))
        .unionByName(manifest("lineitem", doomed_li, li))
    )


@register(
    "e_incremental_agg_maintenance",
    oracle="""
    WITH base AS (
        SELECT o_orderstatus, count(*) AS n,
               cast(sum(cast(o_totalprice as decimal(27,2))) as double) AS revenue
        FROM orders WHERE o_orderkey % 10 <> 0 GROUP BY 1
    ), delta AS (
        SELECT o_orderstatus, count(*) AS n,
               cast(sum(cast(o_totalprice as decimal(27,2))) as double) AS revenue
        FROM orders WHERE o_orderkey % 10 = 0 GROUP BY 1
    )
    SELECT o_orderstatus, CAST(sum(n) AS BIGINT) AS n,
           cast(sum(cast(revenue as decimal(27,2))) as double) AS revenue
    FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
    GROUP BY 1
    """,
    tags=("etl", "incremental", "materialized-view"),
)
def e_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance: a standing per-status aggregate
    is updated by MERGING a new batch's partial aggregate (union + re-sum)
    — never by rescanning the base table. count and decimal-summed revenue
    are self-mergeable (the re-aggregation of partials is exactly Spark's
    own partial/final aggregation split, applied across batches); the
    merged result provably equals the full recompute, which is what the
    oracle asserts. avg derives as sum/count at read time; only
    algebraic/mergeable aggregates (sum, count, min, max, HLL sketches —
    see a_hll_sketch_rollup) maintain this way."""
    o = table(spark, sf_dir, "orders")

    def agg_of(part: DataFrame) -> DataFrame:
        return part.groupBy("o_orderstatus").agg(
            F.count("*").alias("n"), dsum("o_totalprice", scale=2).alias("revenue")
        )

    base = agg_of(o.filter(F.col("o_orderkey") % 10 != 0))
    delta = agg_of(o.filter(F.col("o_orderkey") % 10 == 0))
    return (
        base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n").alias("n"),
            dsum("revenue", scale=2).alias("revenue"),
        )
    )


@register(
    "e_unpivot_metrics",
    oracle=f"""
    WITH wide AS (
        SELECT l_returnflag,
               {dsum_sql('l_quantity')} AS sum_qty,
               {dsum_sql('l_extendedprice')} AS sum_price,
               {dsum_sql('l_discount', 4)} AS sum_disc
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, metric, value FROM (
        SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_disc' AS metric, sum_disc AS value FROM wide
    )
    """,
    tags=("etl", "unpivot"),
)
def e_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the wide per-returnflag aggregate folded to long
    (key, metric, value) rows — the inverse of a_pivot_segment_status and
    the shape metric stores and plotting layers ingest. Spark's native
    ``unpivot`` plans as a zero-shuffle Expand over the already-aggregated
    frame (3 output rows per input row, no join, no UDF); the only
    shuffle in the query is the upstream aggregation's. Values are
    decimal-summed before the melt so the long table is cell-exact."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        dsum("l_discount", 4).alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "metric", "value"
    )


@register(
    "e_cdc_apply",
    # The oracle is the NEW snapshot itself: apply(old, diff(old, new))
    # must reproduce it cell-exactly — the round-trip contract of
    # snapshot CDC, checked end-to-end by the driver.
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM orders WHERE o_orderkey % 7 <> 0
    """,
    tags=("etl", "cdc"),
)
def e_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changeset REPLAY (operators/upsert.apply_changeset): the
    insert/update/delete changeset that e_snapshot_diff derives is
    applied back onto the old snapshot — one LEFT ANTI against the
    changed-key set plus a union, the algebraic MERGE INTO. The oracle is
    the new snapshot verbatim, so the driver checks the full
    diff -> apply round trip, not just the operator's own bookkeeping."""
    from boxoffice_spark.operators.upsert import apply_changeset

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    old_snap = o.filter(F.col("o_orderkey") % 5 != 0)
    new_snap = o.filter(F.col("o_orderkey") % 7 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    diff = snapshot_diff(
        old_snap, new_snap, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )
    return apply_changeset(
        old_snap, diff, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


@register(
    "e_scd2_asof_read",
    oracle=f"""
    WITH ev AS ({EVENTS_US_SQL}),
    scd AS (
        SELECT user_id, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
               value AS attr_value
        FROM ev
        WHERE event_type = 'signup'
    )
    SELECT user_id, valid_from, attr_value
    FROM scd
    WHERE valid_from <= TIMESTAMP '2024-01-15'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15')
    """,
    tags=("etl", "scd2", "time-travel"),
)
def e_scd2_asof_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time snapshot reconstruction from the SCD2 dimension: the
    row valid AS OF 2024-01-15 per user — ``valid_from <= T < valid_to``
    with the open (is_current) interval treated as unbounded. The read
    side of e_scd2_history ("what was the value on date X"), i.e. time
    travel for engines without a transactional table format. At scale
    the interval predicate is scan-side: with the dimension written
    ``repartitionByRange`` + ``sortWithinPartitions`` on valid_from,
    footer min/max prune every file whose intervals cannot straddle T."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.lit("2024-01-15").cast("timestamp")
    scd = ev.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.col("value").alias("attr_value"),
    )
    return scd.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("user_id", "valid_from", "attr_value")


@register(
    "e_gdpr_export",
    oracle="""
    WITH subjects AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 250 = 0
    )
    SELECT c.c_custkey AS subject_id, 'customer' AS source_table,
           CAST(c.c_custkey AS VARCHAR) AS record_id,
           CAST(NULL AS DATE) AS record_date
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM subjects s WHERE s.c_custkey = c.c_custkey)
    UNION ALL
    SELECT o.o_custkey, 'orders', CAST(o.o_orderkey AS VARCHAR),
           CAST(o.o_orderdate AS DATE)
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM subjects s WHERE s.c_custkey = o.o_custkey)
    UNION ALL
    SELECT o.o_custkey, 'lineitem',
           CAST(l.l_orderkey AS VARCHAR) || ':' || CAST(l.l_linenumber AS VARCHAR),
           CAST(l.l_shipdate AS DATE)
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE EXISTS (SELECT 1 FROM subjects s WHERE s.c_custkey = o.o_custkey)
    ORDER BY subject_id, source_table, record_id
    """,
    tags=("etl", "privacy", "export"),
)
def e_gdpr_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subject-access-request export — the read-side complement of
    e_deletion_propagation's right-to-be-forgotten sweep: every record
    about a subject cohort (every 250th customer) across the FK graph,
    normalized to one long-format dossier (subject, source table,
    record id, record date). The same per-table hops a compliance job
    schedules; the dossier frame writes per-subject partitions directly.

    Shape: the subject cohort broadcasts into one SEMI/inner join per
    table; lineitem attributes back to its subject through the orders
    key (one equi-join, AQE-splittable) — no table is scanned twice, no
    driver-side loop over subjects."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    subjects = c.filter(F.col("c_custkey") % 250 == 0).select(
        F.col("c_custkey").alias("subject_id")
    )
    cust_rows = c.join(
        subjects, c.c_custkey == subjects.subject_id, "inner"
    ).select(
        "subject_id",
        F.lit("customer").alias("source_table"),
        F.col("c_custkey").cast("string").alias("record_id"),
        F.lit(None).cast("date").alias("record_date"),
    )
    ord_subj = o.join(subjects, o.o_custkey == subjects.subject_id, "inner")
    ord_rows = ord_subj.select(
        "subject_id",
        F.lit("orders").alias("source_table"),
        F.col("o_orderkey").cast("string").alias("record_id"),
        F.to_date("o_orderdate").alias("record_date"),
    )
    li_rows = li.join(
        ord_subj.select("subject_id", "o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "inner",
    ).select(
        "subject_id",
        F.lit("lineitem").alias("source_table"),
        F.concat_ws(
            ":", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
        ).alias("record_id"),
        F.to_date("l_shipdate").alias("record_date"),
    )
    return (
        cust_rows.unionByName(ord_rows)
        .unionByName(li_rows)
        .orderBy("subject_id", "source_table", "record_id")
    )


@register(
    "e_merge_full",
    oracle="""
    WITH target AS (
        SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 3 <> 0
    ),
    src AS (
        SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal
        FROM customer WHERE c_custkey % 2 = 0
    )
    SELECT coalesce(t.c_custkey, s.c_custkey) AS c_custkey,
        coalesce(s.c_name, t.c_name) AS c_name,
        coalesce(s.c_acctbal, t.c_acctbal) AS acctbal,
        CASE WHEN t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL
                 THEN 'updated'
             WHEN t.c_custkey IS NULL THEN 'inserted'
             ELSE 'kept' END AS action
    FROM target t FULL OUTER JOIN src s ON s.c_custkey = t.c_custkey
    WHERE NOT (s.c_custkey IS NULL AND t.c_acctbal < 0)
    ORDER BY c_custkey
    """,
    tags=("etl", "merge", "cdc"),
)
def e_merge_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tri-clause MERGE semantics — WHEN MATCHED UPDATE, WHEN NOT
    MATCHED INSERT, WHEN NOT MATCHED BY SOURCE (conditionally) DELETE —
    the full ANSI/Delta MERGE contract, one step past e_upsert_merge's
    upsert-only shape: a staging feed both mutates and RETIRES dimension
    rows in a single statement (here: target-only customers with
    negative balances are dropped, the collections-handoff rule).
    Derived target (custkey % 3 != 0) and staged source (custkey % 2 ==
    0, balance +100) keep the query self-contained and scale-free; the
    `action` column makes each clause's contribution auditable.

    Shape: ONE full-outer equi-join on the merge key carries all three
    clauses — no per-clause pass, no second scan of either side; at
    100 TB the join AQE-splits and the delete condition is a residual
    filter, exactly how Delta/Iceberg plan MERGE joins."""
    c = table(spark, sf_dir, "customer")
    target = c.filter(F.col("c_custkey") % 3 != 0).select(
        F.col("c_custkey").alias("t_key"),
        F.col("c_name").alias("t_name"),
        F.col("c_acctbal").alias("t_bal"),
    )
    src = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("s_key"),
        F.col("c_name").alias("s_name"),
        (F.col("c_acctbal") + 100).alias("s_bal"),
    )
    merged = target.join(src, target.t_key == src.s_key, "full_outer")
    action = (
        F.when(F.col("t_key").isNotNull() & F.col("s_key").isNotNull(), "updated")
        .when(F.col("t_key").isNull(), "inserted")
        .otherwise("kept")
    )
    return (
        merged.filter(~(F.col("s_key").isNull() & (F.col("t_bal") < 0)))
        .select(
            F.coalesce("t_key", "s_key").alias("c_custkey"),
            F.coalesce("s_name", "t_name").alias("c_name"),
            F.coalesce("s_bal", "t_bal").alias("acctbal"),
            action.alias("action"),
        )
        .orderBy("c_custkey")
    )


@register(
    "e_scd2_vacuum",
    oracle=f"""
    WITH ev AS ({EVENTS_US_SQL}),
    hist AS (
        SELECT user_id, ts AS valid_from,
            lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS valid_to,
            lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                IS NULL AS is_current,
            value AS attr_value
        FROM ev WHERE event_type = 'signup'
    ),
    flagged AS (
        SELECT *,
            (is_current OR valid_to > TIMESTAMP '2024-01-15') AS keep
        FROM hist
    ),
    counted AS (
        -- window BEFORE the keep filter: it must count the dropped rows
        SELECT *,
            CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END)
                 OVER (PARTITION BY user_id) AS BIGINT) AS n_vacuumed_versions
        FROM flagged
    )
    SELECT user_id, valid_from, valid_to, is_current, attr_value,
        n_vacuumed_versions
    FROM counted
    WHERE keep
    ORDER BY user_id, valid_from
    """,
    tags=("etl", "scd2", "retention"),
)
def e_scd2_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention vacuum over the SCD2 dimension history: keep every open
    interval and every closed interval still visible to as-of reads at
    or after the retention horizon (valid_to > T); versions that expired
    strictly before T are dropped, with a per-user count of vacuumed
    versions kept alongside for the audit log. This is the GDPR/storage
    retention sweep a warehouse schedules against its dimension history
    — e_scd2_history builds it, e_scd2_asof_read queries it, this
    bounds how much of it lives forever. The keep rule is exactly
    "interval intersects [T, inf)", so every as-of probe at t >= T
    returns identical rows before and after the vacuum (the correctness
    contract a retention job must prove). One user_id window chain, one
    residual filter; cell-exact."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    hist = ev.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
        F.col("value").alias("attr_value"),
    )
    keep = F.col("is_current") | (F.col("valid_to") > F.lit("2024-01-15").cast("timestamp"))
    flagged = hist.withColumn("keep", keep)
    wn = Window.partitionBy("user_id")
    return (
        flagged.withColumn(
            "n_vacuumed_versions",
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).over(wn).cast("long"),
        )
        .filter(F.col("keep"))
        .select(
            "user_id",
            "valid_from",
            "valid_to",
            "is_current",
            "attr_value",
            "n_vacuumed_versions",
        )
        .orderBy("user_id", "valid_from")
    )


@register(
    "e_schema_evolution_union",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
            CAST(NULL AS VARCHAR) AS o_orderpriority,
            CAST(NULL AS VARCHAR) AS channel
        FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01'
    ),
    v2 AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
            o_orderpriority,
            CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END
                AS channel
        FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
    ),
    unioned AS (
        SELECT 'v1' AS schema_ver, * FROM v1
        UNION ALL
        SELECT 'v2', * FROM v2
    )
    SELECT schema_ver, count(*) AS n_rows,
        count(o_orderpriority) AS n_priority,
        count(channel) AS n_channel,
        count(DISTINCT channel) AS channel_values
    FROM unioned
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("etl", "schema-evolution"),
)
def e_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: an early table version (missing the
    priority column, predating the channel column) concatenated with the
    evolved version via ``unionByName(allowMissingColumns=True)`` — the
    Spark idiom for reading across a schema boundary without rewriting
    history (Parquet mergeSchema is the storage-side twin; this is the
    in-plan form). Missing columns NULL-fill, and the readout profiles
    exactly what a consumer must know before trusting the unioned view:
    per schema version, how many rows carry each evolved column. The
    union is a zero-shuffle concatenation of two scans of the same
    partitioned source (the version split is a pushed-down date
    predicate); the profile is one |versions|-row aggregate.
    Cell-exact."""
    o = table(spark, sf_dir, "orders")
    v1 = (
        o.filter(F.to_date("o_orderdate") < F.lit("1998-01-01"))
        .select(
            F.lit("v1").alias("schema_ver"),
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_orderdate",
        )
    )
    v2 = (
        o.filter(F.to_date("o_orderdate") >= F.lit("1998-01-01"))
        .select(
            F.lit("v2").alias("schema_ver"),
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 3 == 0, "web")
            .otherwise("store")
            .alias("channel"),
        )
    )
    unioned = v1.unionByName(v2, allowMissingColumns=True)
    return (
        unioned.groupBy("schema_ver")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("o_orderpriority").alias("n_priority"),
            F.count("channel").alias("n_channel"),
            F.countDistinct("channel").alias("channel_values"),
        )
        .orderBy("schema_ver")
    )


def _md5_u60_sql(hexcol: str) -> str:
    """Build-stable DuckDB SQL for the first-15-hex-digits-of-md5 as a
    60-bit BIGINT, mirroring Spark's ``conv(substring(md5(..),1,15),16,10)``
    with explicit digit arithmetic (strpos + BIGINT place-value constants,
    max term 15*16^14 < 2^63) instead of the '0x'-prefixed string->BIGINT
    cast, whose parse semantics vary across DuckDB builds (first seen as
    a t_span_corruption mismatch)."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substring({hexcol}, {d}, 1)) - 1)"
        f" * {16 ** (15 - d)}"
        for d in range(1, 16)
    )
    return f"({terms})"


@register(
    "e_surrogate_keys",
    oracle=f"""
    WITH hashed AS (
        SELECT c_custkey, c_name, md5('sk1:' || c_name) AS h
        FROM customer
    ),
    mapped AS (
        SELECT c_custkey, c_name,
            {_md5_u60_sql('h')} AS surrogate_key
        FROM hashed
    )
    SELECT c_custkey, c_name, surrogate_key,
        count(*) OVER (PARTITION BY surrogate_key) AS collision_group
    FROM mapped
    ORDER BY c_custkey
    """,
    tags=("etl", "keys", "warehouse"),
)
def e_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate-key assignment + collision audit — the
    warehouse key-generation step done the way a RETRY-SAFE distributed
    pipeline must: a salted 60-bit md5 of the natural key, NOT
    monotonically_increasing_id (partition-layout-dependent, changes on
    every retry and reshuffle) and NOT a global row_number (the
    single-reducer anti-pattern). The collision_group column is the
    audit: any value > 1 means two natural keys collided and the salt
    must rotate before the dimension ships (at 60 bits, expected
    collisions stay < 1 up to ~1e9 keys — the birthday bound the salt
    guards). Zero-shuffle key projection + one hash-partitioned count
    window on the surrogate. Cell-exact."""
    c = table(spark, sf_dir, "customer")
    from pyspark.sql import Window

    mapped = c.select(
        "c_custkey",
        "c_name",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("sk1:"), F.col("c_name"))), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("surrogate_key"),
    )
    return mapped.select(
        "c_custkey",
        "c_name",
        "surrogate_key",
        F.count("*")
        .over(Window.partitionBy("surrogate_key"))
        .alias("collision_group"),
    ).orderBy("c_custkey")
