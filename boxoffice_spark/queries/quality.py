"""Data-quality audit queries (operators/quality.py) — single-pass
constraint suites over the fixture tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from boxoffice_spark.functions.numeric import (
    dsum_sql,
    fround,
    fround_sql,
    funits_sql,
    ratio6,
    ratio6_sql,
    units_div_sql,
)
from boxoffice_spark.operators.quality import check_constraints, check_unique
from boxoffice_spark.registry import register
from boxoffice_spark.tables import EVENTS_US_SQL as _EVENTS_US, table


@register(
    "dq_orders_constraints",
    oracle="""
    WITH counted AS (
        SELECT
            count(*) AS _n,
            sum(CASE WHEN coalesce(o_totalprice > 0, FALSE) THEN 0 ELSE 1 END) AS positive_price,
            sum(CASE WHEN coalesce(o_orderdate IS NOT NULL, FALSE) THEN 0 ELSE 1 END) AS orderdate_present,
            sum(CASE WHEN coalesce(o_orderstatus IN ('O','F','P'), FALSE) THEN 0 ELSE 1 END) AS status_domain,
            sum(CASE WHEN coalesce(o_custkey >= 0, FALSE) THEN 0 ELSE 1 END) AS custkey_nonneg
        FROM orders
    )
    -- CAST: DuckDB's UNPIVOT of hugeint sums surfaces as DOUBLE (0.0),
    -- which hash-mismatches Spark's bigint 0 even when values agree.
    SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
           _n AS n_rows, n_violations = 0 AS pass
    FROM counted
    UNPIVOT (n_violations FOR rule IN (positive_price, orderdate_present, status_domain, custkey_nonneg))
    """,
    tags=("quality",),
)
def dq_orders_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan constraint suite over orders: price positivity, date
    presence, status domain, key range — one aggregate pass for all rules."""
    o = table(spark, sf_dir, "orders")
    return check_constraints(
        o,
        {
            "positive_price": F.col("o_totalprice") > 0,
            "orderdate_present": F.col("o_orderdate").isNotNull(),
            "status_domain": F.col("o_orderstatus").isin("O", "F", "P"),
            "custkey_nonneg": F.col("o_custkey") >= 0,
        },
    )


@register(
    "dq_lineitem_key_unique",
    oracle="""
    SELECT l_orderkey, l_linenumber, count(*) AS n_copies
    FROM lineitem
    GROUP BY l_orderkey, l_linenumber
    HAVING count(*) > 1
    """,
    tags=("quality", "unique"),
)
def dq_lineitem_key_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key uniqueness audit on lineitem (empty result = the
    (orderkey, linenumber) primary key holds)."""
    return check_unique(table(spark, sf_dir, "lineitem"), ["l_orderkey", "l_linenumber"])


@register(
    "dq_distribution_drift",
    oracle=f"""
    WITH counted AS (
        SELECT lang,
               sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END) AS n_corpus,
               sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS n_batch
        FROM documents GROUP BY 1
    )
    SELECT lang,
           CAST(n_corpus AS BIGINT) AS n_corpus,
           CAST(n_batch AS BIGINT) AS n_batch,
           CASE WHEN n_corpus > 0 AND n_batch > 0 THEN
               {fround_sql('''(CAST(n_batch AS DOUBLE) / sum(n_batch) OVER ()
                      - CAST(n_corpus AS DOUBLE) / sum(n_corpus) OVER ())
                     * ln((CAST(n_batch AS DOUBLE) / sum(n_batch) OVER ())
                          / (CAST(n_corpus AS DOUBLE)
                             / sum(n_corpus) OVER ()))''', 6)}
           END AS psi_term
    FROM counted
    """,
    tags=("quality", "drift"),
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: per-language PSI terms
    between an incoming batch (doc_id % 10 == 0 — the same batch split as
    t_incremental_dedup) and the standing corpus. The ingest-gate check
    that catches a crawler suddenly over-sampling one language before it
    poisons the mix. One scan (conditional counts), one narrow shuffle on
    lang, global-window totals over the tiny per-lang aggregate; sum the
    terms and alert at PSI > 0.2 by convention."""
    return psi_drift_terms(table(spark, sf_dir, "documents"))


def psi_drift_terms(d: DataFrame) -> DataFrame:
    """PSI terms per language for a documents frame, batch split =
    doc_id % 10 == 0. Shared by dq_distribution_drift and the streaming
    twin's equality tests (tests/test_streaming.py runs it over arbitrary
    file layouts to check the multi-micro-batch merge).

    Zero-count buckets: a language with NO batch (or no corpus) members
    makes the classic term undefined (log 0) — both sides emit an explicit
    NULL psi_term for it. NULL here means ONE-SIDED BUCKET = maximal
    drift: alert on it directly, never sum it away. (The guard also keeps
    the DuckDB oracle from hard-erroring on ln(0).)"""
    counted = d.groupBy("lang").agg(
        F.sum(F.when(F.col("doc_id") % 10 != 0, 1).otherwise(0))
        .cast("long")
        .alias("n_corpus"),
        F.sum(F.when(F.col("doc_id") % 10 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_batch"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy()
    p = F.col("n_corpus").cast("double") / F.sum("n_corpus").over(w)
    q = F.col("n_batch").cast("double") / F.sum("n_batch").over(w)
    # the PSI term pins its 6dp grid via fround
    # (round(double, 6) is engine-build surface).
    term = F.when(
        (F.col("n_corpus") > 0) & (F.col("n_batch") > 0),
        fround((q - p) * F.log(q / p), 6),
    )
    return counted.select("lang", "n_corpus", "n_batch", term.alias("psi_term"))


@register(
    "dq_k_anonymity",
    oracle="""
    WITH cells AS (
        SELECT lang, source,
               CAST(floor(n_chars / 500) AS BIGINT) AS size_bucket,
               count(*) AS group_size
        FROM documents
        GROUP BY 1, 2, 3
    )
    SELECT lang, source, size_bucket, group_size
    FROM cells WHERE group_size < 5
    """,
    tags=("quality", "privacy"),
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier cell (lang, source,
    length bucket): every cell smaller than k=5 is a re-identification
    risk — release pipelines must generalize (coarser buckets), suppress,
    or drop those rows before the corpus ships. One scan + one shuffle on
    the quasi-id; the violating-cell list is tiny by construction (it's
    the tail of the group-size distribution). floor() on both sides:
    DuckDB's / is float division and its double->int CAST rounds, while
    Spark's cast truncates — floor is the portable bucket rule."""
    d = table(spark, sf_dir, "documents")
    cells = d.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars") / F.lit(500)).alias("size_bucket"),
    ).agg(F.count("*").alias("group_size"))
    return cells.filter(F.col("group_size") < 5)


@register(
    "dq_profile",
    oracle="""
    SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
           count(o_orderkey) AS n_nonnull, count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS DOUBLE) AS min_num, CAST(max(o_orderkey) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(o_custkey), count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(o_totalprice), count(DISTINCT o_totalprice),
           min(o_totalprice), max(o_totalprice), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(o_orderstatus), count(DISTINCT o_orderstatus),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min(o_orderstatus), max(o_orderstatus)
    FROM orders
    """,
    tags=("quality", "profile"),
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler (the first query anyone runs on an
    unfamiliar table): per column, row/non-null/EXACT-distinct counts and
    min/max — numeric and string extrema in typed columns. All columns
    profile in ONE scan + one aggregation: Spark plans the multiple
    count(DISTINCT) via Expand (row replication per distinct-column), so
    the scan is not repeated per column — the oracle's UNION-ALL-per-
    column form is the semantic spec, not the physical plan. At 100 TB
    swap exact distinct for approx_count_distinct per column (same single
    Expand pass, sketch-sized state)."""
    o = table(spark, sf_dir, "orders")
    num_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    str_cols = ["o_orderstatus"]
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in num_cols + str_cols:
        aggs += [
            F.count(c).alias(f"_nn_{c}"),
            F.countDistinct(c).alias(f"_nd_{c}"),
        ]
    for c in num_cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"_min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"_max_{c}"),
        ]
    for c in str_cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    wide = o.agg(*aggs)
    cells = []
    for c in num_cols:
        cells.append(
            f"'{c}', _n, _nn_{c}, _nd_{c}, _min_{c}, _max_{c}, "
            "CAST(NULL AS STRING), CAST(NULL AS STRING)"
        )
    for c in str_cols:
        cells.append(
            f"'{c}', _n, _nn_{c}, _nd_{c}, CAST(NULL AS DOUBLE), "
            f"CAST(NULL AS DOUBLE), _min_{c}, _max_{c}"
        )
    n = len(num_cols) + len(str_cols)
    return wide.selectExpr(
        f"stack({n}, {', '.join(cells)}) AS "
        "(column_name, n_rows, n_nonnull, n_distinct, min_num, max_num, min_str, max_str)"
    )


@register(
    "dq_price_outliers",
    oracle="""
    WITH b AS (
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.25), 4) AS q1,
               round(quantile_cont(o_totalprice, 0.75), 4) AS q3
        FROM orders GROUP BY 1
    )
    SELECT o.o_orderstatus, b.q1, b.q3,
           CAST(sum(CASE WHEN o.o_totalprice < b.q1 - 1.5 * (b.q3 - b.q1)
                           OR o.o_totalprice > b.q3 + 1.5 * (b.q3 - b.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           count(*) AS n
    FROM orders o JOIN b ON o.o_orderstatus = b.o_orderstatus
    GROUP BY 1, 2, 3
    """,
    tags=("quality", "outliers"),
)
def dq_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit per status: exact interpolated quartiles
    -> 1.5 x IQR bounds -> out-of-fence counts. Two passes by necessity
    (bounds, then membership) but the bounds table is O(groups) and
    broadcasts, so the second pass is scan + conditional count — no
    second shuffle of the fact table. Quartiles rounded to 4dp before the
    fence arithmetic so the boundary comparisons are identical across
    engines."""
    o = table(spark, sf_dir, "orders")
    b = o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("q1"),
        F.round(F.percentile("o_totalprice", F.lit(0.75)), 4).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    out = (F.col("o_totalprice") < F.col("q1") - 1.5 * iqr) | (
        F.col("o_totalprice") > F.col("q3") + 1.5 * iqr
    )
    return (
        o.join(F.broadcast(b), "o_orderstatus")
        .groupBy("o_orderstatus", "q1", "q3")
        .agg(
            F.sum(F.when(out, 1).otherwise(0)).cast("long").alias("n_outliers"),
            F.count("*").alias("n"),
        )
    )


@register(
    "dq_fk_orphans",
    oracle="""
    SELECT 'orders.custkey->customer' AS fk, count(*) AS n_orphans
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem.orderkey->orders' AS fk, count(*) AS n_orphans
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    """,
    tags=("quality", "integrity"),
)
def dq_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for the two fact->dim
    foreign keys (orders.custkey -> customer, lineitem.orderkey ->
    orders), via LEFT ANTI probes — NOT EXISTS semantics, null-safe where
    NOT IN is not. Each probe is one shuffle pair on the key; at scale
    the dim side of the first probe is broadcastable and the second rides
    the fact tables' co-partitioning if they're written ``bucketBy``
    orderkey."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")
    orphan_orders = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count("*").alias("n_orphans"))
        .select(F.lit("orders.custkey->customer").alias("fk"), "n_orphans")
    )
    orphan_items = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count("*").alias("n_orphans"))
        .select(F.lit("lineitem.orderkey->orders").alias("fk"), "n_orphans")
    )
    return orphan_orders.unionByName(orphan_items)


@register(
    "dq_completeness_by_day",
    oracle=f"""
    WITH ev AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               user_id, event_type, value, props
        FROM events
    )
    SELECT day,
           count(*) AS n_events,
           CAST(count(*) FILTER (value IS NULL) AS BIGINT) AS n_null_value,
           CAST(count(*) FILTER (value <= 0) AS BIGINT) AS n_nonpos_value,
           CAST(count(*) FILTER (props IS NULL OR props = '') AS BIGINT) AS n_empty_props,
           CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error_events,
           count(DISTINCT user_id) AS n_users,
           {ratio6_sql('count(value)', 'count(*)')} AS value_completeness
    FROM ev GROUP BY 1
    """,
    tags=("quality", "temporal"),
)
def dq_completeness_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ingest-partition data-quality trend: daily event counts, null /
    non-positive value rates, empty-props counts, distinct users and a
    value-completeness ratio. The global audits (dq_profile,
    dq_orders_constraints) say WHETHER the table is healthy; this one
    says WHEN it stopped being healthy — the view an ingest monitor
    alerts on (a day whose completeness dips is a bad upstream batch).

    Shape at 100 TB: one scan, one narrow shuffle keyed by day (the
    natural ingest partition — with partitioned storage the groupBy
    collapses to per-partition aggregates and the scan prunes to the
    audited window). Exact distinct-user counts per day; swap to
    approx_count_distinct when days hold billions of users."""
    return completeness_by_day(table(spark, sf_dir, "events"))


def completeness_counters() -> list:
    """The per-day quality counters, defined ONCE and shared by the batch
    query (completeness_by_day) and the streaming twin
    (streaming/jobs.stream_completeness_monitor) so the two can never
    drift. count(when(...)) — not sum(cast) — because a predicate over a
    nullable column is NULL on NULL input, and summing all-NULLs yields
    NULL where the oracle's count(*) FILTER yields 0 (the all-NULL day is
    exactly the broken-upstream-batch case this monitor exists to flag)."""
    return [
        F.count("*").alias("n_events"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("n_null_value"),
        F.count(F.when(F.col("value") <= 0, 1)).alias("n_nonpos_value"),
        F.count(
            F.when(F.col("props").isNull() | (F.col("props") == ""), 1)
        ).alias("n_empty_props"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_error_events"),
    ]


def completeness_by_day(ev: DataFrame) -> DataFrame:
    """Frame-level form of dq_completeness_by_day (the streaming twin's
    equality tests aggregate arbitrary event frames through it)."""
    # the completeness ratio is exact-integer
    # ratio6, not the build-sensitive round(double, 6).
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        *completeness_counters(),
        F.countDistinct("user_id").alias("n_users"),
        ratio6("count(value)", "count(*)").alias("value_completeness"),
    )


@register(
    "dq_numeric_drift",
    oracle=f"""
    WITH ev AS (
        SELECT event_type, value,
               event_id % 10 = 0 AS is_batch
        FROM events
    ),
    q AS (
        SELECT event_type,
               quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
                   FILTER (is_batch) AS bq,
               quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
                   FILTER (NOT is_batch) AS cq
        FROM ev GROUP BY 1
    )
    SELECT event_type, {fround_sql('i / 10.0', 2)} AS pct,
           {fround_sql('bq[i]', 4)} AS batch_q,
           {fround_sql('cq[i]', 4)} AS corpus_q,
           {fround_sql('abs(bq[i] - cq[i])', 4)} AS gap
    FROM q CROSS JOIN (SELECT unnest(range(1, 10)) AS i)
    """,
    tags=("quality", "drift", "percentile"),
)
def dq_numeric_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-value drift gate: per event_type, the incoming batch's
    deciles of ``value`` against the standing corpus's — the
    quantile-comparison (KS-style) complement to the categorical PSI gate
    (dq_distribution_drift) and the embedding centroid-shift gate
    (v_embedding_drift). A large gap at any decile flags a shifted value
    distribution even when category mix and means look unchanged.

    One scan; exact interpolated percentiles per (type, split) — both
    engines interpolate identically (type 7 / linear), 4dp-rounded. At
    100 TB swap exact percentile for the approx_percentile sketch (same
    comparison shape, a_approx_stats is the precedent); the decile
    fan-out runs on the tiny per-split aggregate, never the event scan."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", "value", (F.col("event_id") % 10 == 0).alias("is_batch")
    )
    # percentile's percentage argument must be foldable — compute all nine
    # deciles as one literal-array percentile per (type, split) group,
    # then posexplode the 9-element result (no 9x data duplication: the
    # decile fan-out happens on the tiny aggregate, not the event scan)
    pcts = [i / 10.0 for i in range(1, 10)]
    g = ev.groupBy("event_type", "is_batch").agg(
        F.percentile("value", F.array(*[F.lit(p) for p in pcts])).alias("qs")
    )
    e2 = g.select(
        "event_type", "is_batch", F.posexplode("qs").alias("i", "q")
    )
    # every grid cell pins via fround; the gap is
    # computed from the RAW quantiles exactly as the oracle does (the old
    # Spark form diffed the ROUNDED cells — a latent half-grid mismatch).
    out = e2.groupBy("event_type", "i").agg(
        F.max(F.when(F.col("is_batch"), F.col("q"))).alias("_bq"),
        F.max(F.when(~F.col("is_batch"), F.col("q"))).alias("_cq"),
    )
    return out.select(
        "event_type",
        fround((F.col("i") + 1) / 10.0, 2).alias("pct"),
        fround(F.col("_bq"), 4).alias("batch_q"),
        fround(F.col("_cq"), 4).alias("corpus_q"),
        fround(F.abs(F.col("_bq") - F.col("_cq")), 4).alias("gap"),
    )


@register(
    "dq_schema_drift",
    oracle=f"""
    WITH tagged AS (
        SELECT CASE WHEN ts >= TIMESTAMP '2024-01-24' THEN 'new' ELSE 'ref' END AS split,
               user_id, event_type, value, props
        FROM events
    ),
    prof AS (
        SELECT split, 'user_id' AS column_name, count(*) AS n,
               count(user_id) AS n_nonnull, count(DISTINCT user_id) AS n_distinct
        FROM tagged GROUP BY 1
        UNION ALL
        SELECT split, 'event_type', count(*), count(event_type),
               count(DISTINCT event_type) FROM tagged GROUP BY 1
        UNION ALL
        SELECT split, 'value', count(*), count(value),
               count(DISTINCT value) FROM tagged GROUP BY 1
        UNION ALL
        SELECT split, 'props', count(*), count(props),
               count(DISTINCT props) FROM tagged GROUP BY 1
    ),
    r AS (SELECT * FROM prof WHERE split = 'ref'),
    n AS (SELECT * FROM prof WHERE split = 'new')
    SELECT r.column_name,
           r.n AS n_ref, n.n AS n_new,
           {ratio6_sql('r.n - r.n_nonnull', 'r.n')} AS null_rate_ref,
           {ratio6_sql('n.n - n.n_nonnull', 'n.n')} AS null_rate_new,
           ({ratio6_sql('n.n - n.n_nonnull', 'n.n')}
            - {ratio6_sql('r.n - r.n_nonnull', 'r.n')}) AS null_rate_delta,
           r.n_distinct AS distinct_ref, n.n_distinct AS distinct_new
    FROM r JOIN n ON r.column_name = n.column_name
    """,
    tags=("quality", "drift", "profile"),
)
def dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level schema/stats drift between an incoming window (events
    from 2024-01-24 on) and the standing reference: per column, row and
    non-null counts, null-rate delta, and exact distinct cardinalities on
    both sides — the ingest gate that catches a feed silently nulling a
    field or an ID column collapsing to a constant, which the value-
    distribution gates (PSI / deciles / centroid shift) cannot see.
    Physical shape: ONE scan with a derived split tag -> one Expand
    aggregation grouped by split (the dq_profile plan, doubled by the
    2-value split key) -> stack to long + a 4x4-row self-join; at 100 TB
    swap exact distincts for approx_count_distinct in the same pass."""
    ev = table(spark, sf_dir, "events")
    cols = ["user_id", "event_type", "value", "props"]
    split = F.when(F.col("ts") >= F.lit("2024-01-24").cast("timestamp"), "new").otherwise("ref")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [F.count(c).alias(f"_nn_{c}"), F.countDistinct(c).alias(f"_nd_{c}")]
    wide = ev.withColumn("split", split).groupBy("split").agg(*aggs)
    cells = ", ".join(f"'{c}', _n, _nn_{c}, _nd_{c}" for c in cols)
    prof = wide.selectExpr(
        "split", f"stack({len(cols)}, {cells}) AS (column_name, n, n_nonnull, n_distinct)"
    )
    # null rates are exact integer ratios (ratio6:
    # (n - n_nonnull)/n); the delta is the raw difference of the two grid
    # doubles (bit-identical inputs -> bit-identical difference).
    r = prof.filter("split = 'ref'").select(
        "column_name",
        F.col("n").alias("n_ref"),
        ratio6("n - n_nonnull", "n").alias("null_rate_ref"),
        F.col("n_distinct").alias("distinct_ref"),
    )
    n = prof.filter("split = 'new'").select(
        "column_name",
        F.col("n").alias("n_new"),
        ratio6("n - n_nonnull", "n").alias("null_rate_new"),
        F.col("n_distinct").alias("distinct_new"),
    )
    return r.join(n, "column_name").select(
        "column_name",
        "n_ref",
        "n_new",
        "null_rate_ref",
        "null_rate_new",
        (F.col("null_rate_new") - F.col("null_rate_ref")).alias(
            "null_rate_delta"
        ),
        "distinct_ref",
        "distinct_new",
    )


@register(
    "dq_benford_totalprice",
    oracle="""
    WITH obs AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                         AS VARCHAR), 1, 1) AS INT) AS digit,
               count(*) AS n_obs
        FROM orders
        WHERE o_totalprice > 0
        GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_obs) AS DOUBLE) AS n FROM tot_src),
    tot_src AS (SELECT n_obs FROM obs)
    SELECT digit,
           n_obs,
           round(n_obs / (SELECT n FROM tot), 6) AS obs_p,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_p,
           round(abs(n_obs / (SELECT n FROM tot)
                     - log10(1.0 + 1.0 / digit)), 6) AS abs_dev
    FROM obs
    ORDER BY digit
    """,
    tags=("quality", "benford"),
)
def dq_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of order totals — the
    classic synthetic-/fabricated-data detector (Benford's law: natural
    multi-scale amounts have P(first digit = d) = log10(1 + 1/d); uniform
    or generated values don't). One scan + a 9-row aggregate; the
    deviation column is what a DQ gate thresholds. The first digit is
    taken from integer CENTS (round(x*100)) so both engines extract it
    from exact integer arithmetic, never from log10-of-double edge
    cases."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    obs = (
        o.select(
            F.substring(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n_obs"))
    )
    tot = obs.select(F.sum("n_obs").cast("double").alias("_n"))
    benford_p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs") / F.col("_n"), 6).alias("obs_p"),
            F.round(benford_p, 6).alias("benford_p"),
            F.round(F.abs(F.col("n_obs") / F.col("_n") - benford_p), 6).alias("abs_dev"),
        )
        .orderBy("digit")
    )


@register(
    "dq_freshness_sla",
    oracle=f"""
    WITH ev AS ({_EVENTS_US}),
    per_type AS (
        SELECT event_type, count(*) AS n_events, max(ts) AS last_ts
        FROM ev GROUP BY 1
    ),
    gmax AS (SELECT max(last_ts) AS corpus_max FROM per_type)
    SELECT event_type, n_events, last_ts,
        {fround_sql('CAST(epoch_us(corpus_max) - epoch_us(last_ts) AS DOUBLE)'
                    ' / 3600000000.0', 6)} AS hours_behind,
        (epoch_us(corpus_max) - epoch_us(last_ts)) > 24 * 3600000000
            AS sla_breach
    FROM per_type, gmax
    ORDER BY event_type
    """,
    tags=("quality", "freshness"),
)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-freshness SLA gate: per event type, the last event time and
    how many hours it trails the most recent event in the whole log,
    with a 24 h breach flag — the 'which feed went quiet' monitor that
    catches a silent upstream stall before the drift/completeness gates
    can see a distribution change (a dead feed drifts nothing — it just
    stops).

    One scan to a per-type (count, max) aggregate; the corpus max is a
    one-row broadcast back onto it. Lag arithmetic runs on microsecond
    integers (exact) with one IEEE division at the end — cell-exact."""
    ev = table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"), F.max("ts").alias("last_ts")
    )
    glob = per_type.agg(F.max("last_ts").alias("corpus_max"))
    lag_us = F.unix_micros(F.col("corpus_max")) - F.unix_micros(F.col("last_ts"))
    return (
        per_type.crossJoin(F.broadcast(glob))
        .select(
            "event_type",
            "n_events",
            "last_ts",
            # fround pins the 6dp grid of the
            # exact-microsecond lag ratio (round is build surface).
            fround(lag_us.cast("double") / 3600000000.0, 6).alias("hours_behind"),
            (lag_us > 24 * 3600000000).alias("sla_breach"),
        )
        .orderBy("event_type")
    )


@register(
    "dq_partition_gaps",
    oracle="""
    WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders),
    nxt AS (
        SELECT d, LEAD(d) OVER (ORDER BY d) AS next_d FROM d
    )
    SELECT CAST(d + INTERVAL 1 DAY AS DATE) AS gap_start,
        CAST(next_d - INTERVAL 1 DAY AS DATE) AS gap_end,
        CAST(date_diff('day', d, next_d) - 1 AS BIGINT) AS n_days_missing,
        d AS last_present,
        next_d AS next_present
    FROM nxt
    WHERE next_d IS NOT NULL AND date_diff('day', d, next_d) > 1
    ORDER BY gap_start
    """,
    tags=("quality", "gaps", "calendar"),
)
def dq_partition_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-calendar gap audit over the orders date partitions: each
    maximal run of missing days (gaps-and-islands via LEAD over the
    distinct-date spine) with its bounds, length, and the surrounding
    present days — the audit a backfill planner reads to know exactly
    which partitions to regenerate, and the complement of
    dq_freshness_sla (a feed can be fresh NOW and still have holes).

    Scale note on the global window: LEAD runs over the DISTINCT DATE
    spine — a bounded aggregate (|dates| <= calendar length, tens of
    thousands of rows for decades of data) — never over raw orders; the
    single wide exchange is the distinct. Allowlisted in the plan gate
    on that argument (tests/test_plans.py)."""
    o = table(spark, sf_dir, "orders")
    d = o.select(F.to_date("o_orderdate").alias("d")).distinct()
    nxt = d.select("d", F.lead("d").over(W.orderBy("d")).alias("next_d"))
    gap = F.datediff("next_d", "d")
    return (
        nxt.filter(F.col("next_d").isNotNull() & (gap > 1))
        .select(
            F.date_add("d", 1).alias("gap_start"),
            F.date_sub("next_d", 1).alias("gap_end"),
            (gap - 1).cast("long").alias("n_days_missing"),
            F.col("d").alias("last_present"),
            F.col("next_d").alias("next_present"),
        )
        .orderBy("gap_start")
    )


@register(
    "dq_volume_anomaly_mad",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderstatus AS status, CAST(o_orderdate AS DATE) AS d,
            {dsum_sql('o_totalprice')} AS rev
        FROM orders GROUP BY 1, 2
    ),
    med AS (
        SELECT status, round(quantile_cont(rev, 0.5), 4) AS med_rev
        FROM daily GROUP BY 1
    ),
    dev AS (
        SELECT daily.status, d, rev, med_rev,
            round(abs(rev - med_rev), 4) AS adev
        FROM daily JOIN med ON med.status = daily.status
    ),
    mad AS (
        SELECT status, round(quantile_cont(adev, 0.5), 4) AS mad
        FROM dev GROUP BY 1
    )
    SELECT dev.status, d, rev, dev.med_rev, mad.mad,
        round((rev - dev.med_rev) / (1.4826 * mad.mad), 6) AS robust_z
    FROM dev JOIN mad ON mad.status = dev.status
    WHERE mad.mad > 0
      AND abs((rev - dev.med_rev) / (1.4826 * mad.mad)) > 3.5
    ORDER BY dev.status, d
    """,
    tags=("quality", "anomaly", "robust"),
)
def dq_volume_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-revenue anomaly flags per order status using the
    median / MAD estimator: robust z = (x - median) / (1.4826 * MAD),
    flag |z| > 3.5 (the Iglewicz-Hoaglin rule) — the complement to
    w_anomaly_zscore's mean/stddev gate, which a single extreme day can
    mask by inflating the stddev it is judged against; median and MAD
    are 50%-breakdown-point estimators, so the flags survive
    contaminated weeks. Two grouped exact percentiles (the F.percentile
    <-> quantile_cont pairing, each over the bounded DAILY aggregate),
    broadcast back as 3-row tables; deviations rounded at 4dp before
    the second percentile so both engines rank identical values.
    At 100 TB the daily grain keeps state tiny regardless of order
    volume; swap exact percentiles for approx_percentile only if the
    calendar itself explodes."""
    from boxoffice_spark.functions.numeric import dsum

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderstatus").alias("status"), F.to_date("o_orderdate").alias("d")
    ).agg(dsum("o_totalprice").alias("rev"))
    med = daily.groupBy("status").agg(
        F.round(F.percentile("rev", F.lit(0.5)), 4).alias("med_rev")
    )
    dev = daily.join(F.broadcast(med), "status").withColumn(
        "adev", F.round(F.abs(F.col("rev") - F.col("med_rev")), 4)
    )
    mad = dev.groupBy("status").agg(
        F.round(F.percentile("adev", F.lit(0.5)), 4).alias("mad")
    )
    # mad == 0 (over half the days identical) would make z NULL in Spark
    # but +/-inf in DuckDB's ieee mode; the explicit guard keeps the two
    # engines cell-exact on degenerate calendars and mirrors the oracle.
    z = (F.col("rev") - F.col("med_rev")) / (1.4826 * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "status")
        .filter((F.col("mad") > 0) & (F.abs(z) > 3.5))
        .select(
            "status",
            "d",
            "rev",
            "med_rev",
            "mad",
            F.round(z, 6).alias("robust_z"),
        )
        .orderBy("status", "d")
    )


@register(
    "dq_ks_drift",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderstatus AS status,
            CAST(o_orderdate AS DATE) < DATE '1998-01-01' AS first_half,
            {dsum_sql('o_totalprice')} AS rev
        FROM orders
        GROUP BY 1, 2, CAST(o_orderdate AS DATE)
    ),
    n AS (
        SELECT status,
            sum(CASE WHEN first_half THEN 1 ELSE 0 END) AS n_first,
            sum(CASE WHEN first_half THEN 0 ELSE 1 END) AS n_second
        FROM daily GROUP BY 1
    ),
    n2 AS (
        SELECT * FROM n WHERE n_first > 0 AND n_second > 0
    ),
    ecdf AS (
        SELECT daily.status,
            sum(CASE WHEN first_half THEN 1 ELSE 0 END) OVER w AS c1,
            sum(CASE WHEN first_half THEN 0 ELSE 1 END) OVER w AS c2,
            n_first, n_second
        FROM daily JOIN n2 ON n2.status = daily.status
        WINDOW w AS (PARTITION BY daily.status ORDER BY rev
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    stat AS (
        SELECT status, n_first, n_second,
            max(abs(c1 * n_second - c2 * n_first)) AS gap_num,
            n_first * n_second AS gap_den
        FROM ecdf
        GROUP BY status, n_first, n_second
    )
    SELECT status,
        CAST(n_first AS BIGINT) AS n_first,
        CAST(n_second AS BIGINT) AS n_second,
        {ratio6_sql('gap_num', 'gap_den')} AS ks_stat,
        1.358 * sqrt(CAST(n_first + n_second AS DOUBLE)
                     / (n_first * CAST(n_second AS DOUBLE))) AS ks_crit,
        CAST(gap_num AS DOUBLE) / gap_den
            > 1.358 * sqrt(CAST(n_first + n_second AS DOUBLE)
                           / (n_first * CAST(n_second AS DOUBLE))) AS drifted
    FROM stat
    ORDER BY status
    """,
    tags=("quality", "drift", "stats"),
)
def dq_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test on the DISTRIBUTION of
    daily revenue, per order status: did the shape of the daily-revenue
    distribution change between the early era (< 1998) and the late era?
    PSI (dq_distribution_drift) needs binning choices; KS is the
    bin-free exact alternative — D = max |ecdf_early - ecdf_late| over
    the pooled values, compared against the 5% asymptotic critical
    value 1.358 * sqrt((n+m)/nm).

    Both empirical CDFs come from ONE pooled window per status: a
    RANGE-framed running count of each half ordered by the revenue
    value (RANGE, not ROWS, so ties count all their peers on both
    engines — both engines' conditional running sums see the identical
    tie groups because daily revenue is decimal-summed and therefore
    bit-identical). The window runs over the bounded DAILY aggregate
    (a few thousand rows per status regardless of order volume), so at
    100 TB the only corpus-sized work is the first groupBy; the KS
    maximum is a per-status aggregate over that bounded frame. A status
    with NO days in one era has an undefined two-sample KS — those statuses
    are excluded; the one-sided case is already flagged by
    dq_partition_gaps / dq_freshness_sla."""
    o = table(spark, sf_dir, "orders")
    from boxoffice_spark.functions.numeric import dsum

    daily = o.groupBy(
        F.col("o_orderstatus").alias("status"),
        (F.to_date("o_orderdate") < F.lit("1998-01-01")).alias("first_half"),
        F.to_date("o_orderdate").alias("_d"),
    ).agg(dsum("o_totalprice").alias("rev"))
    n = daily.groupBy("status").agg(
        F.sum(F.when(F.col("first_half"), 1).otherwise(0)).alias("n_first"),
        F.sum(F.when(F.col("first_half"), 0).otherwise(1)).alias("n_second"),
    )
    w = (
        W.partitionBy("status")
        .orderBy("rev")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    both = n.filter((F.col("n_first") > 0) & (F.col("n_second") > 0))
    ecdf = daily.join(F.broadcast(both), "status").select(
        "status",
        F.sum(F.when(F.col("first_half"), 1).otherwise(0)).over(w).alias("c1"),
        F.sum(F.when(F.col("first_half"), 0).otherwise(1)).over(w).alias("c2"),
        "n_first",
        "n_second",
    )
    # D is max |c1/n1 - c2/n2| = max |c1*n2 - c2*n1| / (n1*n2): keep the
    # numerator in exact BIGINT through the max so the final cell is the
    # rule-based ratio6 (parity rule 4 — an integer ratio CAN sit on a 6dp
    # grid tie, so round(double, 6) is engine-build-sensitive here).
    gap_num = F.abs(
        F.col("c1") * F.col("n_second") - F.col("c2") * F.col("n_first")
    )
    stat = (
        ecdf.groupBy("status", "n_first", "n_second")
        .agg(F.max(gap_num).alias("gap_num"))
        .withColumn("gap_den", F.col("n_first") * F.col("n_second"))
    )
    crit_s = 1.358 * F.sqrt(
        (F.col("n_first") + F.col("n_second")).cast("double")
        / (F.col("n_first") * F.col("n_second").cast("double"))
    )
    # ks_crit is emitted as the RAW double: 1.358*sqrt((n1+n2)/(n1*n2)) is a
    # chain of correctly-rounded IEEE ops over exact integers, so the full-
    # mantissa double is bit-identical on every conformant build — unlike the
    # dec6 decimal cast it replaces, which mismatched across DuckDB builds
    # (double->decimal-grid rounding is itself build surface).
    return stat.select(
        "status",
        "n_first",
        "n_second",
        ratio6("gap_num", "gap_den").alias("ks_stat"),
        crit_s.alias("ks_crit"),
        (F.col("gap_num").cast("double") / F.col("gap_den") > crit_s).alias(
            "drifted"
        ),
    ).orderBy("status")


@register(
    "dq_l_diversity",
    oracle="""
    WITH cells AS (
        SELECT c_mktsegment,
               CAST(floor(c_acctbal / 50) AS BIGINT) AS bal_bucket,
               count(*) AS group_size,
               count(DISTINCT c_nationkey) AS l_distinct
        FROM customer
        GROUP BY 1, 2
    )
    SELECT c_mktsegment, bal_bucket, group_size, l_distinct
    FROM cells WHERE l_distinct < 5
    """,
    tags=("quality", "privacy"),
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attack k-anonymity misses: a
    quasi-identifier cell can be k-large yet still leak if every member
    shares the same SENSITIVE value (homogeneity attack: 'all 50 people
    in that cell have nationality X' identifies nothing about WHO but
    everything about WHAT). Over the quasi-id (market segment, account-
    balance bucket) with nationality as the sensitive attribute: any
    cell carrying fewer than l=5 distinct sensitive values must be
    generalized or suppressed before release — even when it passes
    dq_k_anonymity's size gate. One scan + one shuffle on the quasi-id
    (countDistinct rides the same hash aggregate); violating cells are
    the distribution's tail, so the output is tiny by construction.
    floor() bucketing on both sides for the portable bucket rule, as in
    dq_k_anonymity. Cell-exact."""
    c = table(spark, sf_dir, "customer")
    cells = c.groupBy(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(50)).alias("bal_bucket"),
    ).agg(
        F.count("*").alias("group_size"),
        F.countDistinct("c_nationkey").alias("l_distinct"),
    )
    return cells.filter(F.col("l_distinct") < 5)


@register(
    "dq_seasonal_anomaly",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d, dayname(CAST(o_orderdate AS DATE)) AS day_name,
            {dsum_sql('o_totalprice')} AS rev
        FROM orders GROUP BY 1, 2
    ),
    tot AS (
        SELECT {dsum_sql('rev')} AS rev_all, count(*) AS days_all FROM daily
    ),
    dow AS (
        SELECT day_name, round(({dsum_sql('rev')} / count(*))
                / (SELECT rev_all / days_all FROM tot), 6) AS idx
        FROM daily GROUP BY 1
    ),
    adj AS (
        SELECT d, daily.day_name, rev,
            round(rev / idx, 4) AS adjusted
        FROM daily JOIN dow ON dow.day_name = daily.day_name
    ),
    med AS (SELECT round(quantile_cont(adjusted, 0.5), 4) AS med FROM adj),
    mad AS (
        SELECT round(quantile_cont(abs(adjusted - med), 0.5), 4) AS mad, med
        FROM adj, med GROUP BY med
    )
    SELECT d, day_name, rev, adjusted,
        round(0.6745 * (adjusted - med) / mad, 4) AS robust_z
    FROM adj, mad
    WHERE mad > 0 AND abs(0.6745 * (adjusted - med) / mad) > 3.5
    ORDER BY d
    """,
    tags=("quality", "anomaly", "seasonality"),
)
def dq_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted daily-revenue anomaly gate — the alarm
    dq_volume_anomaly_mad would false-fire without: a quiet Sunday is
    NOT an anomaly if Sundays always run light. Day-of-week indices
    (w_seasonality_indices' ratio-to-overall decomposition, computed
    in-plan from the same data) divide out the weekly cycle, then the
    robust MAD z-score (0.6745(x - med)/MAD, the dq_volume_anomaly_mad
    rule) flags |z| > 3.5 on the ADJUSTED series — so the gate fires on
    genuinely unusual days, not on the calendar. Index rounded 6dp and
    adjusted values 4dp before the exact interpolated medians so both
    engines compare identical doubles; MAD = 0 yields an empty readout
    on both engines (guarded), never ±inf rows. One shuffle to the
    daily grain; the dow index is a 7-row broadcast, the med/MAD pass
    two bounded one-row aggregates over the calendar-bounded daily
    table. Cell-exact."""
    from boxoffice_spark.functions.numeric import dsum

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("d"),
        F.date_format(F.to_date("o_orderdate"), "EEEE").alias("day_name"),
    ).agg(dsum("o_totalprice").alias("rev"))
    tot = daily.agg(
        dsum("rev").alias("rev_all"), F.count("*").alias("days_all")
    )
    dow = (
        daily.groupBy("day_name")
        .agg(dsum("rev").alias("rev_dow"), F.count("*").alias("n_days"))
        .crossJoin(F.broadcast(tot))
        .select(
            "day_name",
            F.round(
                (F.col("rev_dow") / F.col("n_days"))
                / (F.col("rev_all") / F.col("days_all")),
                6,
            ).alias("idx"),
        )
    )
    adj = daily.join(F.broadcast(dow), "day_name").select(
        "d",
        "day_name",
        "rev",
        F.round(F.col("rev") / F.col("idx"), 4).alias("adjusted"),
    )
    med = adj.agg(F.round(F.percentile("adjusted", F.lit(0.5)), 4).alias("med"))
    mad = (
        adj.crossJoin(F.broadcast(med))
        .agg(
            F.round(
                F.percentile(F.abs(F.col("adjusted") - F.col("med")), F.lit(0.5)),
                4,
            ).alias("mad"),
            F.first("med").alias("med"),
        )
    )
    rz = 0.6745 * (F.col("adjusted") - F.col("med")) / F.col("mad")
    return (
        adj.crossJoin(F.broadcast(mad))
        .filter((F.col("mad") > 0) & (F.abs(rz) > 3.5))
        .select(
            "d",
            "day_name",
            "rev",
            "adjusted",
            F.round(rz, 4).alias("robust_z"),
        )
        .orderBy("d")
    )


@register(
    "dq_order_lineitem_reconcile",
    oracle=f"""
    WITH li AS (
        SELECT l_orderkey,
            CAST(sum({funits_sql(
                'l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)})
                AS BIGINT) AS li_u,
            count(*) AS n_lines
        FROM lineitem GROUP BY 1
    ),
    joined AS (
        SELECT o.o_orderstatus AS status,
            CASE
                WHEN li.l_orderkey IS NULL THEN 'no_lineitems'
                WHEN abs(o.o_totalprice - CAST(li.li_u AS DOUBLE) / 1e6)
                     <= 0.01 * o.o_totalprice THEN 'within_1pct'
                WHEN abs(o.o_totalprice - CAST(li.li_u AS DOUBLE) / 1e6)
                     <= 0.10 * o.o_totalprice THEN 'within_10pct'
                ELSE 'gap_over_10pct'
            END AS bucket,
            o.o_totalprice,
            li.li_u
        FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT status, bucket, count(*) AS n_orders,
        {dsum_sql('o_totalprice')} AS header_total,
        CAST({units_div_sql('sum(coalesce(li_u, 0))', '10000', 0)}
             AS DOUBLE) / 100.0 AS detail_total
    FROM joined
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("quality", "reconciliation", "cross-table"),
)
def dq_order_lineitem_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail financial reconciliation — the first audit any
    warehouse runs across a fact pair: does the order header's total
    match the sum of its line items (extended price net of discount,
    plus tax)? Orders bucket into within-1%, within-10%, over-10%, and
    no-lineitems-at-all (orphan headers — the LEFT join keeps them;
    dq_fk_orphans finds the reverse direction), aggregated per status
    with both sides' money totals so the absolute exposure is visible
    next to the count. Per-line amounts are EXACT 6dp rationals (2dp
    price x 2dp discount x 2dp tax), so they quantize LOSSLESSLY to
    integer micros (funits, not the build-sensitive decimal cast of
    the double product); group sums are exact BIGINT
    micros, detail_total rounds to cents via units_div's exact integer
    HALF_UP (tie-safe on exact half-cent totals, which ARE reachable),
    and one IEEE division emits the double. Bucket thresholds compare
    identical doubles on both engines (a round(x, 2) here once split a
    cent between engines on exact half-cent lines — that class is
    gone). One shuffle of lineitem to the order grain + one
    key join against the header scan + a |status x bucket| aggregate —
    two scans total at any scale, no second pass per rule. Cell-exact."""
    # the per-line amount (flagged by parity_audit's DECCAST detector)
    # is an exact 6dp rational, so it converts to EXACT
    # integer micros via funits (floor-implemented HALF_UP — identical
    # IEEE ops on every build) instead of a decimal cast of the double
    # product; sums, thresholds, and the cent rounding (units_div) are
    # then pure integer arithmetic. Exact while a group's micro total
    # fits BIGINT (~9.2e12 dollars per (status, bucket)).
    from boxoffice_spark.functions.numeric import dsum, funits, units_div

    o = table(spark, sf_dir, "orders")
    amt_u = funits(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax")),
        6,
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(amt_u).alias("li_u"),
            F.count("*").alias("n_lines"),
        )
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    li_total = F.col("li_u").cast("double") / 1e6
    gap = F.abs(F.col("o_totalprice") - li_total)
    bucket = (
        F.when(F.col("l_orderkey").isNull(), "no_lineitems")
        .when(gap <= 0.01 * F.col("o_totalprice"), "within_1pct")
        .when(gap <= 0.10 * F.col("o_totalprice"), "within_10pct")
        .otherwise("gap_over_10pct")
    )
    grouped = (
        j.select(
            F.col("o_orderstatus").alias("status"),
            bucket.alias("bucket"),
            "o_totalprice",
            "li_u",
        )
        .groupBy("status", "bucket")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("header_total"),
            F.sum(F.coalesce(F.col("li_u"), F.lit(0))).alias("_li_u_sum"),
        )
    )
    return grouped.select(
        "status",
        "bucket",
        "n_orders",
        "header_total",
        (
            units_div("_li_u_sum", "10000", 0).cast("double") / 100.0
        ).alias("detail_total"),
    ).orderBy("status", "bucket")


@register(
    "dq_duplicate_payments",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
            {fround_sql('o_totalprice', -4)} AS amt_bucket,
            CAST(o_orderdate AS DATE) AS d
        FROM orders
    )
    SELECT a.o_custkey, a.amt_bucket,
        a.o_totalprice AS amount_a, b.o_totalprice AS amount_b,
        a.o_orderkey AS orderkey_a, b.o_orderkey AS orderkey_b,
        a.d AS date_a, b.d AS date_b,
        date_diff('day', a.d, b.d) AS days_apart
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey
     AND a.amt_bucket = b.amt_bucket
     AND a.o_orderkey < b.o_orderkey
    WHERE abs(date_diff('day', a.d, b.d)) <= 30
    ORDER BY a.o_custkey, a.amt_bucket, orderkey_a, orderkey_b
    """,
    tags=("quality", "audit", "duplicates"),
)
def dq_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment audit — the classic AP fraud/error check: two
    orders from the SAME customer for near-identical amounts (the same
    ten-thousand-dollar bucket — real double-bookings often differ by a
    fee or a rounding pass, so an exact-amount key under-recalls) within 30
    days are duplicate-payment candidates for the auditor's ledger (a
    double-click, a retried batch, a vendor re-invoice). The pair join
    is EQUALITY-keyed on (customer, amount bucket) — a hash shuffle
    join, never a band scan: the date proximity is a cheap residual
    filter on the few within-key pairs, and a (customer, bucket) cell is
    almost always 0 or 1 rows, so the within-key pair expansion is
    bounded by real duplicate volume (the same self-join shape as
    t_exact_dedup's groups, expressed as pairs). Canonical a < b
    ordering dedups the pair list. At 100 TB: one shuffle of
    (custkey, bucket)-keyed rows; no window, no band join, no global
    sort. Cell-exact; non-vacuous at every fixture scale (1 pair at
    sf0.001, 48 at sf0.01, 404 at sf0.1)."""
    # the 10k bucket key pins its rounding via
    # fround (negative-scale round(double, -4) is build surface and a 2dp
    # price CAN sit exactly on a 5000 boundary).
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        fround(F.col("o_totalprice"), -4).alias("amt_bucket"),
        F.to_date("o_orderdate").alias("d"),
    )
    a = o.alias("a")
    b = o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.amt_bucket") == F.col("b.amt_bucket"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .filter(
            F.abs(F.datediff(F.col("b.d"), F.col("a.d"))) <= 30
        )
        .select(
            F.col("a.o_custkey").alias("o_custkey"),
            F.col("a.amt_bucket").alias("amt_bucket"),
            F.col("a.o_totalprice").alias("amount_a"),
            F.col("b.o_totalprice").alias("amount_b"),
            F.col("a.o_orderkey").alias("orderkey_a"),
            F.col("b.o_orderkey").alias("orderkey_b"),
            F.col("a.d").alias("date_a"),
            F.col("b.d").alias("date_b"),
            F.datediff(F.col("b.d"), F.col("a.d")).alias("days_apart"),
        )
        .orderBy("o_custkey", "amt_bucket", "orderkey_a", "orderkey_b")
    )


@register(
    "dq_dp_noisy_release",
    oracle="""
    WITH counts AS (
        SELECT o_orderstatus AS status, count(*) AS true_n
        FROM orders GROUP BY 1
    ),
    noised AS (
        SELECT status, true_n,
            (CAST(('0x' || substring(md5('dp-seed-1:' || status), 1, 15))
                  AS BIGINT) % 1000000 + 0.5) / 1000000.0 AS u
        FROM counts
    )
    SELECT status, true_n,
        round(CASE WHEN u < 0.5 THEN 2.0 * ln(2.0 * u)
                   ELSE -2.0 * ln(2.0 - 2.0 * u) END, 6) AS noise,
        round(true_n + round(CASE WHEN u < 0.5 THEN 2.0 * ln(2.0 * u)
                   ELSE -2.0 * ln(2.0 - 2.0 * u) END, 6), 6) AS released_n,
        0.5 AS epsilon
    FROM noised
    ORDER BY status
    """,
    tags=("quality", "privacy", "dp"),
)
def dq_dp_noisy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Laplace mechanism): per-
    status order counts plus Laplace(sensitivity/epsilon = 1/0.5 = 2)
    noise via the inverse-CDF transform of an md5-derived uniform —
    count queries have sensitivity 1, so released_n is an
    (epsilon=0.5)-DP release of each cell. The noise draw is SEEDED
    (md5 of a fixed seed + the cell key), which a real one-shot DP
    release must also do in retry-prone pipelines: a job that redraws
    fresh noise per retry leaks privacy budget with every attempt —
    determinism here is the privacy-accounting discipline, not a test
    convenience (the seed must rotate per release period and never be
    published; true_n sits alongside for the oracle check and is
    exactly what production would NOT emit). Uniform quantized to 1e-6
    with a half-offset so u is never 0 or 1 (ln stays finite, identical
    on both engines after 6dp rounding). One aggregate + constant-size
    noise math. Cell-exact."""
    o = table(spark, sf_dir, "orders")
    counts = o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("true_n")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dp-seed-1:"), F.col("status"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 1000000
        + 0.5
    ) / 1000000.0
    noise = F.round(
        F.when(u < 0.5, 2.0 * F.log(2.0 * u)).otherwise(
            -2.0 * F.log(2.0 - 2.0 * u)
        ),
        6,
    )
    return (
        counts.select(
            "status",
            "true_n",
            noise.alias("noise"),
            F.round(F.col("true_n") + noise, 6).alias("released_n"),
            F.lit(0.5).alias("epsilon"),
        )
        .orderBy("status")
    )
