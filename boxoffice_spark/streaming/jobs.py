"""Structured Streaming jobs (SURVEY.md §2.9 T2/T3).

The reference's only true stream is the 10-minute goods_stock poll
(goods_stock_pipeline.py:135-139) feeding an append-only log that the
dashboard reduces to latest-state (dashboard.py:105-118). Spark-first, that
is: file/Kafka source -> event-time window aggregation with a watermark ->
sink; and streaming dedup for the state view.

These jobs run the SAME logical plans as queries/incremental.py — the
batch forms are the oracle-checked semantics, these are their incremental
execution. Locally they're driven to completion synchronously with
``availableNow`` over the fixture parquet (bounded source); on a cluster
the trigger becomes ``processingTime='10 minutes'`` against a live source
and nothing else changes.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from boxoffice_spark.functions.numeric import dsum

_EVENTS_SCHEMA_NANOS = (
    "event_id long, ts long, user_id long, event_type string, value double, props string"
)
_EVENTS_SCHEMA_MICROS = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)

# sf_dir -> whether events.ts is physically int64 nanos (fixture drift:
# the driver regenerates testdata per round and has changed this before).
_PROBE_CACHE: dict[str, bool] = {}


def _events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files: int | None = None,
) -> DataFrame:
    """Streaming scan of the events table, applying the same ``ts``
    ingestion rule as tables.table (session-UTC TIMESTAMP whatever the
    fixture's physical type). The file-stream source needs a user-supplied
    schema, so one cheap batch schema probe (footer read, no data scan,
    cached per sf_dir) picks the matching stream schema + conversion. The
    session-wide ``nanosAsLong`` conf is flipped only when the probe
    actually finds an int64 ts — a micros-typed fixture leaves shared
    session state untouched."""
    nanos = _PROBE_CACHE.get(sf_dir)
    if nanos is None:
        try:
            probe = spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
            nanos = isinstance(probe, T.LongType)
        except Exception:
            # nanos-typed footer without the legacy conf raises; retry with it
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            probe = spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
            nanos = isinstance(probe, T.LongType)
        _PROBE_CACHE[sf_dir] = nanos
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the file-stream source wants a directory; glob-filter down to events
    reader = spark.readStream.schema(
        _EVENTS_SCHEMA_NANOS if nanos else _EVENTS_SCHEMA_MICROS
    ).option("pathGlobFilter", glob)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    raw = reader.parquet(sf_dir)
    if nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _each(fn: Callable, state):
    """Apply ``fn`` to a state frame, or to each frame of a state tuple."""
    return tuple(fn(f) for f in state) if isinstance(state, tuple) else fn(state)


def _drain(stream: DataFrame, step: Callable, mode: str = "append"):
    """Drain a bounded stream with ``availableNow`` (process everything,
    then stop: the reference's catch-up semantics, T1), folding each
    micro-batch into state: ``state = step(batch, state)``, with ``state``
    None before the first batch and a DataFrame or a tuple of them after.
    Returns the final state, or None if no batch ran.

    The foreachBatch function runs in this driver process, so the closure
    holds the state between batches: no catalog object carries it, and
    nothing is left registered when the drain ends or a batch fails. The
    batch frame is only valid inside its callback, so every state frame
    is localCheckpointed there, which also keeps lineage from growing by
    one batch per micro-batch. Batch frames belong to the query's own
    session, a clone of the caller's with AQE switched off, so the final
    state is handed back in the caller's session: a union with an empty
    frame of that session, which the optimizer removes (PruneFilters,
    PropagateEmptyRelation)."""
    home = stream.sparkSession
    state = None

    def fold(batch: DataFrame, batch_id: int) -> None:
        nonlocal state
        state = _each(lambda f: f.localCheckpoint(), step(batch, state))

    q = (
        stream.writeStream.outputMode(mode)
        .foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    if state is None:
        return None
    return _each(
        lambda f: home.createDataFrame([], f.schema).where("false").unionByName(f), state
    )


def _run_to_completion(result: DataFrame, mode: str) -> DataFrame:
    """Drain a bounded stream and return its output table. A complete-mode
    batch holds the whole result, so the last one is kept; append-mode
    batches are unioned."""
    if mode == "complete":
        out = _drain(result, lambda batch, prev: batch, mode)
    else:
        out = _drain(
            result,
            lambda batch, prev: batch if prev is None else prev.unionByName(batch),
            mode,
        )
    return result.sparkSession.createDataFrame([], result.schema) if out is None else out


def _upsert(*keys: str) -> Callable:
    """The drain step for an update-mode aggregate: each update row carries
    its key's FULL new total, so replace the changed keys and keep the
    rest. The standing table is then correct after any number of
    micro-batches."""

    def step(update: DataFrame, prev: DataFrame | None) -> DataFrame:
        if prev is None:
            return update
        return prev.join(update.select(*keys), list(keys), "left_anti").unionByName(update)

    return step


def tumbling_window_stream(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """T2: event-time tumbling aggregation with a late-data watermark.

    Complete output mode so every window is emitted on the bounded fixture
    (append mode would hold back windows newer than the final watermark —
    correct for an unbounded stream, surprising for a file replay).
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("value_sum"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "value_sum")
    )
    return _run_to_completion(agg, "complete")


def streaming_dedup_first_per_key(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """T3 (streaming half): watermarked dropDuplicates per key — bounded
    state. Streaming keeps the FIRST arrival per key; the batch
    latest-state view (queries/incremental.py i_latest_state_view) is the
    read-side complement, exactly like the reference's append-log +
    window-on-read split."""
    ev = _events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["user_id", "event_type"])
    return _run_to_completion(deduped.select("user_id", "event_type", "ts", "value"), "append")


def sessionize_stream(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization: ``session_window`` merges events whose
    [ts, ts+gap) windows overlap into one per-user session — the
    incremental execution of queries/incremental.i_sessionize's
    lag+cumsum batch shape. State is one open window per (user, session),
    closed and evictable once the watermark passes ``end`` — O(active
    sessions), not O(events).

    ``session_window`` is also a batch function; the stream==batch
    equality test (tests/test_streaming.py) runs the identical groupBy in
    batch mode, so the streaming execution is checked against the same
    logical plan rather than a hand-written twin. Boundary note vs
    i_sessionize: window overlap is strict (< gap), while the batch
    lag-form splits on ``> gap`` — an event at exactly gap distance
    starts a new session here; the fixture's microsecond timestamps make
    exact-gap collisions measure-zero, and the equality test does not
    depend on it.
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("value_sum"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            # session_window end = last event ts + gap; subtracting the gap
            # recovers max(ts), matching i_sessionize's session_end column.
            (F.col("w.end") - F.expr(f"INTERVAL {gap}")).alias("session_end"),
            "n_events",
            "value_sum",
        )
    )
    return _run_to_completion(agg, "complete")


def stream_stream_attribution_join(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked stream-stream inner join: click events joined to the
    purchase they precede (same user, within the hour before it) — the
    incremental execution of queries/temporal.j_attribution_window's hit
    set. Both sides carry a watermark and the join condition bounds
    event-time distance, so Spark can expire buffered rows: state per key
    is O(events inside the watermark horizon), not O(stream). On a real
    cluster the same plan runs against two live sources; here the bounded
    fixture replay drains with availableNow.
    """
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id
            AND click_ts >= purchase_ts - INTERVAL 1 HOUR
            AND click_ts < purchase_ts
            """
        ),
        "inner",
    ).select("purchase_id", "click_id", "user_id", "purchase_ts", "click_ts")
    return _run_to_completion(joined, "append")


def stream_static_enrich(
    spark: SparkSession, sf_dir: str, event_type: str = "purchase"
) -> DataFrame:
    """Stream-static enrichment: the event stream left-joined to the
    STATIC customer dimension (user_id -> c_custkey) — the micro-batch
    lookup-join every ingest pipeline runs (enrich each event with the
    customer's segment before sinking). The static side is broadcast
    into every micro-batch; no state is kept between batches (unlike
    stream-stream joins), so the join adds zero streaming state and the
    dim can be swapped between restarts. Filtered to one event type so
    the append-mode output stays bounded."""
    ev = _events_stream(spark, sf_dir).filter(F.col("event_type") == event_type)
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_nationkey").alias("nation_key"),
        )
    )
    enriched = ev.join(F.broadcast(dim), "user_id", "left").select(
        "event_id", "user_id", "ts", "value", "segment", "nation_key"
    )
    return _run_to_completion(enriched, "append")


def stream_corpus_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest gate: the incoming document stream is admitted only
    when its content fingerprint is unseen — neither in the STATIC standing
    corpus (stream-static LEFT ANTI per micro-batch; the corpus is never
    broadcast, Spark hash-joins each batch against it) nor earlier in the
    stream itself (stateful dropDuplicates on the 16-byte fingerprint —
    state is O(admitted fingerprints), the only state a dedup gate can't
    avoid; at cluster scale bound it with
    ``dropDuplicatesWithinWatermark`` over an ingest-time column).

    This is the incremental execution of t_incremental_dedup
    (queries/text_pipeline.py): same fingerprint rule, same corpus/batch
    split (doc_id % 10), and the admitted fingerprint SET is equal —
    asserted in tests/test_streaming.py. (The batch twin's keeper_id =
    min(doc_id) is a deterministic convention; a stream admits the FIRST
    arrival instead, so the test compares fingerprint sets, not keepers.)
    """
    from boxoffice_spark.operators.dedup import normalized_text

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    incoming = raw.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.md5(normalized_text("text")).alias("fingerprint")
    )
    corpus = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 10 != 0)
        .select(F.md5(normalized_text("text")).alias("fingerprint"))
        .distinct()
    )
    admitted = incoming.join(corpus, "fingerprint", "left_anti").dropDuplicates(
        ["fingerprint"]
    )
    return _run_to_completion(admitted.select("doc_id", "fingerprint"), "append")


def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-drift monitor: the incoming document stream's
    per-language mix is compared against the STATIC standing-corpus mix
    as PSI terms — the monitoring twin of the batch gate
    dq_distribution_drift (queries/quality.py), and the pattern for
    metrics whose formula needs a static-side join AFTER a streaming
    aggregation (stream-static joins are not allowed downstream of a
    streaming agg, but the drained counts are a plain batch DataFrame).

    The stream aggregates per-language counts in update mode; each batch
    MERGES the changed languages' counts into the standing counts
    (update-mode batches carry only changed languages, each with its full
    updated total), so the counts are correct after any number of
    micro-batches (maxFilesPerTrigger=1 forces one batch per input file).
    EVERY language's PSI term is then computed once from the drained
    counts, so denominators are global and the table equals the batch
    query's output exactly — asserted in tests/test_streaming.py for both
    the single-file and the split-file (multi-batch) layouts.
    """
    from pyspark.sql import Window

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    batch_counts = (
        raw.filter(F.col("doc_id") % 10 == 0).groupBy("lang").agg(
            F.count("*").cast("long").alias("n_batch")
        )
    )
    corpus = (
        spark.read.option("pathGlobFilter", "documents*.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 10 != 0)
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_corpus"))
    )
    merged = _drain(batch_counts, _upsert("lang"), "update")
    # ALL psi terms from the merged counts: global denominators, never the
    # last update's partial sum, so the table matches the batch query
    w = Window.partitionBy()
    joined = merged.join(corpus, "lang", "full_outer").select(
        "lang",
        F.coalesce("n_corpus", F.lit(0)).alias("n_corpus"),
        F.coalesce("n_batch", F.lit(0)).alias("n_batch"),
    )
    p = F.col("n_corpus").cast("double") / F.sum("n_corpus").over(w)
    q = F.col("n_batch").cast("double") / F.sum("n_batch").over(w)
    # zero-count guard mirrors quality.psi_drift_terms: NULL psi_term
    # = one-sided language = alert, never log(0)
    term = F.when(
        (F.col("n_corpus") > 0) & (F.col("n_batch") > 0),
        F.round((q - p) * F.log(q / p), 6),
    )
    return joined.select("lang", "n_corpus", "n_batch", term.alias("psi_term"))


def stream_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of v_embedding_drift: the incoming embedding stream's
    per-label centroid is tracked incrementally and compared against the
    STATIC standing-corpus centroid. Same multi-batch-safe pattern as
    stream_drift_monitor: the update-mode stream aggregates per-(label,
    dim) decimal sums + counts (each update row carries the full new total
    for its key), each batch MERGES changed keys into the standing sums,
    and EVERY label's shift is computed once from the drained sums — so
    the table equals the batch query exactly (asserted in
    tests/test_streaming.py, single- and split-file layouts). State is
    O(labels x dims) — independent of stream length."""
    schema = "vec_id long, embedding array<float>, label int"
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    batch_sums = (
        raw.filter(F.col("vec_id") % 10 == 0)
        .select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "val"),
        )
        .groupBy("label", "dim")
        .agg(dsum("val", 9).alias("s_batch"), F.count("*").alias("n_batch"))
    )
    static = spark.read.option("pathGlobFilter", "embeddings*.parquet").parquet(sf_dir)
    corpus_dims = (
        static.filter(F.col("vec_id") % 10 != 0)
        .select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "val"),
        )
        .groupBy("label", "dim")
        .agg(
            (dsum("val", 9) / F.count("val")).alias("cm"),
            F.count("*").alias("n_corpus"),
        )
    )
    merged = _drain(batch_sums, _upsert("label", "dim"), "update")
    # FULL OUTER on (label, dim): a label with no batch vectors (or no
    # corpus vectors) must still emit its row — with count 0 and a NULL
    # shift — exactly as the batch twin's conditional aggregates do; an
    # inner join would silently drop one-sided labels.
    per_dim = merged.join(corpus_dims, ["label", "dim"], "full_outer").select(
        "label",
        "dim",
        "cm",
        (F.col("s_batch") / F.col("n_batch")).alias("bm"),
        "n_corpus",
        "n_batch",
    )
    shift = (F.col("cm") - F.col("bm")) * (F.col("cm") - F.col("bm"))
    return (
        per_dim.groupBy("label")
        .agg(
            # per-dim counts are all equal; coalesce covers one-sided labels
            F.coalesce(F.max("n_corpus"), F.lit(0)).alias("n_corpus"),
            F.coalesce(F.max("n_batch"), F.lit(0)).cast("long").alias("n_batch"),
            F.round(dsum(shift, 12), 9).alias("centroid_shift_sq"),
        )
        .select("label", "n_corpus", "n_batch", "centroid_shift_sq")
    )


def stream_completeness_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of dq_completeness_by_day: the incoming event
    stream's per-day quality counters, maintained across micro-batches
    with the same merge-by-key pattern as stream_drift_monitor. The
    update-mode aggregation emits the FULL new totals for each changed
    day, so the merge is replace-changed-days (``_upsert``) — the standing
    table is correct after any number of micro-batches and after the
    availableNow drain equals the batch query exactly on the
    exact-counter columns (asserted in tests/test_streaming.py, single-
    and split-file layouts).

    Distinct users per day — which countDistinct cannot provide in a
    streaming aggregation (it needs per-user state) — ships as a
    DataSketches HLL sketch column instead: hll_sketch_agg is mergeable,
    so update-mode rows carry the full updated sketch per day and the
    estimate is read off the standing table (``n_users_approx``,
    within-5%-of-exact asserted in tests). State is O(days) —
    independent of stream length."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    from boxoffice_spark.queries.quality import completeness_counters

    # counter expressions are SHARED with the batch twin (one definition
    # in queries/quality.py) so stream and batch can never drift
    daily = raw.groupBy(F.to_date("ts").alias("day")).agg(
        *completeness_counters(),
        F.count("value").alias("_n_value_present"),
        F.hll_sketch_agg("user_id").alias("_users_sketch"),
    )
    merged = _drain(daily, _upsert("day"), "update")
    if merged is None:
        merged = spark.createDataFrame([], daily.schema)
    return merged.select(
        "day",
        "n_events",
        "n_null_value",
        "n_nonpos_value",
        "n_empty_props",
        "n_error_events",
        F.round(
            F.col("_n_value_present").cast("double") / F.col("n_events"), 6
        ).alias("value_completeness"),
        F.hll_sketch_estimate("_users_sketch").alias("n_users_approx"),
    )


def stream_cluster_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup-CLUSTER maintenance: each micro-batch's documents
    are SimHash-fingerprinted, probe the standing fingerprint table for
    near-dup pairs (pigeonhole chunk postings joined batch-side-only, so
    candidate work is batch x seen-so-far — standing x standing pairs are
    never regenerated), and the standing component labeling absorbs the
    new pairs through operators/graph.incremental_components' quotient-
    graph merge. State is two driver-anchored tables — fingerprints
    (O(docs), 8 bytes each) and labels (O(clustered docs)) — never the
    pair graph, and the iterative merge each batch runs on a super-graph
    with one node per AFFECTED cluster.

    After the availableNow drain the final labeling equals
    t_dedup_clusters' from-scratch output exactly, label for label
    (tests/test_streaming.py, single- and split-file layouts): every
    qualifying pair is generated exactly when its later endpoint arrives,
    an intra-cluster duplicate pair is a no-op in the merge, and the
    quotient merge preserves min-labels — so the fixpoint is order-
    independent. A source with no matching files gives an empty
    labeling.
    """
    from boxoffice_spark.operators.dedup import (
        SIMHASH_MAX_HAMMING,
        simhash,
        simhash_chunk_postings,
    )
    from boxoffice_spark.operators.graph import incremental_components

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
        .select("doc_id", "text")
    )
    no_labels = spark.createDataFrame([], "node long, cluster_id long")

    def postings_of(sh: DataFrame) -> DataFrame:
        # shared chunking expression (operators/dedup.simhash_chunk_postings)
        # so the streaming probe and the batch pair generator cannot drift
        return simhash_chunk_postings(sh, ["doc_id"])

    def merge_batch(update: DataFrame, prev: tuple | None) -> tuple:
        bsh = simhash(update, "doc_id", "text").select("doc_id", "simhash").localCheckpoint()
        labels, standing_fp = prev or (no_labels, None)
        # batch postings probe seen-so-far INCLUDING the batch itself, so
        # intra-batch pairs are caught; unordered dedup collapses the
        # doubled intra-batch candidates
        union_fp = bsh if standing_fp is None else standing_fp.unionByName(bsh)
        cand = (
            postings_of(bsh)
            .alias("a")
            .join(postings_of(union_fp).alias("b"), ["_chunk", "_val"])
            .filter(F.col("a.doc_id") != F.col("b.doc_id"))
            .select(
                F.least("a.doc_id", "b.doc_id").alias("id_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
                F.col("a.simhash").alias("_sa"),
                F.col("b.simhash").alias("_sb"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        pairs = cand.filter(
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))) <= SIMHASH_MAX_HAMMING
        ).select("id_a", "id_b")
        return incremental_components(labels, pairs, "id_a", "id_b"), union_fp

    state = _drain(raw, merge_batch)
    labels = no_labels if state is None else state[0]
    return labels.select(F.col("node").alias("doc_id"), "cluster_id")


def stream_scd2_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 dimension maintenance — the incremental twin of
    e_scd2_history, closing the reference's last incremental loop
    (goods_event upsert cadence -> dimension history -> as-of read,
    movie_events_scraper.py feeding the dashboard's historical view):
    each micro-batch of signup change events is MERGED into a standing
    validity-interval table, the algebraic MERGE INTO a warehouse runs
    per CDC increment.

    Per batch (a plain batch DataFrame inside foreachBatch):

    1. the batch's own SCD2 fragment — intra-batch lead() over
       (user_id, ts, event_id), last row per user left OPEN;
    2. standing OPEN intervals of users present in the batch are CLOSED
       at the batch's first change ts for that user (is_current -> false);
    3. closed standing rows and open rows of untouched users pass through
       unchanged — O(batch + changed keys) work, the standing history is
       never rebuilt.

    Ordering contract (stated, and the standard CDC-feed guarantee): the
    feed is per-key event-time ordered across batches — a change never
    arrives after a later change for the same key has been absorbed. Late
    corrections are a reprocess/backfill concern (e_backfill_overwrite),
    not silent merge input. Under that contract the standing table after
    the availableNow drain equals e_scd2_history EXACTLY (row for row,
    including is_current flags) for any time-ordered file split, and the
    point-in-time filter over it equals e_scd2_asof_read — both asserted
    in tests/test_streaming.py.

    State size: the standing table is the dimension history itself
    (O(changes)), held as a checkpointed frame on the driver; on a
    cluster the same merge writes a keyed table (foreachBatch + MERGE
    INTO on Delta/Iceberg) and nothing else changes.
    """
    from pyspark.sql import Window

    raw = _events_stream(spark, sf_dir, glob="events*.parquet", max_files=1)
    changes = raw.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id", F.col("value").alias("attr_value")
    )

    def merge_batch(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        nxt = F.lead("ts").over(w)
        frag = batch.select(
            "user_id",
            F.col("ts").alias("valid_from"),
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
            "attr_value",
        )
        if prev is None:
            return frag
        firsts = batch.groupBy("user_id").agg(F.min("ts").alias("_first_ts"))
        open_rows = prev.filter(F.col("is_current"))
        closed_now = (
            open_rows.join(firsts, "user_id")
            .select(
                "user_id",
                "valid_from",
                F.col("_first_ts").alias("valid_to"),
                F.lit(False).alias("is_current"),
                "attr_value",
            )
        )
        untouched_open = open_rows.join(firsts, "user_id", "left_anti")
        return (
            prev.filter(~F.col("is_current"))
            .unionByName(closed_now)
            .unionByName(untouched_open)
            .unionByName(frag)
        )

    # the events.parquet probe guarantees at least one batch; a feed with
    # no change rows drains to an empty dimension, not an error
    return _drain(changes, merge_batch)


def stream_kmv_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of per-event-type KMV distinct sketches —
    the incremental twin of the a_kmv_overlap estimator
    (operators/sketch): each micro-batch's distinct (type, element)
    hashes are unioned into a standing k-min sketch table and re-selected
    down to k rows per group.

    The merge needs NO ordering contract at all — k-min selection is
    associative, commutative and idempotent (the k smallest of a union
    don't care how the union arrived, and re-seeing an element is a
    distinct-set no-op), so the standing sketch after the availableNow
    drain equals the batch-computed sketch EXACTLY for ANY file split or
    arrival order — the strongest stream==batch contract in this module
    (asserted in tests/test_streaming.py, single- and multi-batch).
    Contrast the SCD2 merge above, which is only split-invariant for
    time-ordered feeds.

    The element here is (user_id, activity day) so per-type distinct
    counts exceed k and the estimator actually estimates; state is
    O(groups × k) rows — independent of stream length — and the distinct
    estimate is read off the standing table whenever asked, never by
    rescanning history. On a cluster the same merge writes a keyed
    sketch table; mergeability is what makes the sketch a table you can
    UNION tomorrow's partition into."""
    from boxoffice_spark.operators.sketch import kmv_estimate, kmv_hash, kmv_kmin

    k = 64
    raw = _events_stream(spark, sf_dir, glob="events*.parquet", max_files=1)

    def merge(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        upd = batch.select(
            F.col("event_type"),
            kmv_hash(
                F.concat_ws(":", F.col("user_id"), F.to_date("ts"))
            ).alias("h"),
        ).distinct()
        if prev is not None:
            upd = prev.unionByName(upd).distinct()
        return kmv_kmin(upd, ["event_type"], "h", k)

    return (
        _drain(raw, merge)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_sketch"), F.max("h").alias("kth_hash"))
        .select(
            "event_type",
            "n_sketch",
            "kth_hash",
            F.round(
                kmv_estimate(F.col("n_sketch"), F.col("kth_hash"), k), 3
            ).alias("est_distinct"),
        )
        .orderBy("event_type")
    )


def stream_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the first-order Markov transition matrix —
    the incremental twin of w_event_transitions. Two pieces of standing
    state:

    1. the transition COUNTS table (from_type, to_type, n) — counts are
       additive, so per-batch increments merge by summation;
    2. the LAST-EVENT-per-user table — the piece that makes the stream
       twin exact: a user's final event in batch k and first event in
       batch k+1 form a transition that no within-batch lead() can see.
       Each batch contributes (standing last -> batch first) boundary
       steps, then advances the standing last to its own per-user final
       event.

    Ordering contract (same as stream_scd2_maintenance, the standard CDC
    guarantee): the feed is per-key event-time ordered across batches.
    Under it the drained matrix equals the batch derivation EXACTLY —
    integer counts, cell for cell — for any time-ordered file split
    (asserted single- and multi-batch in tests/test_streaming.py).

    State size: |event_types|^2 counts + one row per active user — both
    tiny next to the log; on a cluster the last-event table is the
    natural applyInPandasWithState / MERGE INTO keyed store."""
    from pyspark.sql import Window

    raw = _events_stream(spark, sf_dir, glob="events*.parquet", max_files=1)
    ev = raw.select("user_id", "ts", "event_id", "event_type")

    def merge_batch(batch: DataFrame, prev: tuple | None) -> tuple:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        wd = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        increments = (
            batch.select(
                "user_id",
                F.col("event_type").alias("from_type"),
                F.lead("event_type").over(w).alias("to_type"),
            )
            .filter(F.col("to_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count("*").alias("n"))
        )
        lasts = (
            batch.withColumn("_rn", F.row_number().over(wd))
            .filter(F.col("_rn") == 1)
            .select("user_id", "ts", "event_id", "event_type")
        )
        if prev is None:
            new_last = lasts
        else:
            counts, standing_last = prev
            firsts = (
                batch.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("user_id", F.col("event_type").alias("_first_type"))
            )
            boundary = (
                standing_last.select(
                    "user_id", F.col("event_type").alias("from_type")
                )
                .join(firsts, "user_id")
                .groupBy("from_type", F.col("_first_type").alias("to_type"))
                .agg(F.count("*").alias("n"))
            )
            increments = counts.unionByName(increments).unionByName(boundary)
            new_last = (
                standing_last.join(lasts.select("user_id"), "user_id", "left_anti")
                .unionByName(lasts)
            )
        counts = increments.groupBy("from_type", "to_type").agg(
            F.sum("n").alias("n")
        )
        return counts, new_last

    # the events.parquet probe guarantees at least one batch
    counts, _ = _drain(ev, merge_batch)
    norm = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        F.col("n").alias("n_transitions"),
        F.round(
            F.col("n").cast("double") / F.sum("n").over(norm), 6
        ).alias("p_transition"),
    ).orderBy("from_type", "to_type")


def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the exact phi-heavy-hitter term set — the
    incremental twin of t_heavy_hitters (operators/sketch.heavy_hitters).
    Each micro-batch runs the per-partition Misra-Gries summarizer over
    its OWN tokens and unions the survivors into a standing candidate
    table; after the availableNow drain, one exact recount over the full
    corpus (operators/sketch.exact_recount — the same shared phase the
    batch tier ends with) turns candidates into exact counts.

    Why the result equals the batch output EXACTLY for ANY file split or
    arrival order: the MG guarantee is per summarized unit — any term
    with count > unit_n / capacity survives its unit — and a globally
    phi-heavy term must be phi-heavy in at least one unit (pigeonhole
    over any partition of the corpus, whether Spark partitions or
    micro-batches). So the standing candidate set is always a SUPERSET
    of the true heavy hitters, set-union is order-free, and the exact
    recount filters the superset down to the identical final table. The
    candidate state is O(capacity x units) rows, independent of corpus
    size; the one full-corpus pass happens once at read time, exactly as
    in the batch tier."""
    from boxoffice_spark.operators import textstats as TS
    from boxoffice_spark.operators.sketch import _mg_candidates, exact_recount

    phi = 0.02
    capacity = 50  # ceil(1 / phi)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )

    def merge(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        toks = batch.select(F.explode(TS.words_of("text")).alias("term"))
        upd = _mg_candidates(toks, "term", capacity).distinct()
        return upd if prev is None else prev.unionByName(upd).distinct()

    cands = _drain(raw, merge)
    if cands is None:
        # no matching files -> no batch ran; empty readout
        return spark.createDataFrame(
            [], "term string, term_count bigint, frac double"
        )
    corpus_toks = (
        spark.read.option("pathGlobFilter", "documents*.parquet")
        .parquet(sf_dir)
        .select(F.explode(TS.words_of("text")).alias("term"))
    )
    return exact_recount(corpus_toks, cands, "term", phi)


# Equi-width histogram contract for the streaming quantile sketch: bin
# width 4.0 over the events.value range (~0-500 -> ~125 live bins per
# type). The worst-case quantile error the readout reports is TWO bin
# widths: the estimate lands anywhere inside its target-rank bin (one
# width) and the exact type-7 percentile's rank convention ((N-1)q+1 vs
# this readout's qN) differs by under one rank, which can place the
# exact value in the ADJACENT bin (a second width). State is
# O(types x |bins|), independent of stream length.
QH_BIN_WIDTH = 4.0
QH_ERR_BOUND = 2 * QH_BIN_WIDTH


def quantile_hist_readout(hist: DataFrame, bin_width: float = QH_BIN_WIDTH) -> DataFrame:
    """Per-type p50/p95 estimates from an equi-width histogram
    (event_type, bin, cnt): cumulative counts over the bounded bin list
    locate the target-rank bin, linear interpolation within it places the
    estimate (the classic equi-width histogram quantile — error <= two
    bin widths vs the exact type-7 percentile: one for within-bin
    placement, one for the rank-convention offset; see QH_ERR_BOUND).
    The window runs per type over |bins| rows, never over raw events."""
    from pyspark.sql import Window as W

    wcum = (
        W.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "bin",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n_rows"),
        F.count("*").over(wall).alias("n_bins"),
    )
    qs = hist.sparkSession.createDataFrame(
        [(0.5,), (0.95,)], "q double"
    )
    tagged = cum.crossJoin(F.broadcast(qs))
    target = F.col("q") * F.col("n_rows")
    inbin = tagged.filter(
        (F.col("cum") >= target) & ((F.col("cum") - F.col("cnt")) < target)
    )
    est = (
        F.col("bin") * F.lit(bin_width)
        + (target - (F.col("cum") - F.col("cnt")))
        / F.col("cnt")
        * F.lit(bin_width)
    )
    picked = inbin.select(
        "event_type", "n_rows", "n_bins", "q", F.round(est, 4).alias("est")
    )
    return (
        picked.groupBy("event_type", "n_rows", "n_bins")
        .agg(
            F.max(F.when(F.col("q") == 0.5, F.col("est"))).alias("est_p50"),
            F.max(F.when(F.col("q") == 0.95, F.col("est"))).alias("est_p95"),
        )
        .select(
            "event_type",
            "n_rows",
            "n_bins",
            "est_p50",
            "est_p95",
            F.lit(2 * bin_width).alias("err_bound"),
        )
        .orderBy("event_type")
    )


def stream_quantile_histogram_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of per-event-type equi-width histogram
    quantile sketches — the mergeable-quantile member of the sketch
    family (KMV distinct, HLL rollup, Misra-Gries heavy hitters, and now
    quantiles): each micro-batch's (type, bin) counts ADD into a standing
    histogram; p50/p95 read off the drained
    histogram by cumulative interpolation with a hard two-bin-width error
    bound (QH_ERR_BOUND).

    Count addition is associative and commutative, so the drained
    histogram equals the batch-computed histogram EXACTLY for ANY file
    split or arrival order (the additive contract of the drift /
    completeness twins; asserted single- and multi-batch in
    tests/test_streaming.py) — and therefore so does every quantile read
    from it. Not idempotent (re-delivering a file would double-count) —
    exactly-once file semantics come from the availableNow source, as
    with every additive twin here. State is O(types x |bins|) rows,
    independent of stream length; on a cluster the same merge maintains
    a keyed histogram table that tomorrow's partition UNIONs into, which
    is what makes a quantile readout possible without ever re-sorting
    history — the streaming substitute for percentile() at 100 TB."""
    raw = _events_stream(spark, sf_dir, glob="events*.parquet", max_files=1)

    def merge(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        upd = (
            batch.select(
                "event_type",
                F.floor(F.col("value") / F.lit(QH_BIN_WIDTH)).alias("bin"),
            )
            .groupBy("event_type", "bin")
            .agg(F.count("*").alias("cnt"))
        )
        if prev is None:
            return upd
        return (
            prev.unionByName(upd)
            .groupBy("event_type", "bin")
            .agg(F.sum("cnt").alias("cnt"))
        )

    # the events.parquet probe guarantees at least one batch
    return quantile_hist_readout(_drain(raw, merge))


# only the columns the job touches: parquet readStream prunes to the
# user schema, and omitting l_shipdate sidesteps the fixture's
# timestamp physical-type drift entirely (no ts logic here)
_LINEITEM_STREAM_SCHEMA = (
    "l_orderkey long, l_extendedprice double, l_discount double, "
    "l_tax double"
)


def stream_reconcile_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the header-vs-detail reconciliation
    (queries/quality.dq_order_lineitem_reconcile's twin): line items
    arrive as a file stream and each micro-batch's per-order detail
    sums ADD into a standing (order, detail_decimal, n_lines) table;
    at drain the standing table joins the
    header scan once and emits the identical bucket report. Decimal
    addition is associative/commutative, so the drained per-order sums
    — and therefore every bucket decision and money total — equal the
    batch audit EXACTLY for ANY file split or arrival order (asserted
    single- and multi-batch in tests/test_streaming.py). This is the
    shape a continuous AP audit runs in production: detail feeds land
    all day, the standing order-grain state is O(orders), and the
    report reads off state instead of rescanning the detail history.
    The per-line amount keeps the batch query's exactness contract
    (exact 6dp rational, decimal-summed at scale 6; cents rounded in
    DECIMAL space at readout)."""
    raw = (
        spark.readStream.schema(_LINEITEM_STREAM_SCHEMA)
        .option("pathGlobFilter", "lineitem*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )

    def merge(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        upd = batch.groupBy("l_orderkey").agg(
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ).cast("decimal(27,6)")
            ).alias("li_dec"),
            F.count("*").alias("n_lines"),
        )
        if prev is None:
            return upd
        return (
            prev.unionByName(upd)
            .groupBy("l_orderkey")
            .agg(
                F.sum("li_dec").alias("li_dec"),
                F.sum("n_lines").alias("n_lines"),
            )
        )

    sums = _drain(raw, merge)
    from boxoffice_spark.tables import table as _table

    o = _table(spark, sf_dir, "orders")
    if sums is None:
        li = spark.createDataFrame([], "l_orderkey long, li_total double")
    else:
        li = sums.select("l_orderkey", F.col("li_dec").cast("double").alias("li_total"))
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    gap = F.abs(F.col("o_totalprice") - F.col("li_total"))
    bucket = (
        F.when(F.col("l_orderkey").isNull(), "no_lineitems")
        .when(gap <= 0.01 * F.col("o_totalprice"), "within_1pct")
        .when(gap <= 0.10 * F.col("o_totalprice"), "within_10pct")
        .otherwise("gap_over_10pct")
    )
    return (
        j.select(
            F.col("o_orderstatus").alias("status"),
            bucket.alias("bucket"),
            "o_totalprice",
            "li_total",
        )
        .groupBy("status", "bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
            .cast("double")
            .alias("header_total"),
            F.round(
                F.sum(
                    F.coalesce(F.col("li_total"), F.lit(0.0)).cast(
                        "decimal(27,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("detail_total"),
        )
        .orderBy("status", "bucket")
    )
