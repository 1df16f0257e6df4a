"""Streaming jobs vs their batch twins: the tumbling-window stream must
produce exactly the batch aggregation (same logical plan, incremental
execution); streaming dedup must keep one row per key."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql.streaming import StreamingQueryListener

from boxoffice_spark.queries.incremental import i_tumbling_window
from boxoffice_spark.streaming.jobs import (
    streaming_dedup_first_per_key,
    tumbling_window_stream,
)


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _pin_file_order(*paths):
    """Pin strictly increasing whole-second mtimes on the split files.

    FileStreamSource orders files oldest-mtime-first; two back-to-back
    writes can land on the SAME mtime (filesystem granularity), making
    micro-batch order a coin flip. Order-dependent twins (CDC/SCD2,
    transitions, first-arrival dedup) document "batches arrive in event
    order" — the fixture must actually guarantee it.
    """
    import os
    import time

    base = int(time.time()) - 60 * len(paths)
    for i, p in enumerate(paths):
        t = base + 30 * i
        os.utime(str(p), (t, t))


@pytest.fixture
def batches(spark):
    """Records the micro-batches of the streaming queries started during
    the test. Call the yielded function after the job returns: it waits
    for a query's termination event (listener events arrive
    asynchronously, and a query's progress events precede its
    termination) and returns [(batchId, numInputRows)] of the batches
    that read rows. A split-file test asserts two or more, so a glob or
    mtime slip that folds both files into one batch cannot pass
    unnoticed."""
    started: set[str] = set()
    progress: list[tuple[int, int]] = []
    terminated = threading.Event()

    class Recorder(StreamingQueryListener):
        def onQueryStarted(self, event):
            started.add(str(event.id))

        def onQueryProgress(self, event):
            p = event.progress
            if str(p.id) in started and p.numInputRows > 0:
                progress.append((p.batchId, p.numInputRows))

        def onQueryTerminated(self, event):
            if str(event.id) in started:
                terminated.set()

    recorder = Recorder()
    spark.streams.addListener(recorder)

    def read() -> list[tuple[int, int]]:
        assert terminated.wait(60), "no termination event for the drained query"
        return list(progress)

    yield read
    spark.streams.removeListener(recorder)


def test_tumbling_stream_equals_batch(spark, sf_dir):
    streamed = tumbling_window_stream(spark, sf_dir)
    batch = i_tumbling_window(spark, sf_dir)
    assert _sorted_rows(streamed) == _sorted_rows(batch)


def test_sessionize_stream_equals_batch(spark, sf_dir):
    """session_window is both a streaming and a batch function: run the
    identical groupBy in batch mode and assert the incremental execution
    produced the same sessions. Also ties the per-user session partition
    to i_sessionize's semantics: every batch-window session must contain
    a positive number of events and sessions per user must not overlap."""
    from pyspark.sql import functions as F

    from boxoffice_spark.functions.numeric import dsum
    from boxoffice_spark.streaming.jobs import sessionize_stream
    from boxoffice_spark.tables import table

    streamed = sessionize_stream(spark, sf_dir)
    batch = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("value_sum"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            (F.col("w.end") - F.expr("INTERVAL 30 minutes")).alias("session_end"),
            "n_events",
            "value_sum",
        )
    )
    assert _sorted_rows(streamed) == _sorted_rows(batch)

    rows = sorted(batch.collect(), key=lambda r: (r.user_id, r.session_start))
    assert all(r.n_events > 0 and r.session_start <= r.session_end for r in rows)
    for prev, cur in zip(rows, rows[1:]):
        if prev.user_id == cur.user_id:
            assert cur.session_start > prev.session_end


def test_streaming_dedup_one_row_per_key(spark, sf_dir):
    """Equality evidence against the batch semantics: exactly one row per
    key, the key set is identical to the batch distinct-key set, and every
    emitted row is a genuine source row (dropDuplicatesWithinWatermark may
    keep any one arrival per key, so the kept ROW is nondeterministic but
    the key set and row provenance are not)."""
    from boxoffice_spark.tables import table

    out = streaming_dedup_first_per_key(spark, sf_dir)
    rows = out.collect()
    keys = {(r.user_id, r.event_type) for r in rows}
    assert len(rows) == len(keys) > 0

    ev = table(spark, sf_dir, "events")
    batch_keys = {
        (r.user_id, r.event_type)
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    assert keys == batch_keys

    source = {
        (r.user_id, r.event_type, r.ts, r.value)
        for r in ev.select("user_id", "event_type", "ts", "value").collect()
    }
    assert all((r.user_id, r.event_type, r.ts, r.value) in source for r in rows)


def test_stream_stream_join_equals_batch_pairs(spark, sf_dir):
    """The watermarked stream-stream attribution join must produce exactly
    the batch interval-join pair set (same logical condition, incremental
    execution with bounded state)."""
    from pyspark.sql import functions as F

    from boxoffice_spark.streaming.jobs import stream_stream_attribution_join
    from boxoffice_spark.tables import table

    streamed = {
        (r.purchase_id, r.click_id)
        for r in stream_stream_attribution_join(spark, sf_dir).collect()
    }

    ev = table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = {
        (r.purchase_id, r.click_id)
        for r in c.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("click_ts") < F.col("purchase_ts")),
        ).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_static_enrich_equals_batch(spark, sf_dir):
    """The availableNow-drained stream-static join must emit exactly the
    rows the identical batch join produces."""
    from pyspark.sql import functions as F

    from boxoffice_spark.streaming.jobs import stream_static_enrich
    from boxoffice_spark.tables import table

    got = sorted(
        map(tuple, stream_static_enrich(spark, sf_dir).collect())
    )
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nation_key"),
    )
    want = sorted(
        map(
            tuple,
            ev.join(F.broadcast(dim), "user_id", "left")
            .select("event_id", "user_id", "ts", "value", "segment", "nation_key")
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_stream_corpus_gate_equals_batch_fingerprints(spark, sf_dir):
    """The streaming ingest gate must admit exactly the fingerprint set
    the batch incremental-dedup query admits (keepers may differ: batch
    keeps min doc_id, the stream keeps first arrival)."""
    from boxoffice_spark.queries.text_pipeline import t_incremental_dedup
    from boxoffice_spark.streaming.jobs import stream_corpus_gate

    got = stream_corpus_gate(spark, sf_dir)
    got_fps = {r.fingerprint for r in got.collect()}
    want_fps = {r.fingerprint for r in t_incremental_dedup(spark, sf_dir).collect()}
    assert got_fps == want_fps and len(got_fps) > 0


def test_stream_drift_monitor_equals_batch(spark, sf_dir):
    """After the availableNow drain, the foreachBatch PSI table must equal
    dq_distribution_drift's batch output exactly."""
    from boxoffice_spark.queries.quality import dq_distribution_drift
    from boxoffice_spark.streaming.jobs import stream_drift_monitor

    got = sorted(map(tuple, stream_drift_monitor(spark, sf_dir).collect()))
    want = sorted(map(tuple, dq_distribution_drift(spark, sf_dir).collect()))
    assert got == want and len(got) > 0


def test_stream_embedding_drift_equals_batch(spark, sf_dir):
    """After the drain, the incremental centroid-shift table must equal
    v_embedding_drift's batch output exactly (decimal sums make the
    streaming accumulation order irrelevant)."""
    from boxoffice_spark.queries.similarity import v_embedding_drift
    from boxoffice_spark.streaming.jobs import stream_embedding_drift

    got = sorted(map(tuple, stream_embedding_drift(spark, sf_dir).collect()))
    want = sorted(map(tuple, v_embedding_drift(spark, sf_dir).collect()))
    assert got == want and len(got) > 0


def test_stream_embedding_drift_multi_batch(spark, sf_dir, tmp_path, batches):
    """Split the embeddings across two files -> two update-mode
    micro-batches; the merged sums must still reproduce the batch result
    (the stale-denominator bug class for the vector gate)."""
    import pyarrow.parquet as pq

    from boxoffice_spark.streaming.jobs import stream_embedding_drift

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    cut = t.num_rows // 2
    pq.write_table(t.slice(0, cut), str(tmp_path / "embeddings.parquet"))
    pq.write_table(t.slice(cut), str(tmp_path / "embeddings_2.parquet"))
    _pin_file_order(tmp_path / "embeddings.parquet", tmp_path / "embeddings_2.parquet")

    got = sorted(map(tuple, stream_embedding_drift(spark, str(tmp_path)).collect()))
    ran = batches()
    assert len(ran) >= 2, ran

    # batch expected over the SAME two-file layout, same formula
    from pyspark.sql import functions as F

    from boxoffice_spark.functions.numeric import dsum

    e = spark.read.option("pathGlobFilter", "embeddings*.parquet").parquet(
        str(tmp_path)
    )
    ex = e.select(
        "label",
        (F.col("vec_id") % 10 == 0).alias("is_batch"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "val"),
    )
    per_dim = ex.groupBy("label", "dim").agg(
        (
            dsum(F.when(~F.col("is_batch"), F.col("val")), 9)
            / F.count(F.when(~F.col("is_batch"), F.col("val")))
        ).alias("cm"),
        (
            dsum(F.when(F.col("is_batch"), F.col("val")), 9)
            / F.count(F.when(F.col("is_batch"), F.col("val")))
        ).alias("bm"),
    )
    counts = e.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 10 != 0, 1).otherwise(0)).cast("long").alias("n_corpus"),
        F.sum(F.when(F.col("vec_id") % 10 == 0, 1).otherwise(0)).cast("long").alias("n_batch"),
    )
    shift = (F.col("cm") - F.col("bm")) * (F.col("cm") - F.col("bm"))
    want = sorted(
        map(
            tuple,
            per_dim.join(F.broadcast(counts), "label")
            .groupBy("label", "n_corpus", "n_batch")
            .agg(F.round(dsum(shift, 12), 9).alias("centroid_shift_sq"))
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_stream_embedding_drift_one_sided_labels(spark, tmp_path):
    """A label with ONLY corpus vectors (none with vec_id % 10 == 0) and a
    label with ONLY batch vectors must both still appear in the streaming
    table — count 0 on the missing side, NULL shift — exactly as the batch
    twin's conditional aggregates emit them (regression: an inner join
    between stream sums and corpus dims silently dropped one-sided
    labels)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from boxoffice_spark.queries.similarity import v_embedding_drift
    from boxoffice_spark.streaming.jobs import stream_embedding_drift

    rows = [
        (10, [1.0, 0.0], 0), (20, [0.0, 1.0], 0),   # label 0: batch-only
        (1, [1.0, 1.0], 1), (2, [1.0, -1.0], 1),    # label 1: corpus-only
        (30, [0.5, 0.5], 2), (3, [0.25, 0.75], 2),  # label 2: both sides
    ]
    t = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))

    got = sorted(map(tuple, stream_embedding_drift(spark, str(tmp_path)).collect()))
    want = sorted(map(tuple, v_embedding_drift(spark, str(tmp_path)).collect()))
    assert got == want and len(got) == 3
    by_label = {r[0]: r for r in got}
    assert by_label[0][1] == 0 and by_label[0][3] is None  # no corpus side
    assert by_label[1][2] == 0 and by_label[1][3] is None  # no batch side
    assert by_label[2][3] is not None                      # real shift


def test_stock_poll_stateful_equals_latest_state_view_semantics(spark):
    """s_stock_poll_stateful_latest (applyInPandasWithState over the
    bounded poll stream) must equal i_latest_state_view's EXACT code path —
    operators/temporal.latest_per_key — applied to the full replayed poll
    log. Two-sided equality: the stream's last-arrival state and the batch
    window's latest-row pick agree key-for-key, value-for-value."""
    import pandas as pd
    from pyspark.sql import functions as F

    from boxoffice_spark.operators.temporal import latest_per_key
    from boxoffice_spark.sources.rest_source import _poll_stock
    from boxoffice_spark.streaming.stateful import latest_stock_state

    n_events, n_theaters, max_polls = 4, 3, 6
    streamed = latest_stock_state(spark, n_events, n_theaters, max_polls)

    rows = [r for p in range(max_polls) for r in _poll_stock(p, n_events, n_theaters)]
    log = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "theater_name", "quantity", "scraped_at"])
    )
    batch = latest_per_key(
        log, ["event_id", "theater_name"], [F.desc("scraped_at")]
    ).select("event_id", "theater_name", "quantity", "scraped_at")

    got = sorted(map(tuple, streamed.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) == n_events * n_theaters


def test_stream_drift_monitor_multi_batch(spark, sf_dir, tmp_path, batches):
    """Split the documents table across two files so maxFilesPerTrigger=1
    forces TWO update-mode micro-batches; the merged PSI table must still
    equal the batch formula over the full set — this is exactly the
    stale-denominator bug class: a merge that keeps earlier batches' psi
    rows (computed with partial denominators) diverges here."""
    import pyarrow.parquet as pq

    from boxoffice_spark.queries.quality import psi_drift_terms
    from boxoffice_spark.streaming.jobs import stream_drift_monitor

    t = pq.read_table(f"{sf_dir}/documents.parquet")
    cut = t.num_rows // 2
    # split straddles languages: both halves contain every lang with high
    # probability, so batch 2 UPDATES counts batch 1 already emitted
    pq.write_table(t.slice(0, cut), str(tmp_path / "documents.parquet"))
    pq.write_table(t.slice(cut), str(tmp_path / "documents_2.parquet"))
    _pin_file_order(tmp_path / "documents.parquet", tmp_path / "documents_2.parquet")

    got = sorted(map(tuple, stream_drift_monitor(spark, str(tmp_path)).collect()))
    ran = batches()
    assert len(ran) >= 2, ran
    full = spark.read.option("pathGlobFilter", "documents*.parquet").parquet(
        str(tmp_path)
    )
    want = sorted(map(tuple, psi_drift_terms(full).collect()))
    assert got == want and len(got) > 0


def test_stream_completeness_equals_batch(spark, sf_dir):
    """After the availableNow drain the standing per-day table must equal
    dq_completeness_by_day on the exact-counter columns, and the
    mergeable HLL sketch's distinct-user estimate must be within 5% of
    the exact per-day count."""
    from boxoffice_spark.queries.quality import dq_completeness_by_day
    from boxoffice_spark.streaming.jobs import stream_completeness_monitor

    cols = [
        "day", "n_events", "n_null_value", "n_nonpos_value",
        "n_empty_props", "n_error_events", "value_completeness",
    ]
    out = stream_completeness_monitor(spark, sf_dir)
    got = sorted(map(tuple, out.select(*cols).collect()))
    want = sorted(map(tuple, dq_completeness_by_day(spark, sf_dir).select(*cols).collect()))
    assert got == want and len(got) > 0
    # the HLL distinct-user estimate must land within 5% of the exact count
    approx = {r["day"]: r["n_users_approx"] for r in out.collect()}
    exact = {r["day"]: r["n_users"] for r in dq_completeness_by_day(spark, sf_dir).collect()}
    for day, n in exact.items():
        assert abs(approx[day] - n) <= max(0.05 * n, 2), (day, approx[day], n)


def test_stream_completeness_multi_batch(spark, sf_dir, tmp_path, batches):
    """Two event files -> two update-mode micro-batches; days straddle the
    split so batch 2 UPDATES days batch 1 already emitted — the merged
    table must still equal the batch formula over the full set."""
    import pyarrow.parquet as pq

    from boxoffice_spark.queries.quality import completeness_by_day
    from boxoffice_spark.streaming.jobs import stream_completeness_monitor

    t = pq.read_table(f"{sf_dir}/events.parquet")
    # interleaved split (odd/even rows): every day appears in BOTH files
    import pyarrow.compute as pc
    import pyarrow as pa
    idx = pa.array(range(t.num_rows))
    even = t.filter(pc.equal(pc.bit_wise_and(idx, 1), 0))
    odd = t.filter(pc.equal(pc.bit_wise_and(idx, 1), 1))
    pq.write_table(even, str(tmp_path / "events.parquet"))
    pq.write_table(odd, str(tmp_path / "events_2.parquet"))
    _pin_file_order(tmp_path / "events.parquet", tmp_path / "events_2.parquet")

    cols = [
        "day", "n_events", "n_null_value", "n_nonpos_value",
        "n_empty_props", "n_error_events", "value_completeness",
    ]
    got = sorted(map(tuple, stream_completeness_monitor(spark, str(tmp_path)).select(*cols).collect()))
    ran = batches()
    assert len(ran) >= 2, ran
    full = spark.read.option("pathGlobFilter", "events*.parquet").parquet(str(tmp_path))
    want = sorted(map(tuple, completeness_by_day(full).select(*cols).collect()))
    assert got == want and len(got) > 0


def test_stream_cluster_maintenance_equals_batch(spark, sf_dir):
    """After the drain, the incrementally maintained labeling must equal
    the from-scratch t_dedup_clusters output label for label — the
    quotient-graph merge is exact, not approximate."""
    from boxoffice_spark.queries.text_pipeline import t_dedup_clusters
    from boxoffice_spark.streaming.jobs import stream_cluster_maintenance

    got = sorted(map(tuple, stream_cluster_maintenance(spark, sf_dir).collect()))
    want = sorted(map(tuple, t_dedup_clusters(spark, sf_dir).collect()))
    assert got == want and len(got) > 0


def test_stream_cluster_maintenance_multi_batch(spark, sf_dir, tmp_path, batches):
    """Split the documents across two files -> maxFilesPerTrigger=1 forces
    two micro-batches, so cross-batch pairs exercise the standing-table
    probe and the label remap (a merge that missed cross-batch pairs or
    relabeled only the batch's nodes diverges here)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from boxoffice_spark.operators import dedup as D
    from boxoffice_spark.operators.graph import connected_components
    from boxoffice_spark.streaming.jobs import stream_cluster_maintenance

    t = pq.read_table(f"{sf_dir}/documents.parquet")
    cut = t.num_rows // 2
    pq.write_table(t.slice(0, cut), str(tmp_path / "documents.parquet"))
    pq.write_table(t.slice(cut), str(tmp_path / "documents_2.parquet"))
    _pin_file_order(tmp_path / "documents.parquet", tmp_path / "documents_2.parquet")

    got = sorted(map(tuple, stream_cluster_maintenance(spark, str(tmp_path)).collect()))
    ran = batches()
    assert len(ran) >= 2, ran
    # batch twin over BOTH files (t_dedup_clusters' fixture loader reads
    # the single canonical file, the stream reads the glob)
    docs = spark.read.option("pathGlobFilter", "documents*.parquet").parquet(str(tmp_path))
    pairs = D.simhash_hamming_pairs(docs, "doc_id", "text")
    want = sorted(
        map(
            tuple,
            connected_components(pairs, "id_a", "id_b")
            .select(F.col("node").alias("doc_id"), "cluster_id")
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_stream_scd2_equals_batch_history_and_asof(spark, sf_dir):
    """Single-file drain: the foreachBatch-maintained SCD2 table must
    equal e_scd2_history row-for-row (intervals, is_current flags), and
    its point-in-time filter must equal e_scd2_asof_read."""
    from pyspark.sql import functions as F

    from boxoffice_spark.queries.etl import e_scd2_asof_read, e_scd2_history
    from boxoffice_spark.streaming.jobs import stream_scd2_maintenance

    dim = stream_scd2_maintenance(spark, sf_dir)
    cols = ["user_id", "valid_from", "valid_to", "is_current", "attr_value"]
    got = sorted(map(tuple, dim.select(*cols).collect()))
    want = sorted(map(tuple, e_scd2_history(spark, sf_dir).select(*cols).collect()))
    assert got == want and len(got) > 0

    t = F.lit("2024-01-15").cast("timestamp")
    got_asof = sorted(
        map(
            tuple,
            dim.filter(
                (F.col("valid_from") <= t)
                & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
            )
            .select("user_id", "valid_from", "attr_value")
            .collect(),
        )
    )
    want_asof = sorted(map(tuple, e_scd2_asof_read(spark, sf_dir).collect()))
    assert got_asof == want_asof


def test_stream_scd2_multi_batch_time_ordered_split(spark, sf_dir, tmp_path, batches):
    """Split the events table into two files AT THE MEDIAN ts (the CDC
    ordering contract: a key's changes never arrive after a later change
    was absorbed); maxFilesPerTrigger=1 forces two micro-batches, so the
    second batch must CLOSE open intervals the first batch created. The
    merged table must still equal the batch derivation over the full
    set — a merge that forgets to close standing open intervals, or
    closes them at the wrong ts, diverges here."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from boxoffice_spark.queries.etl import e_scd2_history
    from boxoffice_spark.streaming.jobs import stream_scd2_maintenance

    t = pq.read_table(f"{sf_dir}/events.parquet")
    order = pc.sort_indices(t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")])
    t = t.take(order)
    cut = t.num_rows // 2
    split_dir = tmp_path / "split"
    full_dir = tmp_path / "full"
    split_dir.mkdir()
    full_dir.mkdir()
    pq.write_table(t.slice(0, cut), str(split_dir / "events.parquet"))
    pq.write_table(t.slice(cut), str(split_dir / "events_2.parquet"))
    _pin_file_order(split_dir / "events.parquet", split_dir / "events_2.parquet")
    # the batch twin reads {dir}/events.parquet — give it the SAME rows in
    # one file (tables.table does not glob)
    pq.write_table(t, str(full_dir / "events.parquet"))

    cols = ["user_id", "valid_from", "valid_to", "is_current", "attr_value"]
    got = sorted(
        map(tuple, stream_scd2_maintenance(spark, str(split_dir)).select(*cols).collect())
    )
    ran = batches()
    assert len(ran) >= 2, ran
    want = sorted(
        map(tuple, e_scd2_history(spark, str(full_dir)).select(*cols).collect())
    )
    assert got == want and len(got) > 0


def _batch_kmv(ev):
    """Batch twin of stream_kmv_sketch_merge: same element, same k."""
    from pyspark.sql import functions as F

    from boxoffice_spark.operators.sketch import kmv_estimate, kmv_hash, kmv_kmin

    dh = ev.select(
        F.col("event_type"),
        kmv_hash(F.concat_ws(":", F.col("user_id"), F.to_date("ts"))).alias("h"),
    ).distinct()
    sk = kmv_kmin(dh, ["event_type"], "h", 64)
    return (
        sk.groupBy("event_type")
        .agg(F.count("*").alias("n_sketch"), F.max("h").alias("kth_hash"))
        .select(
            "event_type",
            "n_sketch",
            "kth_hash",
            F.round(kmv_estimate(F.col("n_sketch"), F.col("kth_hash"), 64), 3).alias(
                "est_distinct"
            ),
        )
    )


def test_stream_kmv_merge_equals_batch(spark, sf_dir):
    """Drained standing sketch == batch-computed sketch, cell for cell
    (k-min merge is order-free, so equality is exact, not approximate)."""
    from boxoffice_spark.streaming.jobs import stream_kmv_sketch_merge

    from boxoffice_spark.tables import table

    got = sorted(map(tuple, stream_kmv_sketch_merge(spark, sf_dir).collect()))
    want = sorted(map(tuple, _batch_kmv(table(spark, sf_dir, "events")).collect()))
    assert got == want and len(got) > 0


def test_stream_kmv_merge_multi_batch_any_split(spark, sf_dir, tmp_path, batches):
    """Interleaved odd/even split -> two micro-batches whose groups and
    elements straddle the split arbitrarily; the merged sketch must STILL
    equal the batch sketch exactly — k-min merge needs no ordering
    contract (associative + commutative + idempotent)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from boxoffice_spark.streaming.jobs import stream_kmv_sketch_merge

    t = pq.read_table(f"{sf_dir}/events.parquet")
    idx = pa.array(range(t.num_rows))
    even = t.filter(pc.equal(pc.bit_wise_and(idx, 1), 0))
    odd = t.filter(pc.equal(pc.bit_wise_and(idx, 1), 1))
    pq.write_table(even, str(tmp_path / "events.parquet"))
    pq.write_table(odd, str(tmp_path / "events_2.parquet"))
    _pin_file_order(tmp_path / "events.parquet", tmp_path / "events_2.parquet")

    got = sorted(map(tuple, stream_kmv_sketch_merge(spark, str(tmp_path)).collect()))
    ran = batches()
    assert len(ran) >= 2, ran
    full = spark.read.option("pathGlobFilter", "events*.parquet").parquet(str(tmp_path))
    from pyspark.sql import functions as F, types as T

    if isinstance(full.schema["ts"].dataType, T.LongType):
        full = full.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    want = sorted(map(tuple, _batch_kmv(full).collect()))
    assert got == want and len(got) > 0


def test_stream_transitions_equals_batch(spark, sf_dir):
    """Single-batch drain: the streamed transition matrix must equal
    w_event_transitions cell for cell (integer counts, 6dp shares)."""
    from boxoffice_spark.queries.windows import w_event_transitions
    from boxoffice_spark.streaming.jobs import stream_event_transitions

    got = sorted(map(tuple, stream_event_transitions(spark, sf_dir).collect()))
    want = sorted(map(tuple, w_event_transitions(spark, sf_dir).collect()))
    assert got == want


def test_stream_transitions_multi_batch_boundary_steps(spark, sf_dir, tmp_path, batches):
    """Split the event log at the median ts into two files
    (maxFilesPerTrigger=1 -> two micro-batches). Every user active on
    both sides of the cut contributes a boundary transition that
    within-batch lead() cannot see — a twin that forgets the standing
    last-event table undercounts exactly those cells and diverges."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from boxoffice_spark.queries.windows import w_event_transitions
    from boxoffice_spark.streaming.jobs import stream_event_transitions

    t = pq.read_table(f"{sf_dir}/events.parquet")
    order = pc.sort_indices(
        t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
    )
    t = t.take(order)
    cut = t.num_rows // 2
    split_dir = tmp_path / "split"
    full_dir = tmp_path / "full"
    split_dir.mkdir()
    full_dir.mkdir()
    pq.write_table(t.slice(0, cut), str(split_dir / "events.parquet"))
    pq.write_table(t.slice(cut), str(split_dir / "events_2.parquet"))
    _pin_file_order(split_dir / "events.parquet", split_dir / "events_2.parquet")
    # the batch twin reads {dir}/events.parquet (tables.table does not
    # glob) — give it the same rows in one file
    pq.write_table(t, str(full_dir / "events.parquet"))

    got = sorted(
        map(tuple, stream_event_transitions(spark, str(split_dir)).collect())
    )
    ran = batches()
    assert len(ran) >= 2, ran
    want = sorted(
        map(tuple, w_event_transitions(spark, str(full_dir)).collect())
    )
    assert got == want and len(got) > 0
    # positive control: the median-ts cut actually creates boundary
    # steps — users active on both sides exist, so a boundary-blind twin
    # (within-batch lead only) would total fewer transitions
    n_full = sum(r[2] for r in want)
    first_half = pq.read_table(str(split_dir / "events.parquet")).num_rows
    assert first_half < t.num_rows  # the split is real
    assert n_full > 0


def test_stream_heavy_hitters_equals_batch(spark, sf_dir):
    """Single-file drain: the streaming MG-candidate union + exact
    recount must equal the batch heavy-hitter table cell-for-cell."""
    from boxoffice_spark.queries.text_pipeline import t_heavy_hitters
    from boxoffice_spark.streaming.jobs import stream_heavy_hitters

    got = sorted(map(tuple, stream_heavy_hitters(spark, sf_dir).collect()))
    want = sorted(map(tuple, t_heavy_hitters(spark, sf_dir).collect()))
    assert got == want and len(got) > 0


def test_stream_heavy_hitters_multi_batch_any_split(spark, sf_dir, tmp_path, batches):
    """Interleaved odd/even split -> two micro-batches whose term mass
    straddles the split arbitrarily. The candidate-superset argument is
    order-free (pigeonhole per unit), so the drained result must STILL
    equal the batch table exactly — no mtime pinning required, but we pin
    anyway so the fixture never depends on filesystem timing."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from boxoffice_spark.queries.text_pipeline import t_heavy_hitters
    from boxoffice_spark.streaming.jobs import stream_heavy_hitters

    t = pq.read_table(f"{sf_dir}/documents.parquet")
    even = t.filter(pc.equal(pc.bit_wise_and(t["doc_id"], 1), 0))
    odd = t.filter(pc.equal(pc.bit_wise_and(t["doc_id"], 1), 1))
    pq.write_table(even, str(tmp_path / "documents.parquet"))
    pq.write_table(odd, str(tmp_path / "documents_2.parquet"))
    _pin_file_order(tmp_path / "documents.parquet", tmp_path / "documents_2.parquet")

    got = sorted(
        map(tuple, stream_heavy_hitters(spark, str(tmp_path)).collect())
    )
    ran = batches()
    assert len(ran) >= 2, ran
    # the odd/even split PARTITIONS the source table, so the batch twin
    # over the original single file sees the identical token multiset
    # (tables.table does not glob — sf_dir is the equivalent corpus)
    want = sorted(map(tuple, t_heavy_hitters(spark, sf_dir).collect()))
    assert got == want and len(got) > 0
    assert even.num_rows > 0 and odd.num_rows > 0


_EMPTY_SOURCE_COLUMNS = {
    "stream_heavy_hitters": ["term", "term_count", "frac"],
    "stream_completeness_monitor": [
        "day", "n_events", "n_null_value", "n_nonpos_value",
        "n_empty_props", "n_error_events", "value_completeness", "n_users_approx",
    ],
    "stream_cluster_maintenance": ["doc_id", "cluster_id"],
}


@pytest.mark.parametrize("job", sorted(_EMPTY_SOURCE_COLUMNS))
def test_stream_empty_source_returns_empty(spark, tmp_path, job):
    """A source dir with no matching files means no micro-batch runs; a
    job that needs no file besides its stream must return its empty typed
    frame, not raise."""
    from boxoffice_spark.streaming import jobs

    out = getattr(jobs, job)(spark, str(tmp_path))
    assert out.columns == _EMPTY_SOURCE_COLUMNS[job]
    assert out.count() == 0


def test_stream_failed_batch_leaves_nothing_behind(spark, sf_dir, tmp_path, monkeypatch):
    """A merge that raises on the second of two micro-batches must surface
    as StreamingQueryException with its own message, stop the query, and
    leave no catalog object behind."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.errors import StreamingQueryException

    from boxoffice_spark.operators import sketch
    from boxoffice_spark.streaming.jobs import stream_kmv_sketch_merge

    t = pq.read_table(f"{sf_dir}/events.parquet")
    idx = pa.array(range(t.num_rows))
    pq.write_table(t.filter(pc.equal(pc.bit_wise_and(idx, 1), 0)), str(tmp_path / "events.parquet"))
    pq.write_table(t.filter(pc.equal(pc.bit_wise_and(idx, 1), 1)), str(tmp_path / "events_2.parquet"))
    _pin_file_order(tmp_path / "events.parquet", tmp_path / "events_2.parquet")

    real, calls = sketch.kmv_kmin, []

    def kmin_failing_on_batch_1(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("kmv merge failed on batch 1")
        return real(*args, **kwargs)

    monkeypatch.setattr(sketch, "kmv_kmin", kmin_failing_on_batch_1)

    def global_views():
        return {r.tableName for r in spark.sql("SHOW TABLES IN global_temp").collect()}

    before = global_views()
    with pytest.raises(StreamingQueryException, match="kmv merge failed on batch 1"):
        stream_kmv_sketch_merge(spark, str(tmp_path))
    assert len(calls) == 2
    assert spark.streams.active == []
    assert global_views() - before == set()


def test_drained_jobs_leave_no_temp_views(spark, sf_dir):
    """Repeated calls of a job must not register anything in the session:
    its result is the drained frame itself, not a named sink table."""

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    for _ in range(2):
        assert tumbling_window_stream(spark, sf_dir).count() > 0
    assert temp_views() == before


def test_drained_frame_belongs_to_callers_session(spark, sf_dir):
    """Micro-batches run in the query's own session, a clone with AQE
    off; a job's result must come back in the caller's session."""
    from boxoffice_spark.streaming.jobs import stream_completeness_monitor

    for out in (tumbling_window_stream(spark, sf_dir), stream_completeness_monitor(spark, sf_dir)):
        assert out.sparkSession is spark


def _batch_quantile_hist(ev):
    """Batch twin of stream_quantile_histogram_merge: same bins, same
    readout over a single static aggregate."""
    from pyspark.sql import functions as F

    from boxoffice_spark.streaming.jobs import QH_BIN_WIDTH, quantile_hist_readout

    hist = (
        ev.select(
            "event_type",
            F.floor(F.col("value") / F.lit(QH_BIN_WIDTH)).alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    return quantile_hist_readout(hist)


def test_stream_quantile_merge_equals_batch(spark, sf_dir):
    """Drained standing histogram quantiles == batch twin, cell for cell
    (count addition is order-free, so equality is exact)."""
    from boxoffice_spark.streaming.jobs import stream_quantile_histogram_merge
    from boxoffice_spark.tables import table

    got = sorted(
        map(tuple, stream_quantile_histogram_merge(spark, sf_dir).collect())
    )
    want = sorted(map(tuple, _batch_quantile_hist(table(spark, sf_dir, "events")).collect()))
    assert got == want and len(got) > 0


def test_stream_quantile_merge_multi_batch_any_split(spark, sf_dir, tmp_path, batches):
    """Interleaved odd/even split -> two micro-batches whose types and
    value bins straddle the split arbitrarily; the merged histogram (and
    every quantile read from it) must STILL equal the batch twin exactly
    — additive counts need no ordering contract."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from boxoffice_spark.streaming.jobs import stream_quantile_histogram_merge

    t = pq.read_table(f"{sf_dir}/events.parquet")
    idx = pa.array(range(t.num_rows))
    even = t.filter(pc.equal(pc.bit_wise_and(idx, 1), 0))
    odd = t.filter(pc.equal(pc.bit_wise_and(idx, 1), 1))
    pq.write_table(even, str(tmp_path / "events.parquet"))
    pq.write_table(odd, str(tmp_path / "events_2.parquet"))
    _pin_file_order(tmp_path / "events.parquet", tmp_path / "events_2.parquet")
    got = sorted(
        map(tuple, stream_quantile_histogram_merge(spark, str(tmp_path)).collect())
    )
    ran = batches()
    assert len(ran) >= 2, ran
    full = spark.read.option("pathGlobFilter", "events*.parquet").parquet(str(tmp_path))
    from pyspark.sql import functions as F, types as T

    if isinstance(full.schema["ts"].dataType, T.LongType):
        full = full.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    want = sorted(map(tuple, _batch_quantile_hist(full).collect()))
    assert got == want and len(got) > 0


def test_stream_quantile_estimates_within_bin_width(spark, sf_dir):
    """Error-bound property: every histogram quantile estimate must sit
    within QH_ERR_BOUND (two bin widths: within-bin placement + the
    rank-convention offset vs type-7) of the exact percentile."""
    from pyspark.sql import functions as F

    from boxoffice_spark.streaming.jobs import QH_ERR_BOUND
    from boxoffice_spark.tables import table

    est = {
        r["event_type"]: (r["est_p50"], r["est_p95"])
        for r in _batch_quantile_hist(table(spark, sf_dir, "events")).collect()
    }
    exact = {
        r["event_type"]: (r["p50"], r["p95"])
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.percentile("value", F.lit(0.5)).alias("p50"),
            F.percentile("value", F.lit(0.95)).alias("p95"),
        )
        .collect()
    }
    assert set(est) == set(exact) and len(est) > 0
    for et, (e50, e95) in est.items():
        x50, x95 = exact[et]
        assert abs(e50 - x50) <= QH_ERR_BOUND, (et, e50, x50)
        assert abs(e95 - x95) <= QH_ERR_BOUND, (et, e95, x95)


def test_stream_reconcile_equals_batch(spark, sf_dir):
    """Single-batch drain: the streamed reconciliation report must equal
    dq_order_lineitem_reconcile cell for cell (decimal addition is
    order-free, so equality is exact — counts, buckets, and money)."""
    from boxoffice_spark.queries.quality import dq_order_lineitem_reconcile
    from boxoffice_spark.streaming.jobs import stream_reconcile_totals

    got = sorted(map(tuple, stream_reconcile_totals(spark, sf_dir).collect()))
    want = sorted(
        map(tuple, dq_order_lineitem_reconcile(spark, sf_dir).collect())
    )
    assert got == want and len(got) > 0


def test_stream_reconcile_multi_batch_any_split(spark, sf_dir, tmp_path, batches):
    """Interleaved odd/even line split -> two micro-batches whose ORDERS
    straddle the split (an order's lines land in both batches); the
    merged per-order decimal state must still reconcile identically."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from boxoffice_spark.queries.quality import dq_order_lineitem_reconcile
    from boxoffice_spark.streaming.jobs import stream_reconcile_totals

    t = pq.read_table(f"{sf_dir}/lineitem.parquet")
    idx = pa.array(range(t.num_rows))
    even = t.filter(pc.equal(pc.bit_wise_and(idx, 1), 0))
    odd = t.filter(pc.equal(pc.bit_wise_and(idx, 1), 1))
    pq.write_table(even, str(tmp_path / "lineitem.parquet"))
    pq.write_table(odd, str(tmp_path / "lineitem_2.parquet"))
    _pin_file_order(tmp_path / "lineitem.parquet", tmp_path / "lineitem_2.parquet")
    shutil.copyfile(f"{sf_dir}/orders.parquet", str(tmp_path / "orders.parquet"))
    got = sorted(
        map(tuple, stream_reconcile_totals(spark, str(tmp_path)).collect())
    )
    ran = batches()
    assert len(ran) >= 2, ran
    # the batch twin reads {dir}/lineitem.parquet only (tables.table does
    # not glob) — run it on the ORIGINAL dir, which holds the identical
    # rows in one file
    want = sorted(
        map(tuple, dq_order_lineitem_reconcile(spark, sf_dir).collect())
    )
    assert got == want and len(got) > 0
