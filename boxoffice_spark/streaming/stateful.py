"""Custom stateful streaming operator: latest-state-per-key via
``applyInPandasWithState`` (SURVEY.md §2.9 T3, scale path).

The reference reduces its append-only stock log to current-state with a
ROW_NUMBER window at *read* time (dashboard.py:105-118). That re-scans the
full log per dashboard hit; at stream scale the engine should instead keep
the running latest per key as *operator state*, emitting updates as polls
arrive. Batch window (i_latest_state_view) = the oracle semantics;
watermarked dropDuplicates (jobs.py) = bounded-state first-arrival; this is
the last-arrival stateful form the reference's read-side window implies.

State per (event_id, theater_name) is one (quantity, scraped_at) pair —
O(keys), not O(log): the 100 TB property that makes the stream sustainable.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from boxoffice_spark.sources.rest_source import STOCK_POLL_SCHEMA, register_sources

_STATE_SCHEMA = "quantity int, ts_us long"


def _update_latest(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold each micro-batch into the per-key (quantity, scraped_at) state;
    emit the key's current state once per batch it appears in. Timestamps
    ride the state store as epoch-microseconds (int) — GroupState tuples
    are plain SQL rows, and int comparison is tz-proof."""
    q_best, ts_best = state.get if state.exists else (None, -1)
    for pdf in pdfs:
        i = pdf["scraped_at"].idxmax()
        ts_us = int(pdf["scraped_at"][i].value // 1_000)
        if ts_us > ts_best:
            q_best, ts_best = int(pdf["quantity"][i]), ts_us
    state.update((q_best, ts_best))
    yield pd.DataFrame(
        {
            "event_id": [key[0]],
            "theater_name": [key[1]],
            "quantity": [q_best],
            "scraped_at": [dt.datetime.utcfromtimestamp(ts_best / 1e6)],
        }
    )


def _drain_stream(out: DataFrame, max_polls: int, timeout_s: float = 120.0) -> DataFrame:
    """Run an update-mode stateful stream over the bounded poll source until
    it drains, one micro-batch per poll.

    SimpleDataSourceStreamReader has no Trigger.AvailableNow support (Spark
    falls back to ONE batch, which would collapse the multi-batch stateful
    semantics this module exists to exercise), so we drive a processing-time
    trigger and stop once the source offset reaches ``max_polls`` and a
    batch has processed zero new rows."""
    import uuid

    name = "s_" + uuid.uuid4().hex[:12]
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    _await_polls(q, max_polls, timeout_s)
    return out.sparkSession.table(name)


def _await_polls(q, max_polls: int, timeout_s: float = 120.0) -> None:
    """Block until the query's completed-batch offset reaches ``max_polls``,
    then stop it. lastProgress describes a COMPLETED batch, so reaching the
    max offset means every poll is processed (an idle source emits no
    further progress at all — there is never a zero-row batch to wait for).
    """
    import ast
    import time

    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        p = q.lastProgress
        if p and p["sources"]:
            end = p["sources"][0].get("endOffset")
            if isinstance(end, str):
                # Python-source offsets surface as repr text ("{'poll': 6}"
                # — single quotes, NOT valid JSON), so literal_eval it.
                try:
                    end = ast.literal_eval(end)
                except (ValueError, SyntaxError):
                    end = None
            if isinstance(end, dict) and end.get("poll", 0) >= max_polls:
                q.stop()
                q.awaitTermination()
                return
        time.sleep(0.2)
    q.stop()
    raise TimeoutError(f"stock_poll stream failed to drain within {timeout_s}s")


def stock_poll_stream(
    spark: SparkSession, n_events: int = 4, n_theaters: int = 3, max_polls: int = 6
) -> DataFrame:
    """The bounded synthetic 10-minute poll stream (sources/rest_source.py)."""
    register_sources(spark)
    return (
        spark.readStream.format("stock_poll")
        .option("n_events", n_events)
        .option("n_theaters", n_theaters)
        .option("max_polls", max_polls)
        .load()
    )


def latest_stock_state(
    spark: SparkSession, n_events: int = 4, n_theaters: int = 3, max_polls: int = 6
) -> DataFrame:
    """Drive the poll stream to completion through the stateful operator and
    return the final latest-state table (one row per key).

    The update-mode sink logs one row per (key, batch); the final state per
    key is the row with the max scraped_at — selected with the same W1
    window the batch form uses, over the (tiny, O(keys x batches)) sink."""
    out = (
        stock_poll_stream(spark, n_events, n_theaters, max_polls)
        .groupBy("event_id", "theater_name")
        .applyInPandasWithState(
            _update_latest,
            STOCK_POLL_SCHEMA,
            _STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    log = _drain_stream(out, max_polls)
    from pyspark.sql import functions as F

    from boxoffice_spark.operators.temporal import latest_per_key

    return latest_per_key(
        log, ["event_id", "theater_name"], [F.desc("scraped_at")]
    ).select("event_id", "theater_name", "quantity", "scraped_at")
