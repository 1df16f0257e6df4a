"""Custom data sources: partition fan-out, bounded stream drain, and
stateful latest-state equality against the batch-window oracle form."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window as W, functions as F

from boxoffice_spark.sources.rest_source import _poll_stock, register_sources
from boxoffice_spark.streaming.stateful import latest_stock_state


def test_page_scan_partition_per_page(spark):
    register_sources(spark)
    df = (
        spark.read.format("paginated_rest")
        .option("page_size", 100)
        .option("total_rows", 1000)
        .load()
    )
    assert df.rdd.getNumPartitions() == 10  # one partition per page
    assert df.count() == 1000


def test_stateful_latest_equals_batch_window(spark):
    n_events, n_theaters, max_polls = 4, 3, 6
    streamed = latest_stock_state(spark, n_events, n_theaters, max_polls)

    # batch oracle: replay every poll, W1 window for latest per key
    rows = [r for p in range(max_polls) for r in _poll_stock(p, n_events, n_theaters)]
    log = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "theater_name", "quantity", "scraped_at"])
    )
    w = W.partitionBy("event_id", "theater_name").orderBy(F.desc("scraped_at"))
    batch = (
        log.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_id", "theater_name", "quantity", "scraped_at")
    )

    key = lambda r: (r.event_id, r.theater_name)
    got = {key(r): (r.quantity, r.scraped_at) for r in streamed.collect()}
    want = {key(r): (r.quantity, r.scraped_at) for r in batch.collect()}
    assert len(got) == n_events * n_theaters
    assert got == want


def test_agent_sql_guardrail(spark, sf_dir):
    """validate_sql must refuse cartesian/nested-loop plans from generated
    SQL and pass clean equi-join plans through untouched."""
    import pytest

    from boxoffice_spark.agent import UnsafePlanError, validate_sql

    ok = validate_sql(
        spark, sf_dir,
        "SELECT r_name, n_name FROM region JOIN nation ON n_regionkey = r_regionkey",
    )
    assert ok.count() > 0

    with pytest.raises(UnsafePlanError):
        validate_sql(spark, sf_dir, "SELECT * FROM region, nation")

    with pytest.raises(UnsafePlanError):
        validate_sql(
            spark, sf_dir,
            "SELECT * FROM region r JOIN nation n ON n.n_regionkey > r.r_regionkey",
        )
