"""Sources and sinks (SURVEY.md §2.1).

The reference's storage surface: append (S8), keyed upsert (S9/S10 — see
operators/upsert.py for the logical form) and idempotent date-range
overwrite (S12). The S11 CSV debug dump is ``df.write.csv``, not wrapped.
Here the at-rest format is date-partitioned parquet; the S12 physical path
is a *dynamic* partition overwrite (only partitions present in the incoming
frame rewrite), enabled globally in session.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def append(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S8: append sink (reference sqlite_connector.py:73-74 to_sql append)."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def overwrite_partitions(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """S12: idempotent backfill — dynamic partition overwrite (reference
    backfill_boxoffice.py:27-47 DELETE range + re-insert). Requires
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` (session.py):
    only the date partitions present in ``df`` are replaced; re-running the
    same backfill is a no-op on final state."""
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ~``target_file_bytes`` files and return the new file count.

    Streaming/micro-batch appends (T2's 10-minute poll) accrete one small
    file per trigger; at 100 TB the file-count tax is paid on EVERY read
    (footer fetches, scheduler overhead, tiny row groups defeating column
    pruning). Compaction = read → repartition to ceil(bytes/target) →
    swap via a temp dir + two renames.

    Swap semantics, honestly: directory renames on a LOCAL filesystem are
    each atomic, but the two-step swap still leaves a tiny window where
    ``path`` is absent; crash recovery is manual but lossless (data lives
    at ``._compact_old`` / ``._compact_tmp``, never half-written). This
    operator therefore targets local/dev datasets only and REFUSES remote
    schemes — production compaction belongs to a table format's
    transactional rewrite (Delta OPTIMIZE / Iceberg rewrite_data_files),
    the mapping the module docstring documents.

    With ``partition_by``, the repartition hashes on the partition columns
    so each partition directory is written by (at most) a few tasks — a
    plain ``repartition(n)`` would spread EVERY partition value across all
    n tasks and emit up to n files per directory, defeating compaction.
    """
    import math
    import os
    import shutil

    if "://" in path and not path.startswith("file:"):
        raise ValueError(
            f"compact() swaps directories on the local filesystem only; "
            f"use your table format's rewrite for {path!r}"
        )

    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)  # size via FS, not listing parquet
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(jvm_path).getLength()
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))

    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compact_tmp"
    if partition_by:
        w = df.repartition(n_files, *[F.col(c) for c in partition_by]).write.mode(
            "overwrite"
        ).partitionBy(*partition_by)
    else:
        w = df.repartition(n_files).write.mode("overwrite")
    w.parquet(tmp)
    old = path.rstrip("/") + "._compact_old"
    os.rename(path, old)  # atomic on a local FS
    os.rename(tmp, path)  # atomic; the absent-path window is just these two
    shutil.rmtree(old)
    return n_files
