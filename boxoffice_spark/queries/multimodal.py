"""Multimodal-column queries (binary payload plumbing; see
operators/multimodal.py for the stubbed-decoder contract)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from boxoffice_spark.operators.multimodal import (
    assets_from_documents,
    extract_features,
    sample_frames,
)
from boxoffice_spark.registry import register
from boxoffice_spark.tables import table


@register(
    "m_asset_table",
    oracle="""
    SELECT doc_id AS asset_id, octet_length(encode(text)) AS payload_bytes,
           'text/plain' AS media_type, lang AS meta_lang
    FROM documents
    """,
    tags=("multimodal",),
)
def m_asset_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary asset-table construction: payload bytes + typed metadata.
    The byte length is oracle-checked (octet_length of the utf-8 payload);
    the payload itself stays opaque."""
    assets = assets_from_documents(table(spark, sf_dir, "documents"))
    return assets.select(
        "asset_id",
        F.octet_length("payload").alias("payload_bytes"),
        "media_type",
        F.col("meta.lang").alias("meta_lang"),
    )


@register("m_asset_features", oracle=None, tags=("multimodal", "pandas-udf"))
def m_asset_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    mapInPandas (deterministic fake decoder — real codecs stubbed, see
    operators/multimodal.py). Rows-only: sha1 isn't available to the
    oracle; determinism is asserted in tests/test_llm_ops.py."""
    return extract_features(assets_from_documents(table(spark, sf_dir, "documents")))


@register("m_frame_sample", oracle=None, tags=("multimodal", "frames"))
def m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling explode: 4 evenly-spaced 32-byte windows per asset —
    the video-frame-extraction shape, pure JVM."""
    return sample_frames(assets_from_documents(table(spark, sf_dir, "documents")))


@register(
    "m_modality_storage_stats",
    oracle="""
    SELECT 'text/plain' AS media_type, source,
           count(*) AS n_assets,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
    FROM documents
    GROUP BY 1, 2
    """,
    tags=("multimodal", "storage"),
)
def m_modality_storage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage planning stats over the binary asset table: per (modality,
    source) asset counts and byte mass. This is the query that sizes the
    layout decisions for blob columns — partition counts from total_bytes
    / maxPartitionBytes, file row caps from max_bytes (one 2 GB video row
    per file vs thousands of thumbnails), skew detection when one source
    dominates. One aggregation over payload lengths; the payload bytes
    never leave the JVM."""
    assets = assets_from_documents(table(spark, sf_dir, "documents"))
    return assets.groupBy(
        "media_type", F.col("meta.source").alias("source")
    ).agg(
        F.count("*").alias("n_assets"),
        F.sum(F.octet_length("payload")).alias("total_bytes"),
        F.max(F.octet_length("payload")).cast("long").alias("max_bytes"),
    )


@register(
    "m_training_pairs",
    oracle="""
    SELECT d.doc_id AS sample_id,
           octet_length(encode(d.text)) AS payload_bytes,
           substring(d.text, 1, 40) AS caption_prefix,
           round(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[]))), 6)
               AS embedding_norm
    FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id % 200
    WHERE d.lang = 'en'
    """,
    tags=("multimodal", "training"),
)
def m_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal training-sample assembly: the (payload, caption,
    embedding) tuple join that precedes contrastive/captioning training —
    binary asset rows joined to their precomputed embeddings, filtered to
    the target language. The join is keyed (asset -> embedding id); at
    corpus scale both sides are written ``bucketBy`` the id and the
    assembly is exchange-free. Emitting the embedding NORM (not the raw
    array) keeps the oracle comparison scalar; the payload stays opaque
    bytes end-to-end. (The fixture keys embeddings by doc_id % 200 — the
    deterministic stand-in for a real asset->embedding foreign key.)"""
    d = table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    e = table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    assets = assets_from_documents(d)
    return (
        assets.join(e, assets.asset_id % 200 == e.vec_id)
        .select(
            F.col("asset_id").alias("sample_id"),
            F.octet_length("payload").alias("payload_bytes"),
            F.substring(F.decode("payload", "utf-8"), 1, 40).alias("caption_prefix"),
            F.round(norm, 6).alias("embedding_norm"),
        )
    )


@register(
    "m_asset_dedup",
    oracle="""
    WITH assets AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
        WHERE doc_id % 50 = 0
    )
    SELECT md5(text) AS fingerprint,
        'text/plain' AS media_type,
        min(doc_id) AS keeper_id,
        count(*) AS n_copies,
        CAST(min(octet_length(encode(text))) AS BIGINT) AS bytes_each,
        CAST((count(*) - 1) * min(octet_length(encode(text))) AS BIGINT)
            AS bytes_reclaimable
    FROM assets
    GROUP BY 1
    HAVING count(*) > 1
    ORDER BY 1
    """,
    tags=("multimodal", "dedup"),
)
def m_asset_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressable dedup over BINARY asset payloads: md5 of the
    raw bytes groups byte-identical assets (re-crawled images, mirrored
    videos) regardless of filename or metadata — the multimodal twin of
    t_exact_dedup, which only sees text. Reports each duplicate group's
    keeper (min asset id), copy count, and reclaimable bytes — the
    storage-planning number that decides whether asset-level CAS storage
    pays for itself. md5 (not xxhash64) so the fingerprint itself is
    oracle-comparable; byte-identical payloads share a size, so
    reclaimable = (n-1) x size exactly.

    At 100 TB of media this is the canonical map-side-cheap shuffle: the
    hash (16 bytes) shuffles, the payload (megabytes) never does — the
    aggregate reads payload bytes only to hash and measure them inside
    the scan stage. The fixture documents are unique below sf0.1, so —
    like v_embedding_near_dup — the query plants the event it audits:
    every 50th asset is unioned back under a new id (a re-crawled copy),
    making the dup-group readout non-vacuous at every scale factor."""
    from boxoffice_spark.tables import plant_duplicates

    base = assets_from_documents(table(spark, sf_dir, "documents"))
    assets = plant_duplicates(base, "asset_id")
    return (
        assets.groupBy(F.md5("payload").alias("fingerprint"))
        .agg(
            F.any_value(F.col("media_type")).alias("media_type"),
            F.min("asset_id").alias("keeper_id"),
            F.count("*").alias("n_copies"),
            F.min(F.octet_length("payload")).cast("long").alias("bytes_each"),
            (
                (F.count("*") - 1) * F.min(F.octet_length("payload"))
            ).cast("long").alias("bytes_reclaimable"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("fingerprint")
    )
