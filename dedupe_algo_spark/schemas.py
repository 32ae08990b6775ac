"""Fixed StructType schemas — declared once, never inferred.

The reference uses fixed serde-derived structs everywhere
(FileMetadata: scanner.rs:11-18; scan_cache DDL: cache.rs:19-25;
DriveInfo/FileEntry: lib.rs:184-191,421-429). We mirror that with
explicit Spark schemas; the ``pages`` schema follows
BASELINE.json input_hint exactly.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Primary input table (BASELINE.json input_hint):
# (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), nullable=False),
        StructField("warc_ts", TimestampType(), nullable=False),
        StructField("html", BinaryType(), nullable=False),
        StructField("text", StringType(), nullable=False),
        StructField("lang", StringType(), nullable=False),
    ]
)

# Ground-truth labeled pairs for pairwise F1 (FIXTURES.md §2).
LABELS_SCHEMA = StructType(
    [
        StructField("url_a", StringType(), nullable=False),
        StructField("url_b", StringType(), nullable=False),
        StructField("is_dup", BooleanType(), nullable=False),
        StructField("kind", StringType(), nullable=False),  # exact|near|negative
    ]
)

# Hash memo — incremental-computation ledger; mirrors the reference's
# scan_cache (cache.rs:19-25): path→url, size→text_len, modified→warc_ts.
MEMO_SCHEMA = StructType(
    [
        StructField("url", StringType(), nullable=False),
        StructField("text_len", LongType(), nullable=False),
        StructField("warc_ts", TimestampType(), nullable=False),
        StructField("content_sha256", StringType(), nullable=True),
    ]
)

# Per-stage lineage/metrics rows (north_rule; generalizes the reference's
# throttled progress events, lib.rs:23-28,86-94).
AUDIT_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), nullable=False),
        StructField("stage", StringType(), nullable=False),
        StructField("partition_id", IntegerType(), nullable=False),
        StructField("block_id", StringType(), nullable=True),
        StructField("row_count", LongType(), nullable=False),
        StructField("pair_count", LongType(), nullable=True),
        StructField("elapsed_ms", LongType(), nullable=False),
        StructField("committed_at", TimestampType(), nullable=False),
    ]
)

# Multimodal features (multimodal.extract_features_csv): the 16-bin
# histogram as a comma-joined string, so downstream comparators that
# sort/hash rows see only hashable scalars.
MEDIA_FEATURES_CSV_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), nullable=False),
        StructField("kind", StringType(), nullable=False),
        StructField("feature_csv", StringType(), nullable=False),
        StructField("n_bytes", LongType(), nullable=False),
    ]
)

# WARC container source (sources/warc.py): Common-Crawl-style blobs in,
# one row per WARC record out. `warc_epoch` carries the second-resolution
# WARC-Date as an integer so comparisons never touch timezone semantics;
# `warc_ts` is the same instant as a timestamp for the API shape.
WARC_BLOB_SCHEMA = StructType(
    [
        StructField("warc_file", StringType(), nullable=False),
        StructField("data", BinaryType(), nullable=False),
    ]
)

WARC_RECORDS_SCHEMA = StructType(
    [
        StructField("warc_file", StringType(), nullable=False),
        StructField("rec_index", IntegerType(), nullable=False),
        StructField("warc_type", StringType(), nullable=False),
        StructField("url", StringType(), nullable=True),
        StructField("warc_epoch", LongType(), nullable=True),
        StructField("warc_ts", TimestampType(), nullable=True),
        StructField("http_status", IntegerType(), nullable=True),
        StructField("content_type", StringType(), nullable=True),
        # revisit records (cross-crawl dedup): digest of the unchanged
        # payload + the uri of the record it refers to; body is empty
        StructField("payload_digest", StringType(), nullable=True),
        StructField("refers_to", StringType(), nullable=True),
        StructField("body", BinaryType(), nullable=False),
    ]
)
