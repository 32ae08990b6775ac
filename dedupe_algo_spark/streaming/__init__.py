"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.9); its only stream-shaped
artifacts are the throttled progress events (lib.rs:86-94) and the 30s
drive poll (useDrives.ts:19). This module provides the web-scale
analogs as real Structured Streaming jobs:

* ``progress_stream`` — watermarked tumbling-window counts per stage
  over an append-only event stream: the durable, queryable version of
  ProgressPayload (current/total/file → stage/count/window).
* ``ingest_pages_stream`` — incremental page ingestion: a file-source
  stream over a pages directory with the same min-length filter and
  map-side hash projection the batch pipeline uses, so new data can be
  hashed as it lands and merged into the memo (the streaming face of
  the reference's incremental cache).
* ``dedup_pages_stream`` — stateful first-seen exact dedup: the batch
  cascade's pass-2 (sha256 grouping, lib.rs:130-160's full-hash confirm)
  as a custom stateful streaming operator via ``applyInPandasWithState``
  keyed on the content hash. Only the first-arriving page per hash is
  ever emitted, across batches, backed by the state store.
* ``near_dup_stream`` — streaming NEAR dedup against the bucketed
  seen-corpus index (sources/bucketed): each micro-batch probes the LSH
  band table and confirms with token-Jaccard, corpus side never
  shuffling — the stream-static face of incremental ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import page_meta
from ..schemas import PAGES_SCHEMA

PROGRESS_EVENT_SCHEMA = "ts timestamp, run_id string, stage string, n long"


def progress_stream(
    spark: SparkSession,
    source_dir: str,
    window: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Windowed per-stage progress counts with late-data watermarking —
    the durable analog of the reference's throttled progress emitter."""
    raw = (
        spark.readStream.schema(PROGRESS_EVENT_SCHEMA)
        .json(source_dir)
    )
    return (
        raw.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "run_id", "stage")
        .agg(F.sum("n").alias("rows_done"))
        .select(
            F.col("window.start").alias("window_start"),
            "run_id",
            "stage",
            "rows_done",
        )
    )


def ingest_pages_stream(
    spark: SparkSession,
    source_dir: str,
    min_len: int = 10,
    options: dict | None = None,
) -> DataFrame:
    """Streaming page ingestion with the batch pipeline's projection
    (``page_meta``): filter + map-side content hash (F5 + C2 as a
    stream) → (url, warc_ts, text_len, content_sha256).
    ``options`` are file-source options (e.g. ``maxFilesPerTrigger`` to
    bound micro-batch size on a backlogged directory)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if options:
        reader = reader.options(**options)
    raw = reader.parquet(source_dir)
    return page_meta(raw, min_len=min_len, with_signature=False, with_ts=True)


STREAM_DEDUP_OUT = (
    "url string, warc_ts timestamp, text_len long, content_sha256 string"
)
STREAM_DEDUP_STATE = "seen boolean"


def _first_seen(key, pdfs, state):
    """Per-hash group handler: emit the first-ever row for this content
    hash (min (warc_ts, url) within the batch for determinism), then
    remember the hash in the state store so later batches emit nothing.
    Pure pandas on slim metadata rows — text never reaches this shuffle."""
    import pandas as pd

    if state.exists:
        return
    cols = ["url", "warc_ts", "text_len", "content_sha256"]
    best = None
    for pdf in pdfs:
        cand = pdf.sort_values(["warc_ts", "url"]).head(1)
        best = (
            cand
            if best is None
            else pd.concat([best, cand]).sort_values(["warc_ts", "url"]).head(1)
        )
    state.update((True,))
    if best is not None:
        yield best[cols]


def _stateful_first_seen(meta: DataFrame) -> DataFrame:
    """The shared stateful stage: (url, ts, len, hash) metadata stream →
    one emitted row per distinct content hash, first arrival wins."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return meta.groupBy("content_sha256").applyInPandasWithState(
        _first_seen,
        outputStructType=STREAM_DEDUP_OUT,
        stateStructType=STREAM_DEDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def warc_segment_stream(
    spark: SparkSession,
    source_dir: str,
    options: dict | None = None,
    segment_format: str = "warc",
) -> DataFrame:
    """Streaming WARC ingestion: watch a directory for arriving
    ``.warc[.gz]`` segment objects (the shape of a live crawl dropping
    segments into a bucket) and emit the pages table as a stream — the
    ``binaryFile`` file source delivers each new segment once, the
    Arrow parser + codegen text extraction run per micro-batch exactly
    as in batch (``pages_from_warc`` is stream-agnostic). Use
    ``options={"maxFilesPerTrigger": N}`` to bound micro-batch size on
    a backlogged bucket. ``segment_format="wet"`` parses extracted-text
    conversion records instead of HTTP responses."""
    from ..sources.warc import pages_from_warc, pages_from_wet

    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, length long, content binary"
    )
    if options:
        reader = reader.options(**options)
    blobs = reader.load(source_dir).select(
        F.col("path").alias("warc_file"), F.col("content").alias("data")
    )
    if segment_format == "wet":
        return pages_from_wet(blobs)
    if segment_format == "warc":
        return pages_from_warc(blobs)
    # a typo must fail loudly, not stream 0 pages through the wrong parser
    raise ValueError(f"unknown segment_format: {segment_format!r}")


def dedup_warc_stream(
    spark: SparkSession,
    source_dir: str,
    min_len: int = 10,
    options: dict | None = None,
    segment_format: str = "warc",
) -> DataFrame:
    """Streaming exact dedup straight off a crawl bucket: WARC (or WET)
    segments in, first-seen distinct pages out — ``warc_segment_stream``
    feeds the same slim-metadata stateful operator as the parquet
    variant (text is hashed map-side and never enters the stateful
    exchange)."""
    pages = warc_segment_stream(
        spark, source_dir, options=options, segment_format=segment_format
    )
    return _stateful_first_seen(
        page_meta(pages, min_len=min_len, with_signature=False, with_ts=True)
    )


def dedup_pages_stream(
    spark: SparkSession,
    source_dir: str,
    min_len: int = 10,
    options: dict | None = None,
) -> DataFrame:
    """Streaming exact dedup: incremental ingestion (map-side sha256 —
    the only pass over text) followed by a **custom stateful operator**
    (``applyInPandasWithState``) keyed on ``content_sha256``. State is a
    single boolean per distinct hash, so the state store grows with
    distinct content, not with input — the streaming twin of the batch
    exact tier, with the same text-never-shuffles property: the stateful
    exchange carries only (url, ts, len, hash).

    Emits each distinct page exactly once, on first arrival, across
    micro-batches (state is checkpoint-backed). Keeper choice within a
    batch is deterministic: min (warc_ts, url).
    """
    return _stateful_first_seen(
        ingest_pages_stream(spark, source_dir, min_len=min_len, options=options)
    )


def near_dup_stream(
    spark: SparkSession,
    source_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    index_name: str,
    threshold: float | None = None,
    min_matches: int | None = None,
    min_len: int = 10,
    options: dict | None = None,
    trigger_seconds: int | None = None,
):
    """Start (or resume) the streaming near-dedup probe: new pages
    landing in ``source_dir`` are checked against the seen-corpus
    near-dup index built by :func:`~dedupe_algo_spark.sources.bucketed
    .write_near_index`, and every (batch_url, corpus_url, score) hit at
    token-Jaccard ≥ ``threshold`` appends to ``output_dir``.

    ``foreachBatch`` is the idiomatic shape for a stream-vs-static
    probe: each micro-batch is a plain DataFrame, so the join reuses the
    exchange-free bucketed plan verbatim — the corpus side never
    shuffles, per micro-batch, however long the stream runs. The file
    source's processed-files log lives under ``checkpoint_dir``:
    re-submitting resumes where the last run committed. (Micro-batch
    replay after a crash can re-append a batch's rows — the standard
    foreachBatch at-least-once contract; dedupe downstream on
    (batch_url, corpus_url) if the sink must be exactly-once.)

    Default trigger is ``availableNow`` (drain the backlog, then stop —
    cron-friendly); pass ``trigger_seconds`` to follow continuously.
    Returns the started StreamingQuery.
    """
    from ..sources.bucketed import incremental_near_dupes, read_near_index

    bands, corpus_text = read_near_index(spark, index_name)
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if options:
        reader = reader.options(**options)
    pages = (
        reader.parquet(source_dir)
        .where(F.length("text") >= min_len)
        .select("url", "text")
    )

    def _probe(batch_df: DataFrame, _batch_id: int) -> None:
        (
            incremental_near_dupes(
                batch_df,
                bands,
                corpus_text,
                threshold=threshold,
                min_matches=min_matches,
            )
            .write.mode("append")
            .parquet(output_dir)
        )

    writer = pages.writeStream.foreachBatch(_probe).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    timeout_sec: float = 60.0,
    output_mode: str = "append",
):
    """Drive a stream into an in-memory sink until idle (test helper).
    Aggregated streams need ``output_mode='complete'`` (append would wait
    for the watermark to close each window)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return q
