"""Bucketed corpus tables — exchange-free incremental dedup joins.

The 100 TB operating mode for incremental ingest is: a huge, mostly
static *seen-corpus* table (url / content_sha256 of everything already
accepted) joined against each small new batch.  A plain join shuffles
BOTH sides on every run — at 10^12 rows that re-shuffles the corpus
daily for no reason.  Writing the corpus ONCE as a Hive-bucketed table
(`bucketBy(n, key).sortBy(key)`) pins its physical layout to the join
key; Catalyst then plans corpus-side joins with **zero Exchange on the
bucketed side** — only the new batch (the small side) shuffles, into
the corpus's existing bucket scheme.

This is the storage-layout counterpart of sources/memo.py (which owns
snapshot/upsert semantics): memo answers "what have we seen", bucketed
answers "join against it without moving it".  Reference parity: the
reference's cache table (cache.rs) is keyed by path for exactly this
reuse-without-rescan purpose; bucketing is the Spark-native expression
of that contract at cluster scale.

Bucket count: at 10^12 rows target ~128 MB per bucket-file per
partition — thousands of buckets; the default 64 here is sized for the
test/bench corpora (the writer takes it as a parameter; changing it
requires a rewrite, as with any bucketed store).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    name: str,
    key: str,
    buckets: int = 64,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a parquet table bucketed+sorted on ``key``.

    ``path`` makes it an external table (tests point this at a tmp dir;
    a real deployment points it at the corpus location). Sorting within
    buckets makes corpus-side merge joins sort-free too.
    """
    w = df.write.format("parquet").mode(mode).bucketBy(buckets, key).sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(name)


def read_bucketed(spark: SparkSession, name: str) -> DataFrame:
    """The bucketed corpus as a DataFrame (bucket metadata rides along
    from the catalog — a plain ``spark.read.parquet`` of the same files
    would NOT carry it, and every join would shuffle again)."""
    return spark.table(name)


def register_bucketed(
    spark: SparkSession,
    name: str,
    path: str,
    key: str,
    buckets: int,
    schema: str,
) -> None:
    """(Re-)register an EXTERNAL bucketed table over files a previous
    session wrote with :func:`write_bucketed`. A real deployment has a
    shared catalog (Hive metastore / Iceberg / Unity) where the bucket
    spec outlives every session; with Spark's default in-memory catalog
    the metadata dies with the session that wrote it, so a later job
    (e.g. the per-batch probe) must re-declare the layout before the
    exchange-free plan is available. ``schema`` is the column DDL
    (e.g. ``"url string, text string"``); the CLUSTERED BY spec must
    match what was written — Spark recovers each file's bucket id from
    the writer's file naming."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({schema}) USING PARQUET "
        f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {buckets} BUCKETS "
        f"LOCATION '{path}'"
    )


def incremental_unseen(
    batch: DataFrame, corpus: DataFrame, key: str = "content_sha256"
) -> DataFrame:
    """Rows of ``batch`` whose ``key`` is absent from the seen-corpus —
    a left-anti join that, when ``corpus`` is a bucketed table on
    ``key``, shuffles ONLY the batch (asserted by test_bucketed)."""
    return batch.join(corpus.select(key), on=key, how="left_anti")


# ---------------------------------------------------------------------------
# Near-duplicate tier: the same exchange-free-corpus contract for the LSH
# path. Two materialized tables make an incremental *near*-dedup index:
#
#   {name}_bands : (bucket_key long, url)  bucketed+sorted on bucket_key
#   {name}_text  : (url, text)             bucketed+sorted on url
#
# A new batch computes its own band keys (one Arrow UDF pass over the
# batch only), probes the band index — corpus side never shuffles — and
# confirms surviving candidates with the exact token-Jaccard used by the
# main pipeline's tier 2 (operators/scoring.py), looking the corpus text
# up through the url-bucketed table, again with zero corpus-side
# Exchange. At 10^12 seen pages the only data that ever moves is the
# day's batch.
# ---------------------------------------------------------------------------


def write_near_index(
    corpus_pages: DataFrame,
    name: str,
    buckets: int = 64,
    path: str | None = None,
    mode: str = "overwrite",
    max_bucket: int | None = None,
) -> None:
    """Materialize the seen-corpus near-dup index from (url, text) pages:
    the LSH band table ``{name}_bands`` and the text lookup table
    ``{name}_text``. One Arrow signature pass over the corpus — paid
    once, at index-build time, never again per batch.

    ``max_bucket`` (default: the pipeline's DEFAULT_MAX_BUCKET) prunes
    band keys whose corpus posting list exceeds it AT BUILD TIME — the
    hot-bucket cap of operators/candidates.py applied where it is
    cheapest: a band key shared by millions of near-empty/templated
    seen pages identifies nothing and would fan every colliding batch
    page out by millions of rows per probe. Pruning per-probe would
    re-scan the corpus counts daily; pruning once at build keeps the
    probe's "only the batch moves" contract at any corpus size. Pass
    ``0`` to disable."""
    from ..operators.candidates import DEFAULT_MAX_BUCKET, bucket_table

    if max_bucket is None:
        max_bucket = DEFAULT_MAX_BUCKET
    band_table = bucket_table(corpus_pages)
    if max_bucket:
        from pyspark.sql import Window

        postings = F.count(F.lit(1)).over(Window.partitionBy("bucket_key"))
        band_table = (
            band_table.withColumn("_n", postings)
            .where(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    write_bucketed(
        band_table,
        f"{name}_bands",
        key="bucket_key",
        buckets=buckets,
        path=None if path is None else f"{path}_bands",
        mode=mode,
    )
    write_bucketed(
        corpus_pages.select("url", "text"),
        f"{name}_text",
        key="url",
        buckets=buckets,
        path=None if path is None else f"{path}_text",
        mode=mode,
    )


def read_near_index(spark: SparkSession, name: str) -> tuple[DataFrame, DataFrame]:
    """→ (bands, text) DataFrames of a :func:`write_near_index` index,
    with their bucket metadata (must come from the catalog — see
    :func:`read_bucketed`)."""
    return spark.table(f"{name}_bands"), spark.table(f"{name}_text")


def register_near_index(
    spark: SparkSession, name: str, path: str, buckets: int = 64
) -> None:
    """Re-register a :func:`write_near_index` index written by an
    earlier session (see :func:`register_bucketed` for why)."""
    register_bucketed(
        spark,
        f"{name}_bands",
        f"{path}_bands",
        key="bucket_key",
        buckets=buckets,
        schema="bucket_key bigint, url string",
    )
    register_bucketed(
        spark,
        f"{name}_text",
        f"{path}_text",
        key="url",
        buckets=buckets,
        schema="url string, text string",
    )


def incremental_near_candidates(
    batch: DataFrame,
    corpus_bands: DataFrame,
    min_matches: int | None = None,
) -> DataFrame:
    """→ (batch_url, corpus_url, n_band_matches): batch pages whose
    MinHash band keys collide with an already-seen page's in ≥
    ``min_matches`` bands (the pipeline's tier-1 binomial gate,
    operators/scoring.band_gate, applied cross-table).

    Plan shape: the batch's exploded (bucket_key, url) rows shuffle once
    into the corpus index's bucket scheme; the corpus side reads its
    buckets in place (asserted by test_bucketed). The collision count
    then rides a second slim exchange of only the MATCHED pairs.
    """
    from ..operators.candidates import bucket_table
    from ..operators.scoring import DEFAULT_MIN_BAND_MATCHES

    if min_matches is None:
        min_matches = DEFAULT_MIN_BAND_MATCHES
    batch_buckets = bucket_table(batch).select(
        "bucket_key", F.col("url").alias("batch_url")
    )
    corpus_buckets = corpus_bands.select(
        "bucket_key", F.col("url").alias("corpus_url")
    )
    return (
        batch_buckets.join(corpus_buckets, "bucket_key")
        .groupBy("batch_url", "corpus_url")
        .agg(F.count(F.lit(1)).alias("n_band_matches"))
        .where(F.col("n_band_matches") >= min_matches)
    )


def incremental_near_dupes(
    batch: DataFrame,
    corpus_bands: DataFrame,
    corpus_text: DataFrame,
    threshold: float | None = None,
    min_matches: int | None = None,
) -> DataFrame:
    """→ (batch_url, corpus_url, score): batch pages that near-duplicate
    an already-seen corpus page at token-Jaccard ≥ ``threshold`` — the
    incremental (cross-table) form of the main pipeline's near tier.

    Neither the corpus text nor its token arrays ever cross an Exchange:
    candidates shuffle TO the url-bucketed text table and tokenization
    happens corpus-side of the join (asserted by test_bucketed). The
    batch's token arrays move once, keyed by batch_url — the day's
    batch is the only payload in motion.
    """
    from ..operators.scoring import (
        DEFAULT_THRESHOLD,
        token_hash_array,
        token_jaccard_score,
    )

    if threshold is None:
        threshold = DEFAULT_THRESHOLD
    cands = incremental_near_candidates(batch, corpus_bands, min_matches)
    bt = batch.select(
        F.col("url").alias("batch_url"), token_hash_array(F.col("text")).alias("_ta")
    )
    ct = corpus_text.select(
        F.col("url").alias("corpus_url"), token_hash_array(F.col("text")).alias("_tb")
    )
    score = token_jaccard_score(F.col("_ta"), F.col("_tb"))
    return (
        cands.join(bt, "batch_url")
        .join(ct, "corpus_url")
        .withColumn("score", score)
        .where(F.col("score") >= threshold)
        .select("batch_url", "corpus_url", "score")
    )
