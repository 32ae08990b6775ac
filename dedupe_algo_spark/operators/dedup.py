"""Exact-duplicate detection — the reference's flagship ``start_scan``.

Reference 3-pass design (lib.rs:30-182):
  pass 1  group by size, drop singletons          (lib.rs:54-64)
  pass 2  partial hash (16KB head+tail), regroup  (lib.rs:83-121)
  pass 3  full hash, final groups of ≥2           (lib.rs:130-181)

Spark re-design, NOT a translation. The reference's cascade exists to
avoid *reading file bytes* for non-candidates (partial hash reads 32KB,
full hash reads everything). In Spark the text is already in the row:
one scan pass computes every per-row artifact map-side —

    (url, text_len, content_sha256, LSH band keys)

— and ``text`` itself is dropped before the first shuffle. That is the
100TB-defining property of this design: **text bytes never shuffle**;
only the ~100-byte meta row (plus ~256B of band keys on the near path)
moves between executors, and the expensive column is read exactly once.

The cascade's pruning semantics survive as grouping structure:
* pass-1 analog: char-length is part of the grouping key (the
  reference's size key) — but never a shuffle key on its own, because
  its cardinality (~10^4) would put ~10^8 rows behind each key at
  10^12 rows;
* pass-2/3 analog: one hash-agg on the well-distributed
  ``(text_len, content_sha256)`` key. There is no partial hash: the
  reference's pass 2 is a gate that saves reading file bytes, and with
  the bytes in hand one SHA-256 over the full text costs the same scan.

Hashes are built-in ``sha2`` (JVM, whole-stage codegen); no Python
runs on the exact path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import normalized_for_dedup, sha256_col
from ..functions.minhash import minhash_band_keys_udf


def _keyed_text(exact_key: str) -> Column:
    """The text view the exact tier measures and hashes (see
    :func:`page_meta`'s ``exact_key``)."""
    if exact_key == "raw":
        return F.col("text")
    if exact_key == "normalized":
        return normalized_for_dedup(F.col("text"))
    raise ValueError(f"unknown exact_key {exact_key!r}")


def page_meta(
    pages: DataFrame,
    min_len: int = 10,
    with_signature: bool = True,
    with_ts: bool = False,
    exact_key: str = "raw",
) -> DataFrame:
    """One-pass map-side projection of everything dedup needs, with the
    text column dropped at the end of the pass. Zero shuffles.

    ``with_signature`` adds the 32 LSH band keys (``bands``, ~256B/row),
    all the near-dup path needs to gate on band collisions; ``with_ts``
    carries ``warc_ts`` (the streaming ingest's projection).

    ``exact_key="normalized"`` keys the exact tier (``text_len`` and
    ``content_sha256``) on the CCNet-style normalized view of the text
    (:func:`~..functions.hashing.normalized_for_dedup`) —
    casing/punctuation/whitespace/counter mutations then land in one
    exact cluster instead of leaking to the near tier. Still one
    codegen scan pass; the raw text is untouched (byte-identity
    invariant) and still never shuffles. Identical raw texts always
    normalize identically, so normalized-mode clusters are a coarsening
    of raw-mode clusters, never a split."""
    keyed = _keyed_text(exact_key)
    cols = [
        F.col("url"),
        F.length(keyed).cast("long").alias("text_len"),
        sha256_col(keyed).alias("content_sha256"),
    ]
    if with_ts:
        cols.insert(1, F.col("warc_ts"))
    if with_signature:
        cols.append(minhash_band_keys_udf(F.col("text")).alias("bands"))
    return pages.where(F.length("text") >= min_len).select(*cols)


def page_meta_incremental(
    pages: DataFrame,
    memo: DataFrame,
    min_len: int = 10,
    with_signature: bool = True,
    exact_key: str = "raw",
) -> DataFrame:
    """Incremental variant of ``page_meta`` — the reference's cache fast
    path (lib.rs:83-107,130-152): rows whose (url, text_len, warc_ts)
    match a memo entry REUSE the stored content hash; stale or unseen
    rows compute it. ``exact_key`` mirrors :func:`page_meta`; a memo must
    be written and read under the SAME mode (the published text_len and
    hash — the memo's validity key and payload — are both functions
    of the chosen key view, so mixing modes would reuse raw hashes in a
    normalized run or vice versa). Shape: the hash is
    ``coalesce(reused, computed)``, so the *published* value prefers the
    memoized one and downstream grouping keys are stable across runs
    even if the hash function version changes. The generated code
    evaluates ``coalesce`` lazily: on a memo hit it skips the SHA-256
    digest of that row, so only stale or unseen rows pay for hashing.
    Band keys (``with_signature``) are computed for every row.

    Returns the same schema as ``page_meta`` (+ warc_ts) plus a
    ``cache_hit`` flag for audit.
    """
    from ..sources.memo import validity_join

    keyed = _keyed_text(exact_key)
    base = pages.where(F.length("text") >= min_len).select(
        "url",
        "warc_ts",
        F.length(keyed).cast("long").alias("text_len"),
        F.col("text"),
    )
    joined = validity_join(base, memo)
    cols = [
        F.col("url"),
        F.col("warc_ts"),
        F.col("text_len"),
        F.coalesce(F.col("reused_sha256"), sha256_col(keyed)).alias(
            "content_sha256"
        ),
        F.col("reused_sha256").isNotNull().alias("cache_hit"),
    ]
    if with_signature:
        cols.append(minhash_band_keys_udf(F.col("text")).alias("bands"))
    return joined.select(*cols)


def assign_exact(meta: DataFrame) -> DataFrame:
    """Exact grouping over slim meta: one shuffle on the
    (text_len, content_sha256) key; window count + min reuse it."""
    w = Window.partitionBy("text_len", "content_sha256")
    return meta.withColumn("cluster_size", F.count(F.lit(1)).over(w)).withColumn(
        "rep_url", F.min("url").over(w)
    )


def exact_view(assigned: DataFrame) -> DataFrame:
    """``assign_exact`` output → (url, text_len, content_sha256,
    cluster_size, cluster_id), exact-duplicate rows only."""
    return assigned.where(F.col("cluster_size") >= 2).select(
        "url",
        "text_len",
        "content_sha256",
        "cluster_size",
        F.col("rep_url").alias("cluster_id"),
    )


def exact_dup_assignments(pages: DataFrame, min_len: int = 10) -> DataFrame:
    """→ (url, text_len, content_sha256, cluster_size, cluster_id).

    ``cluster_id`` = min(url) within the (text_len, sha256) group —
    deterministic under any row order.
    """
    meta = page_meta(pages, min_len=min_len, with_signature=False)
    return exact_view(assign_exact(meta))
