"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
SIGMOD 2003 — the MOSS algorithm).

Where :mod:`~dedupe_algo_spark.operators.spans` indexes EVERY n-gram
(exact span detection, index size linear in corpus tokens), winnowing
keeps a guaranteed-representative SAMPLE: slide a window of ``w``
consecutive k-gram hashes and keep the minimum of each window
(rightmost on ties — the paper's rule, which keeps expected density at
2/(w+1) instead of re-selecting). The guarantee: any substring match of
at least ``w + k - 1`` tokens shares at least one fingerprint, so a
fingerprint-equality join finds all long overlaps at a fraction of the
full inverted index — the right dial at 10^12 documents where indexing
every gram is the cost driver.

Spark shape: JVM expressions only — tokens (``functions.text
.ws_tokens``), grams (``token_ngrams``, the builder spans.py and
decontam.py share), gram-hash and window min are built-ins and
higher-order functions (HOFs are expression-interpreted in the
executor JVM; they fall outside whole-stage codegen but never touch
Python), and the only shuffle is the final per-site distinct, carrying
slim (id, pos, fp) rows. Each intermediate array is materialized as a
projection column before any lambda consumes it: an inlined array is
re-evaluated per higher-order element (no CSE across the HOF boundary
— the O(n²) trap ``token_ngrams`` documents).

Gram hash: the first 31-chain polynomial of functions/text (mod
2^31-1), which DuckDB reproduces exactly — the ``winnow_fingerprints``
oracle value-checks window selection end-to-end.

Reference parity: the reference's cascade has no substring tier at all
(SURVEY §2 — whole-file hashes only); winnowing belongs to the
north_star's training-data extension, alongside spans.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import FP_B1, FP_P1, token_ngrams, ws_tokens
from .candidates import candidate_pairs
from .scoring import band_gate


def _poly_hash(s: Column) -> Column:
    """31-chain polynomial over the string's codepoints mod 2^31-1 —
    the first chain of functions/text.fingerprint_udf, as a codegen
    higher-order aggregate (DuckDB: list_reduce over ord(substr))."""
    codes = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda j: F.ascii(F.substr(s, j, F.lit(1))).cast("long"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * FP_B1 + c) % FP_P1,
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """→ (``id_col``, pos, fp): the winnowing fingerprint set — one row
    per selected window minimum, ``pos`` the 1-based token position of
    the selected k-gram, ``fp`` its hash. Documents shorter than
    ``k + w - 1`` tokens emit nothing (no full window exists).

    Downstream use: self-join on ``fp`` (→ candidate substring
    overlaps ≥ w+k-1 tokens), or `collect_set(fp)` per doc as a
    winnowed document sketch.
    """
    toked = docs.select(F.col(id_col), ws_tokens(F.col(text_col)).alias("_toks"))
    # gram-hash array materialized BEFORE the window pass (CSE boundary)
    grams = toked.select(
        F.col(id_col),
        F.transform(token_ngrams(F.col("_toks"), k), _poly_hash).alias("_g"),
    )
    g = F.col("_g")
    n_windows = F.size(g) - (w - 1)
    win_starts = F.when(
        n_windows >= 1, F.sequence(F.lit(1), n_windows)
    ).otherwise(F.array().cast("array<int>"))

    def _select(j: Column) -> Column:
        win = F.slice(g, j, w)
        minv = F.array_min(win)
        # rightmost occurrence of the minimum: first position in the
        # reversed window, mapped back (the paper's tie rule)
        rpos = F.array_position(F.reverse(win), minv)
        return F.struct(
            (j + F.lit(w) - rpos).cast("int").alias("pos"),
            minv.alias("fp"),
        )

    picked = grams.select(
        F.col(id_col),
        F.explode(F.transform(win_starts, _select)).alias("_s"),
    ).select(id_col, F.col("_s.pos").alias("pos"), F.col("_s.fp").alias("fp"))
    # adjacent windows usually select the same gram — that's the 2/(w+1)
    # density guarantee at work; one distinct per doc-site finishes it
    return picked.distinct()


def winnow_overlap_candidates(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 1,
    max_postings: int = 2_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """→ (id_a, id_b, n_shared): document pairs sharing ≥ ``min_shared``
    distinct winnowing fingerprints — every pair with a common substring
    of ≥ w+k-1 tokens is guaranteed present (at ``min_shared=1``).

    Scale shape: the slim (fp, id) posting table — never text — goes
    through the MinHash candidate generator,
    ``candidates.candidate_pairs`` (fp as the bucket key,
    ``max_postings`` as its hot-bucket cap, pair count), then
    ``band_gate`` at ``min_shared``. A fingerprint shared by everything
    (boilerplate) generates O(n²) junk pairs and identifies nothing, so
    the cap drops it before pairing.
    """
    posts = winnow_fingerprints(
        docs, k=k, w=w, id_col=id_col, text_col=text_col
    ).select(F.col(id_col).alias("url"), F.col("fp").alias("bucket_key")).distinct()
    pairs = candidate_pairs(posts, max_postings, with_counts=True)
    return band_gate(pairs, min_matches=min_shared).select(
        F.col("url_a").alias("id_a"), F.col("url_b").alias("id_b"), "n_shared"
    )
