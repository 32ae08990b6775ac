"""Benchmark decontamination: n-gram overlap against an eval corpus.

A training corpus must not contain the evaluation benchmarks it will
be judged on. The public protocol (GPT-3 appendix C, Brown et al.
2020; PaLM §9; Dolma) flags every training document sharing any
13-gram with any benchmark document, then drops (or splices) the
flagged docs. This is span contamination, not near-duplication —
document-level MinHash misses a 13-token quote inside a 10k-token
page — so it is its own operator, not a blocking variant.

Spark-native shape, built around the one asymmetry that matters at
scale: the eval side is TINY (benchmarks are thousands of docs; the
training side is 10^12). The eval corpus therefore collapses to a
DISTINCT normalized-gram set and BROADCASTS; the training side
explodes to slim ``(id, pos, gram)`` triples inside codegen and
probes the broadcast hash relation map-side. Zero shuffle of training
text, zero shuffle of training grams — the only exchange is the final
per-document aggregate of hits, which is empty for the overwhelming
majority of docs. ``decontaminate`` keys both sides on xxhash64 of
the gram (collisions only ever OVER-flag, which for decontamination
is the safe direction); ``contamination_report`` keeps the gram
strings unless asked for hashes.

Tokens are ``functions.text.ws_tokens`` over ``lower(text)`` and grams
come from the shared ``token_ngrams`` builder. Normalization is
lowercasing only — the GPT-3 protocol's punctuation strip is a
tokenizer concern; both engines reproduce ``lower`` identically.

Reference parity: out of the reference's scope (it dedupes one disk
against itself, src-tauri/src/scanner.rs); mandated by the
training-data-pipeline axis of the task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import token_ngrams, ws_tokens


def contamination_report(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = False,
) -> DataFrame:
    """→ (``id_col``, n_grams, n_hits, first_hit_pos) for every
    CONTAMINATED training document: ``n_grams`` its total n-gram
    count, ``n_hits`` how many of its gram sites (occurrences, not
    distinct grams) appear anywhere in the eval corpus,
    ``first_hit_pos`` the 1-based token offset of the earliest hit.
    Clean documents do not appear (at 10^12 docs the report must be
    the exception list, not a full-corpus verdict column — pair with
    :func:`decontaminate` for the kept set).

    The eval gram set is deduplicated BEFORE the broadcast — its size
    is bounded by total eval tokens, not eval pairs.
    """
    key = F.col("gram")
    if hashed:
        key = F.xxhash64("gram").alias("gram")
    toks = ws_tokens(F.lower(F.col(text_col))).alias("_toks")
    eval_grams = (
        eval_docs.select(toks)
        .select(F.explode(token_ngrams(F.col("_toks"), n)).alias("gram"))
        .select(key)
        .distinct()
    )
    sites = train.select(F.col(id_col), toks).select(
        F.col(id_col),
        F.size(F.col("_toks")).alias("_nt"),
        F.posexplode(token_ngrams(F.col("_toks"), n)).alias("_p", "gram"),
    ).select(
        id_col,
        (F.col("_nt") - (n - 1)).cast("long").alias("n_grams"),
        (F.col("_p") + 1).alias("pos"),
        key,
    )
    return (
        sites.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col, "n_grams")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.min("pos").cast("int").alias("first_hit_pos"),
        )
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop every training document sharing an n-gram with the eval
    corpus (the GPT-3 "conservative" action: remove, don't splice).
    Returns ``train`` unchanged in schema, contaminated rows removed,
    via a LEFT ANTI join on the id — the broadcast-probe report side
    carries only (id) so the anti join's build side stays minimal.
    Keys on hashed grams: over-flagging on a 2^-64 collision is
    acceptable for decontamination, and the key bytes matter at
    10^12 docs."""
    bad = contamination_report(
        train, eval_docs, n=n, id_col=id_col, text_col=text_col, hashed=True
    ).select(id_col)
    return train.join(bad, id_col, "left_anti")
