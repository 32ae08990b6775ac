"""Substring-level dedup: duplicated n-gram span detection.

Document-level dedup (exact/MinHash/SimHash/embedding — the rest of
this package) misses the pervasive web failure mode of COPIED SPANS:
boilerplate, quoted passages, and train/test contamination, where two
otherwise-distinct documents share an exact run of tokens. The public
treatment is Lee et al., "Deduplicating Training Data Makes Language
Models Better" (ACL 2022) — exact substring dedup via suffix arrays.
A suffix array is a single-machine construction; the Spark-native
equivalent for a fixed span length is an n-gram inverted index: every
document emits its token n-grams with positions, and a gram appearing
in ≥ ``min_docs`` distinct documents marks a duplicated span at every
site where it occurs.

Scale shape: one explode (≈ tokens-per-doc rows, slim (id, pos, gram)
triples — the text column itself never shuffles as a whole), one
groupBy on the gram key (map-side partial aggregation applies), one
join back to the exploded sites. The shuffle key is the gram string,
exactly reproducible by engines without xxhash64 (the DuckDB oracle).

The physical plan scans the input TWICE (once under the frequency
aggregate, once for the probe side) — deliberate: the duplicate-heavy
alternative is caching the exploded site table, which is ~n tokens ×
gram bytes per doc, i.e. several times LARGER than the input text;
re-scanning parquet and re-running the codegen explode is cheaper at
any scale where this operator matters. The frequency table (grams
seen in ≥ min_docs docs, post-filter) broadcasts; the probe side
never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import token_ngrams, ws_tokens


def duplicate_ngram_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """→ (``id_col``, pos, gram, n_docs): every site of a token n-gram
    that occurs in ≥ ``min_docs`` distinct documents. ``pos`` is the
    1-based token offset of the span start; ``gram`` is the
    space-joined span; ``n_docs`` is
    the distinct-document frequency of that gram over the corpus.

    Downstream: a training-data pipeline drops or clips the flagged
    spans (Lee et al.'s substring cut), or joins train-side grams
    against an eval corpus's grams for contamination reports.

    JVM expressions only — tokens are ``functions.text.ws_tokens`` and
    grams ``token_ngrams`` (the builder decontam and winnow share); no
    Python in the plan.
    """
    # token array MATERIALIZED as a column before token_ngrams' lambda
    # reads it (no CSE across the higher-order-function boundary)
    toked = docs.select(F.col(id_col), ws_tokens(F.col(text_col)).alias("_toks"))
    sites = toked.select(
        F.col(id_col),
        F.posexplode(token_ngrams(F.col("_toks"), n)).alias("_p", "gram"),
    ).select(id_col, (F.col("_p") + 1).alias("pos"), "gram")
    freq = (
        sites.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )
    return sites.join(freq, "gram").select(id_col, "pos", "gram", "n_docs")


def remove_duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Lee et al.'s substring CUT: rewrite each document with every
    token covered by a cross-document duplicated n-gram removed.

    → (``id_col``, n_tokens, n_removed, kept_text): ``kept_text`` is
    the surviving tokens (space-joined, original order), ``n_removed``
    the count of token positions covered by at least one flagged span
    site (overlapping spans count each position once).

    Scale shape on top of :func:`duplicate_ngram_spans`: the flagged
    sites explode to slim (id, covered-position) pairs, aggregate to
    one sorted-positions array per FLAGGED doc (bounded by tokens per
    doc), and join back to the input on the id key; the token filter
    and re-join then run map-side inside codegen. Documents with no
    flagged span pass through the left join untouched — at web scale
    the flagged side is the small side and AQE sizes the join.
    """
    spans = duplicate_ngram_spans(
        docs, n=n, min_docs=min_docs, id_col=id_col, text_col=text_col
    )
    covered = (
        spans.select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("cov"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("cov").alias("_cov"))
    )
    toks = ws_tokens(F.col(text_col))
    cov = F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    kept = F.filter(toks, lambda t, i: ~F.array_contains(cov, i + 1))
    return (
        docs.join(covered, id_col, "left")
        .select(
            F.col(id_col),
            F.size(toks).cast("long").alias("n_tokens"),
            (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
            F.concat_ws(" ", kept).alias("kept_text"),
        )
    )
