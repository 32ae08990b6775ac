"""Gopher-style repetition quality signals (Rae et al. 2021, §A1.1).

The reference's quality axis is per-file metadata filters
(scanner.rs:150-179: extension/category/size predicates); the
web-scale analog for a training-data pipeline is per-DOCUMENT
repetition statistics — the published Gopher/MassiveText filters that
drop pages dominated by repeated lines and n-grams. Three signals,
kept as exact integers (numerator/denominator) so they reproduce
bit-for-bit in any engine; callers derive the fractions:

- ``n_dup_tokens / n_tokens`` — fraction of word occurrences that are
  repeats of an earlier word (Gopher's duplicate-word-fraction).
- ``top_bigram_count * length(top_bigram) / n_chars`` — characters
  covered by the most frequent word 2-gram (Gopher's
  top-n-gram-character-fraction, n=2). Tie-break: the
  lexicographically LARGEST gram among the max-count grams (what
  ``max(struct(cnt, gram))`` yields — deterministic and identical in
  every engine's ``ORDER BY cnt DESC, gram DESC``).
- ``dup_5gram_chars / n_chars`` — summed characters of every
  occurrence of a 5-gram that occurs more than once (Gopher's
  duplicate-n-gram-character-fraction, n=5; overlaps counted, as in
  the paper's published implementation).

Two physical strategies, proven equivalent by test:

- ``mode="groupby"`` (default, the many-disk cluster path): one
  explode of slim (id, n, gram) triples for n ∈ {2, 5}, one groupBy on
  (id, n, gram) with map-side partial aggregation, one per-doc rollup,
  one join back to the map-side doc stats. Linear in tokens; the text
  column itself never shuffles — but the exploded gram occurrences DO
  (~2 rows per token: ≈4B slim rows per 4M pages), which is fine
  spread across a cluster's disks and fatal on a one-disk box (the
  spill exceeded local storage at 4M pages here).
- ``mode="pandas"`` — zero shuffle, Arrow-batched: one ``mapInPandas``
  computes every signal per document with a ``Counter`` over the gram
  stream, O(tokens) per doc. The UDF boundary is the price; for a
  spill-constrained or shuffle-dominated setting it is the cheapest
  plan by far, and the per-doc work is exact-integer identical (the
  tokenizer is Java ``\\s`` replicated as ``re.ASCII``; string
  tie-breaks agree because UTF-8 byte order is code-point order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_RE = r"\s+"

OUT_COLS = [
    "n_chars",
    "n_tokens",
    "n_dup_tokens",
    "top_bigram",
    "top_bigram_count",
    "dup_5gram_chars",
]


def _toks(text_col: str):
    return F.split(F.trim(F.col(text_col)), TOKEN_RE)


def _with_toks(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, text, _toks): the token array MATERIALIZED as a column.

    Building grams as ``transform(starts, i -> slice(split(text), i, n))``
    with the split inlined re-evaluates the split PER ARRAY ELEMENT
    (higher-order lambdas are interpreted; no common-subexpression
    elimination crosses the lambda boundary) — O(tokens²) per document,
    measured 55× slower at ~600-token pages. Referencing a projected
    attribute keeps the split once-per-row; Catalyst's CollapseProject
    leaves the alias alone because it is non-cheap and multiply
    referenced."""
    return docs.select(
        F.col(id_col), F.col(text_col), _toks(text_col).alias("_toks")
    )


def _doc_stats(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Map-side per-doc stats — array_distinct is linear, no shuffle."""
    toks = _toks(text_col)
    return docs.select(
        F.col(id_col),
        F.length(F.trim(F.col(text_col))).cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(toks) - F.size(F.array_distinct(toks)))
        .cast("long")
        .alias("n_dup_tokens"),
    )


def _grams(toks, n: int):
    """Array of space-joined n-grams (empty for docs shorter than n)."""
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def repetition_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "groupby",
) -> DataFrame:
    """→ (``id_col``, n_chars, n_tokens, n_dup_tokens, top_bigram,
    top_bigram_count, dup_5gram_chars) — see module docstring for the
    signal definitions. ``top_bigram`` is NULL (count 0) for docs with
    fewer than two tokens."""
    if mode == "pandas":
        return _signals_pandas(docs, id_col, text_col)
    if mode != "groupby":
        raise ValueError(f"mode must be 'groupby' or 'pandas', got {mode!r}")

    stats = _doc_stats(docs, id_col, text_col)
    toks = F.col("_toks")
    # One explode for both gram sizes: slim (id, n, gram) triples only —
    # the text column never shuffles. Token array materialized once per
    # row (see _with_toks — inlining it is quadratic in tokens).
    sites = _with_toks(docs, id_col, text_col).select(
        F.col(id_col),
        F.explode(
            F.concat(
                F.transform(
                    _grams(toks, 2),
                    lambda g: F.struct(F.lit(2).alias("n"), g.alias("gram")),
                ),
                F.transform(
                    _grams(toks, 5),
                    lambda g: F.struct(F.lit(5).alias("n"), g.alias("gram")),
                ),
            )
        ).alias("_g"),
    ).select(id_col, F.col("_g.n").alias("n"), F.col("_g.gram").alias("gram"))
    counts = sites.groupBy(id_col, "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_doc = counts.groupBy(id_col).agg(
        F.max(
            F.when(F.col("n") == 2, F.struct(F.col("cnt"), F.col("gram")))
        ).alias("_top2"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("n") == 5) & (F.col("cnt") >= 2),
                    F.col("cnt") * F.length(F.col("gram")),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("dup_5gram_chars"),
    )
    return (
        stats.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_chars",
            "n_tokens",
            "n_dup_tokens",
            F.col("_top2.gram").alias("top_bigram"),
            F.coalesce(F.col("_top2.cnt"), F.lit(0))
            .cast("long")
            .alias("top_bigram_count"),
            F.coalesce(F.col("dup_5gram_chars"), F.lit(0))
            .cast("long")
            .alias("dup_5gram_chars"),
        )
    )


def _signals_pandas(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Zero-shuffle Arrow-batched variant: per-doc ``Counter`` over the
    gram stream, O(tokens) per document — see the module docstring for
    when this beats the groupby shuffle. Bit-for-bit parity contract
    with the groupby mode (pinned by test_repetition_modes_agree):

    - tokenizer: Java ``\\s+`` (ASCII class) ⇒ ``re.compile(r"\\s+",
      re.ASCII)`` — both are exactly ``[ \\t\\n\\x0B\\f\\r]``; Spark
      ``trim`` strips 0x20 only ⇒ ``str.strip(' ')``.
    - an EMPTY trimmed doc splits to ``['']`` in both engines
      (n_tokens 1), a NULL doc gives null stats and zeroed gram
      signals (the groupby left-join shape).
    - top-bigram tie-break: max (cnt, gram) with UTF-8-binary string
      order — Python code-point comparison agrees because UTF-8 byte
      order preserves code-point order.
    """
    import re
    from collections import Counter
    from typing import Iterator

    import pandas as pd

    id_type = dict(docs.dtypes)[id_col]
    schema = (
        f"{id_col} {id_type}, n_chars long, n_tokens long, "
        "n_dup_tokens long, top_bigram string, top_bigram_count long, "
        "dup_5gram_chars long"
    )
    ws = re.compile(r"\s+", re.ASCII)
    cols = [
        id_col,
        "n_chars",
        "n_tokens",
        "n_dup_tokens",
        "top_bigram",
        "top_bigram_count",
        "dup_5gram_chars",
    ]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if t is None or (isinstance(t, float) and pd.isna(t)):
                    rows.append((i, None, None, None, None, 0, 0))
                    continue
                trimmed = t.strip(" ")
                toks = ws.split(trimmed)
                n = len(toks)
                top_gram, top_cnt, dup5 = None, 0, 0
                if n >= 2:
                    c2 = Counter(
                        " ".join(toks[j : j + 2]) for j in range(n - 1)
                    )
                    m = max(c2.values())
                    top_cnt = m
                    top_gram = max(g for g, c in c2.items() if c == m)
                if n >= 5:
                    c5 = Counter(
                        " ".join(toks[j : j + 5]) for j in range(n - 4)
                    )
                    dup5 = sum(c * len(g) for g, c in c5.items() if c >= 2)
                rows.append(
                    (
                        i,
                        len(trimmed),
                        n,
                        n - len(set(toks)),
                        top_gram,
                        top_cnt,
                        dup5,
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return docs.select(id_col, text_col).mapInPandas(gen, schema=schema)


# Gopher's published drop thresholds (Rae et al. 2021, table A1) for the
# three signals we compute. A page is KEPT only if every fraction is
# under its cap.
GOPHER_DUP_WORD_FRAC = 0.63  # duplicate word fraction (paper: lines/words)
GOPHER_TOP_2GRAM_CHAR_FRAC = 0.20
GOPHER_DUP_5GRAM_CHAR_FRAC = 0.15


def repetition_filter(
    signals: DataFrame,
    max_dup_word_frac: float = GOPHER_DUP_WORD_FRAC,
    max_top_bigram_char_frac: float = GOPHER_TOP_2GRAM_CHAR_FRAC,
    max_dup_5gram_char_frac: float = GOPHER_DUP_5GRAM_CHAR_FRAC,
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (``id_col``, keep, fail_mask) over :func:`repetition_signals`
    output. ``fail_mask`` is a bitmask of which caps fired (1 =
    dup-word, 2 = top-bigram, 4 = dup-5-gram) — integer, so the verdict
    reproduces exactly in any engine; the fraction comparisons multiply
    through by the denominator to stay in integer arithmetic
    (``n_dup_tokens > cap * n_tokens`` with a rational cap is exact in
    doubles for corpus-sized integers)."""
    dup_w = F.col("n_dup_tokens") > max_dup_word_frac * F.col("n_tokens")
    top2 = (
        F.col("top_bigram_count") * F.length(F.col("top_bigram"))
        > max_top_bigram_char_frac * F.col("n_chars")
    )
    dup5 = F.col("dup_5gram_chars") > max_dup_5gram_char_frac * F.col("n_chars")
    mask = (
        F.when(dup_w, 1).otherwise(0)
        + F.when(F.coalesce(top2, F.lit(False)), 2).otherwise(0)
        + F.when(dup5, 4).otherwise(0)
    )
    return signals.select(
        F.col(id_col),
        (mask == 0).alias("keep"),
        mask.cast("int").alias("fail_mask"),
    )
