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

One zero-shuffle, Arrow-batched pass: a ``mapInPandas`` computes every
signal per document with a ``Counter`` over its gram stream, O(tokens)
per doc, so neither the text nor the gram occurrences ever shuffle. An
explode+groupBy formulation shuffled ~2 slim rows per token (it spilled
past a single local disk at 4M pages) and measured 6-8x slower over 20k
synthetic pages; a higher-order-function JVM rewrite measured ~3.5x
slower. The values are exact integers identical to any SQL engine's
(the DuckDB twin is ``queries.SQL_REP_SIGNALS``):

- tokenizer: Java ``\\s+`` (ASCII class) ⇒ ``re.compile(r"\\s+",
  re.ASCII)`` — both are exactly ``[ \\t\\n\\x0B\\f\\r]``; Spark
  ``trim`` strips 0x20 only ⇒ ``str.strip(' ')``.
- an EMPTY trimmed doc splits to ``['']`` (n_tokens 1); a NULL doc
  gives null stats and zeroed gram signals.
- top-bigram tie-break: max (cnt, gram) in UTF-8-binary string order —
  Python code-point comparison agrees because UTF-8 byte order
  preserves code-point order.
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OUT_COLS = [
    "n_chars",
    "n_tokens",
    "n_dup_tokens",
    "top_bigram",
    "top_bigram_count",
    "dup_5gram_chars",
]

_WS = re.compile(r"\s+", re.ASCII)


def _signals(t: str | None) -> tuple:
    """The six signals of one document, in ``OUT_COLS`` order."""
    if t is None:
        return (None, None, None, None, 0, 0)
    trimmed = t.strip(" ")
    toks = _WS.split(trimmed)
    n = len(toks)
    top_gram, top_cnt, dup5 = None, 0, 0
    if n >= 2:
        c2 = Counter(" ".join(toks[j : j + 2]) for j in range(n - 1))
        top_cnt = max(c2.values())
        top_gram = max(g for g, c in c2.items() if c == top_cnt)
    if n >= 5:
        c5 = Counter(" ".join(toks[j : j + 5]) for j in range(n - 4))
        dup5 = sum(c * len(g) for g, c in c5.items() if c >= 2)
    return (len(trimmed), n, n - len(set(toks)), top_gram, top_cnt, dup5)


def repetition_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """→ (``id_col``, n_chars, n_tokens, n_dup_tokens, top_bigram,
    top_bigram_count, dup_5gram_chars) — see module docstring for the
    signal definitions. ``top_bigram`` is NULL (count 0) for docs with
    fewer than two tokens."""
    id_type = dict(docs.dtypes)[id_col]
    schema = (
        f"{id_col} {id_type}, n_chars long, n_tokens long, "
        "n_dup_tokens long, top_bigram string, top_bigram_count long, "
        "dup_5gram_chars long"
    )
    cols = [id_col, *OUT_COLS]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (i, *_signals(None if pd.isna(t) else t))
                for i, t in zip(pdf[id_col], pdf[text_col])
            ]
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
