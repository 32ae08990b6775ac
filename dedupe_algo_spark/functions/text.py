"""Text-analysis columns for training-data pipelines.

All pure built-in expressions (JVM, codegen) except the fingerprint,
which is an Arrow-batched pandas UDF. Each has a `queries()` entry with
a DuckDB oracle (see __spark_entry__.py); the SQL twins constrain these
to portable expressions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

# Tiny per-language stopword lists for the n-gram/stopword-ratio
# heuristic language ID (public common-word lists).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "que", "pour"],
    "es": ["el", "la", "los", "que", "de", "es", "un", "una", "por", "para"],
}


def ws_tokens(text: Column) -> Column:
    """Whitespace token array, ``split(trim(text), '\\s+')`` — the rule
    the DuckDB oracles mirror as ``regexp_split_to_array(trim(text),
    '\\s+')``. Empty text gives ``[""]``; callers that lowercase pass
    ``F.lower(text)``. Python ``str.split()`` is a different rule
    (``scoring.TOKEN_SPLIT_RE``)."""
    return F.split(F.trim(text), r"\s+")


def token_ngrams(toks: Column, n: int) -> Column:
    """Array of space-joined token n-grams, in token order (empty when
    the document is shorter than ``n`` tokens). ``toks`` MUST be a
    materialized column attribute, never an inline split expression:
    the transform lambda re-evaluates its free expressions per element
    (no CSE across the higher-order-function boundary), which would
    make gram construction O(tokens²) per document."""
    # sequence(1, 0) would generate a DESCENDING [1, 0] — guard short docs
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty text."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(ws_tokens(text))
    ).cast("long")


def word_tokens(text: Column) -> Column:
    """BPE-ish tokenization: letters-runs, digit-runs, or single
    punctuation — the regex analog of a byte-pair pre-tokenizer."""
    return F.regexp_extract_all(text, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)


def punct_ratio(text: Column) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    n = F.length(text)
    stripped = F.length(F.regexp_replace(text, r"[^a-zA-Z0-9\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        (n - stripped) / n.cast("double")
    )


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Fraction of tokens that are common stopwords of ``lang``."""
    toks = ws_tokens(F.lower(text))
    sw = STOPWORDS[lang]
    hits = F.size(F.filter(toks, lambda t: t.isin(sw)))
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(hits / n.cast("double"))


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: length score × (1 − punct
    excess) × stopword presence. Monotone, portable to SQL."""
    n = F.length(text).cast("double")
    length_score = F.least(n / 2000.0, F.lit(1.0))
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 4.0)
    sw_score = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    return F.round(length_score * punct_penalty * (0.5 + 0.5 * sw_score), 6)


def lang_id_heuristic(text: Column) -> Column:
    """Stopword-vote language ID over {en,de,fr,es}; 'und' (undetermined)
    when no list scores. Pure built-ins: one filter+size per language."""
    toks = ws_tokens(F.lower(text))

    def contains_any(words: list[str]):
        # NB: a two-arg lambda would be read by F.filter as (element,
        # index) — keep the closure single-parameter.
        return lambda t: t.isin(words)

    scores = {
        lang: F.size(F.filter(toks, contains_any(sw)))
        for lang, sw in STOPWORDS.items()
    }
    best_score = F.greatest(*scores.values())
    # deterministic tie-break: alphabetical language order, first max wins.
    # A bare when() yields NULL when the condition misses, so coalesce picks
    # the first language hitting the max — same semantics as a chained
    # when/otherwise but with a linear expression tree (the chained form
    # embeds the accumulator in both branches, doubling the tree per
    # language and emitting a trivially-true 'und'=='und' fold warning).
    return F.coalesce(
        *[
            F.when((scores[lang] > 0) & (scores[lang] == best_score), F.lit(lang))
            for lang in sorted(scores)
        ],
        F.lit("und"),
    )


# Dual polynomial (Rabin-Karp) fingerprint chains over codepoints. Two
# independent 31-bit prime-modulus chains combine into one 62-bit value
# — and every step is plain modular integer arithmetic, so any SQL
# engine (the DuckDB oracle twin in queries.SQL_DOC_FINGERPRINT) can
# reproduce it bit-for-bit, unlike an engine-private SipHash.
FP_P1, FP_B1 = 2147483647, 31  # 2^31 - 1
FP_P2, FP_B2 = 2147483629, 131  # 2^31 - 19


@pandas_udf(LongType())
def fingerprint_udf(texts: pd.Series) -> pd.Series:
    """Document fingerprint: 62-bit rolling (polynomial) hash over the
    codepoint stream — winnowing-style content fingerprint, Arrow-batched.
    Vectorized per row via precomputed power tables (one modmul + sum per
    character, no per-char Python loop)."""
    maxlen = max((len(t) for t in texts if t is not None), default=0)
    pows1 = np.empty(max(maxlen, 1), dtype=np.int64)
    pows2 = np.empty(max(maxlen, 1), dtype=np.int64)
    p1 = p2 = 1
    for i in range(max(maxlen, 1)):
        pows1[i], pows2[i] = p1, p2
        p1 = (p1 * FP_B1) % FP_P1
        p2 = (p2 * FP_B2) % FP_P2

    def fp(t: str | None) -> int | None:
        if t is None:
            return None
        n = len(t)
        if n == 0:
            return 0
        # codepoints < 2^21, powers < 2^31 -> products < 2^52: int64-safe
        codes = np.fromiter(map(ord, t), dtype=np.int64, count=n)
        h1 = int(np.sum((codes * pows1[:n][::-1]) % FP_P1) % FP_P1)
        h2 = int(np.sum((codes * pows2[:n][::-1]) % FP_P2) % FP_P2)
        return (h1 << 31) + h2

    return texts.map(fp)


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (Gopher / RefinedWeb family): text
# that DEFLATE shrinks far below typical prose is boilerplate/template
# spam; text it cannot shrink at all is often binary junk or encrypted
# noise. The kernel is zlib (C, deterministic for a fixed level across
# CPython builds); the loop is one C call per document inside an
# Arrow-batched pandas UDF — the same shape as every hashing UDF here.
# ---------------------------------------------------------------------------

ZLIB_LEVEL = 6  # pinned: compressed bytes are part of the oracle contract

# Default flag band, in ppm of the utf8 length: ratios below LOW are
# "too compressible" (templated/repetitive), above HIGH "incompressible"
# (non-text payloads). Tuned on the synthetic corpus; deployment dials.
RATIO_LOW_PPM = 350_000
RATIO_HIGH_PPM = 1_000_000

# zlib's fixed stream cost (2-byte header + 4-byte adler32 + empty
# deflate block at the pinned level), computed, not guessed: without
# subtracting it, EVERY short document reads as "incompressible" — a
# legitimate 29-byte sentence compresses to ~37 bytes and lands at
# ~1.3M ppm purely from the envelope, not the payload's entropy.
import zlib as _zlib  # noqa: E402

ZLIB_FIXED_OVERHEAD = len(_zlib.compress(b"", ZLIB_LEVEL))

# Below this many utf-8 bytes the incompressibility flag is vacuous:
# deflate cannot beat its own block framing on a few dozen bytes, so a
# perfectly normal short sentence shows payload ratio ~1.0 — too little
# signal to call it "binary junk". The ratio columns still report.
MIN_INCOMPRESSIBLE_BYTES = 64


@pandas_udf(LongType())
def zlib_len_udf(texts: pd.Series) -> pd.Series:
    """Byte length of ``zlib.compress(text.encode('utf-8'), ZLIB_LEVEL)``
    per document (None passes through)."""
    import zlib

    return texts.map(
        lambda t: None if t is None else len(zlib.compress(t.encode("utf-8"), ZLIB_LEVEL))
    )


def compression_signals(text: Column) -> list[Column]:
    """Integer-exact signal columns: (utf8_len, zlib_len, ratio_ppm,
    too_compressible, incompressible). All comparisons are integer
    arithmetic so an oracle can reproduce them bit-for-bit — no float
    rounding anywhere."""
    utf8_len = F.octet_length(text)
    zlen = zlib_len_udf(text)
    # ratio over the PAYLOAD bytes (fixed stream envelope subtracted),
    # so short documents are judged on their entropy, not zlib's
    # header. NULL text stays NULL (greatest() would swallow the null
    # into the 0 floor otherwise).
    ppm = F.when(zlen.isNull(), F.lit(None).cast("long")).otherwise(
        F.floor(
            F.greatest(zlen - F.lit(ZLIB_FIXED_OVERHEAD), F.lit(0))
            * F.lit(1_000_000)
            / F.greatest(utf8_len, F.lit(1))
        ).cast("long")
    )
    return [
        utf8_len.cast("long").alias("utf8_len"),
        zlen.alias("zlib_len"),
        ppm.alias("ratio_ppm"),
        (ppm < RATIO_LOW_PPM).alias("too_compressible"),
        # >= : with the envelope subtracted, a payload deflate cannot
        # shrink sits at exactly 1.0M ppm — that IS "incompressible";
        # gated on a minimum length where the verdict carries signal
        (
            (ppm >= RATIO_HIGH_PPM)
            & (utf8_len >= MIN_INCOMPRESSIBLE_BYTES)
        ).alias("incompressible"),
    ]
