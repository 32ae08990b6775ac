"""Pairwise similarity scoring over candidate-pair DataFrames.

One implementation per measure. Levenshtein and character n-gram
Jaccard are built-in column expressions (JVM-side, whole-stage
codegen); Jaro-Winkler and Damerau–Levenshtein have no built-in, so
they are Arrow-batched pandas UDFs (one pandas call per batch of
pairs). The plain-Python ``_levenshtein``/``_jaro_winkler``/
``_damerau_levenshtein`` are the driver-side references the tests and
``tools/jw_parity.py`` compare against.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

LEV_CAP = 512  # cap quadratic edit-distance work per pair


def _null_safe(out: np.ndarray, nulls: np.ndarray) -> pd.Series:
    """Pair-scorer return convention: NULL text scores NULL, never NaN —
    Spark orders NaN ABOVE every number, so a NaN score would PASS
    ``score >= threshold`` where the built-in scorers yield NULL and
    drop the pair; every scorer must drop a pair with NULL text.
    Nullable Float64 keeps the None through Arrow (plain float64 would
    coerce it back to NaN)."""
    s = pd.Series(out, dtype="Float64")
    if nulls.any():
        s[nulls] = pd.NA
    return s


def levenshtein_sim_col(a: Column, b: Column, cap: int = LEV_CAP) -> Column:
    """1 − lev(a,b)/max(len) on ``cap``-char prefixes — built-in, JVM-side."""
    pa, pb = F.substring(a, 1, cap), F.substring(b, 1, cap)
    mx = F.greatest(F.length(pa), F.length(pb))
    return F.when(mx == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(pa, pb) / mx.cast("double")
    )


def _levenshtein(a: str, b: str) -> int:
    """Two-row DP, numpy inner loop."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = np.arange(len(b) + 1)
    bw = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    for i, ca in enumerate(a):
        cur = np.empty(len(b) + 1, dtype=prev.dtype)
        cur[0] = i + 1
        sub = prev[:-1] + (bw != ord(ca))
        np.minimum(sub, prev[1:] + 1, out=cur[1:])
        # insertion needs a left-to-right scan
        for j in range(1, len(b) + 1):
            if cur[j - 1] + 1 < cur[j]:
                cur[j] = cur[j - 1] + 1
        prev = cur
    return int(prev[-1])


def _damerau_levenshtein(a: str, b: str) -> int:
    """Full Damerau–Levenshtein (Lowrance–Wagner: unrestricted edits
    plus adjacent transposition), matching DuckDB's
    ``damerau_levenshtein`` variant exactly (rapidfuzz-cpp; verified
    'ca'→'abc' = 2, which the restricted OSA variant scores 3). This IS
    a metric (triangle inequality holds) unlike OSA, so it is safe in
    distance-based pruning. Code points, like the rest of this module
    (DuckDB counts UTF-8 bytes — identical over ASCII)."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if not la:
        return lb
    if not lb:
        return la
    maxdist = la + lb
    d = np.empty((la + 2, lb + 2), dtype=np.int64)
    d[0, :] = maxdist
    d[:, 0] = maxdist
    d[1, 1:] = np.arange(lb + 1)
    d[1:, 1] = np.arange(la + 1)
    last_row: dict[str, int] = {}
    for i in range(1, la + 1):
        ca = a[i - 1]
        last_col = 0
        for j in range(1, lb + 1):
            cb = b[j - 1]
            k = last_row.get(cb, 0)
            m = last_col
            if ca == cb:
                cost = 0
                last_col = j
            else:
                cost = 1
            d[i + 1, j + 1] = min(
                d[i, j] + cost,  # substitute / match
                d[i + 1, j] + 1,  # insert
                d[i, j + 1] + 1,  # delete
                d[k, m] + (i - k - 1) + 1 + (j - m - 1),  # transpose
            )
        last_row[ca] = i
    return int(d[la + 1, lb + 1])


@pandas_udf(DoubleType())
def pair_damerau_sim_udf(text_a: pd.Series, text_b: pd.Series) -> pd.Series:
    """Batched 1 − damerau/maxlen on capped prefixes — the
    transposition-aware edit similarity (swapped words/chars cost 1,
    not 2), the classic fielded-record ER scorer."""
    out = np.empty(len(text_a), dtype=np.float64)
    nulls = np.zeros(len(text_a), dtype=bool)
    for i, (a, b) in enumerate(zip(text_a.values, text_b.values)):
        if a is None or b is None:
            nulls[i] = True
            out[i] = 0.0
            continue
        a, b = a[:LEV_CAP], b[:LEV_CAP]
        mx = max(len(a), len(b))
        out[i] = 1.0 if mx == 0 else 1.0 - _damerau_levenshtein(a, b) / mx
    return _null_safe(out, nulls)


def _jaro(a: str, b: str) -> float:
    """Jaro similarity, bit-for-bit compatible with DuckDB's
    ``jaro_similarity`` (vendored rapidfuzz-cpp): classic matching
    window ``max(la,lb)//2 - 1``, transpositions = differing matched
    positions ``// 2`` (INTEGER division — odd mismatch counts round
    down), and empty strings score 0.0 even against each other. The
    CORRECTNESS oracle hashes stringified doubles, so this parity is
    exact by construction and pinned by tools/jw_parity.py."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    if a == b:
        return 1.0
    window = max(la, lb) // 2 - 1
    aw = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32)
    bw = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    b_taken = np.zeros(lb, dtype=bool)
    a_match = []
    b_match_idx = []
    for i in range(la):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        seg = np.where((bw[lo:hi] == aw[i]) & ~b_taken[lo:hi])[0]
        if len(seg):
            j = lo + int(seg[0])
            b_taken[j] = True
            a_match.append(i)
            b_match_idx.append(j)
    m = len(a_match)
    if m == 0:
        return 0.0
    # transpositions: matched a-chars in a-order vs matched b-chars in
    # b-order, halved count of differing positions (comparing characters,
    # not match indices — indices overcount when matched chars repeat)
    a_chars = aw[np.array(a_match)]
    b_chars = bw[np.sort(np.array(b_match_idx))]
    t = int(np.sum(a_chars != b_chars)) // 2
    return (m / la + m / lb + (m - t) / m) / 3


def _jaro_winkler(a: str, b: str, p: float = 0.1) -> float:
    """Winkler boost gated at jaro > 0.7 (Winkler's original
    boost_threshold; also what DuckDB/rapidfuzz implement — verified
    bitwise by tools/jw_parity.py)."""
    j = _jaro(a, b)
    if j <= 0.7:
        return j
    prefix = 0
    for x, y in zip(a[:4], b[:4]):
        if x != y:
            break
        prefix += 1
    return j + prefix * p * (1 - j)


@pandas_udf(DoubleType())
def pair_jaro_winkler_udf(text_a: pd.Series, text_b: pd.Series) -> pd.Series:
    """Batched Jaro-Winkler on capped prefixes."""
    out = np.empty(len(text_a), dtype=np.float64)
    nulls = np.zeros(len(text_a), dtype=bool)
    for i, (a, b) in enumerate(zip(text_a.values, text_b.values)):
        if a is None or b is None:
            nulls[i] = True
            out[i] = 0.0
        else:
            out[i] = _jaro_winkler(a[:LEV_CAP], b[:LEV_CAP])
    return _null_safe(out, nulls)


def ngram_grams_col(t: Column, n: int = 5) -> Column:
    """Distinct character ``n``-gram set of ``t`` as an array — pure
    JVM codegen (transform over sequence + substring). Mirrors the
    Python ``{s[i:i+n] for i in range(max(1, len(s)-n+1))}`` exactly,
    including the short-string case (len<n → the whole string as the
    single gram) and the empty string (single '' gram)."""
    k = F.greatest(F.lit(1), F.length(t) - F.lit(n - 1))
    grams = F.transform(F.sequence(F.lit(1), k), lambda i: t.substr(i, F.lit(n)))
    return F.array_distinct(grams)


def ngram_jaccard_col(a: Column, b: Column, n: int = 5) -> Column:
    """Character n-gram Jaccard, JVM-side. Either side null → NULL
    (without the explicit gate a null side grams to ``[null]``, which
    scores null-vs-null as 1.0 and null-vs-text as 0.0 — a phantom
    confirmed-duplicate). Set sizes are integers, so the double
    division is bit-identical across Spark / Python / DuckDB."""
    ga, gb = ngram_grams_col(a, n), ngram_grams_col(b, n)
    inter = F.size(F.array_intersect(ga, gb)).cast("double")
    union = F.size(F.array_union(ga, gb))
    return F.when(
        a.isNull() | b.isNull(), F.lit(None).cast("double")
    ).otherwise(
        # union >= 1 for any non-null input (even '' contributes one
        # gram); the guard keeps the division safe
        F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    )
