"""SimHash — near-duplicate signature, vectorized via Arrow batches.

Generalizes the reference's cheap pass-1 key (group-by-size, lib.rs:54-58)
to content-aware blocking per BASELINE.json north_star ("SimHash band via
vectorized Arrow UDFs"). The 64-bit token hash is two independent 32-bit
polynomial chains (prime moduli) — plain modular arithmetic that any SQL
engine reproduces bit-for-bit (DuckDB oracle: queries.SQL_SIMHASH), unlike
an engine-private SipHash. The 64 bit-majorities are computed with
``np.unpackbits`` matrix ops, so the per-doc work is one small token loop
plus numpy matrix reductions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

SIMHASH_BITS = 64
DEFAULT_BANDS = 4  # 4 bands × 16 bits

# Dual 32-bit polynomial token-hash chains (SQL-reproducible).
TH_P1, TH_B1 = 4294967291, 1000003  # 2^32 - 5
TH_P2, TH_B2 = 4294967279, 1000033  # 2^32 - 17


def _token_hash64(tok: str) -> int:
    h1 = h2 = 0
    for c in tok:
        o = ord(c)
        h1 = (h1 * TH_B1 + o) % TH_P1
        h2 = (h2 * TH_B2 + o) % TH_P2
    return (h1 << 32) | h2


def simhash64(text: str | None) -> int | None:
    if text is None:
        return None
    toks = text.split()
    if not toks:
        return 0
    h = np.fromiter((_token_hash64(t) for t in toks), dtype=np.uint64, count=len(toks))
    bits = np.unpackbits(h.view(np.uint8).reshape(len(h), 8), axis=1, bitorder="little")
    maj = (bits.sum(axis=0) * 2 >= len(h)).astype(np.uint8)
    val = int(np.packbits(maj, bitorder="little").view(np.uint64)[0])
    return val - (1 << 64) if val >= 1 << 63 else val  # two's-complement into int64


@pandas_udf(LongType())
def simhash64_udf(texts: pd.Series) -> pd.Series:
    return texts.map(simhash64)


def simhash_bands(simhash: Column, n_bands: int = DEFAULT_BANDS) -> Column:
    """Split a 64-bit simhash into band keys (``'s{k}:{hex}'``) using
    built-in bit ops — JVM-side, codegen-friendly. ``explode`` the result
    to get one LSH bucket row per band."""
    width = SIMHASH_BITS // n_bands
    mask = (1 << width) - 1
    bands = [
        F.concat(
            F.lit(f"s{k}:"),
            F.shiftrightunsigned(simhash, k * width)
            .bitwiseAND(F.lit(mask))
            .cast("string"),
        )
        for k in range(n_bands)
    ]
    return F.array(*bands)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes — built-in
    ``bit_count(a XOR b)``."""
    return F.bit_count(a.bitwiseXOR(b))
