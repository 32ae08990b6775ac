"""Content hashing — the pass-3 analog of the reference.

Reference: BLAKE3 partial hash of first 16KB + last 16KB (scanner.rs:21-48)
and full streaming BLAKE3 (scanner.rs:50-68), invoked per-row inside rayon
parallel maps (lib.rs:83-107,130-152).

Ours: one content hash, SHA-256 over the UTF-8 bytes of the whole text,
built-in ``F.sha2`` only (JVM-side, whole-stage codegen, zero Python).
The reference's partial hash is a cheap gate that saves reading file
bytes for non-candidates; here the text is already in the row, so the
dedup path has no partial hash. The head+tail view survives only in
``queries.py``'s pass-2 grouping query, which builds its own window.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sha256_col(text: Column) -> Column:
    """Full content hash over the UTF-8 bytes, built-in."""
    return F.sha2(text.cast("binary"), 256)


def length_bucket(text: Column) -> Column:
    """Cheap blocking key #1 — the analog of the reference's pass-1
    group-by-size (lib.rs:54-58). Byte-length log2 bucket: coarse enough
    that small formatting drift stays in-bucket, fine enough to prune."""
    n = F.length(text)
    return F.when(n <= 0, F.lit(0)).otherwise(
        F.floor(F.log2(n.cast("double"))).cast("int")
    )


def normalized_for_dedup(text: Column) -> Column:
    """CCNet/Gopher-style "exact after normalization" key: lowercase,
    every digit → ``0``, every run of non-alphanumerics → one space,
    trimmed. Raw-byte exact dedup (pass 2) misses the web's cheapest
    mutations — casing, punctuation, whitespace, counters ("Page 3 of
    10") — which this key collapses while leaving real content edits
    distinct; hashing it adds a second exact tier between pass 2 and
    the MinHash near tier.

    Scale shape identical to pass 2: three codegen ``regexp_replace``
    passes at scan time, then a 32-byte ``sha2`` groupBy key — the
    text itself never shuffles. The character classes are RE2-safe
    (``\\p{L}``/``\\p{N}``), so the DuckDB oracle replays the exact
    algebra (with its explicit ``'g'`` flag)."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[0-9]", "0")
    t = F.regexp_replace(t, r"[^\p{L}\p{N}]+", " ")
    return F.trim(t)


def normalized_sha256_col(text: Column) -> Column:
    """``sha256(normalized_for_dedup(text))`` — the normalized exact
    dedup key, all built-ins."""
    return F.sha2(normalized_for_dedup(text).cast("binary"), 256)
