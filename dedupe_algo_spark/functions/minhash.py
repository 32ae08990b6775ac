"""MinHash signatures + LSH banding, vectorized via Arrow batches.

The scale path for near-duplicate candidate generation: shingle → minhash
→ band → bucket-join (per the task spec's dedup requirements and
BASELINE.json's "MinHash-Jaccard" scoring). Signature math is pure numpy
(one-permutation hashing over SipHash token/shingle hashes); banding is
a cheap reduction over the signature matrix.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

NUM_PERM = 128
LSH_BANDS = 32  # = lsh_plan(128, tau=0.7)["bands"]; see below


def lsh_plan(
    n_slots: int, tau: float, target_recall: float = 0.95
) -> dict:
    """Derive the (bands, rows) split for an ``n_slots``-permutation
    MinHash-LSH index targeting Jaccard threshold ``tau`` — the
    standard S-curve analysis (Leskovec/Rajaraman/Ullman, Mining of
    Massive Datasets §3.4). For ``b`` bands of ``r`` rows the
    probability a pair at Jaccard ``j`` collides in ≥1 band is
    ``p(j) = 1 - (1 - j^r)^b``; larger ``r`` steepens the curve and
    shifts its threshold ``(1/b)^(1/r)`` right, trading false
    positives (candidate volume) for recall. The planner keeps every
    factorization ``b*r = n_slots`` and selects the LARGEST ``r``
    whose recall at ``tau`` still meets ``target_recall`` — the
    cheapest index (fewest spurious candidates) that won't miss the
    pairs the confirm tier is owed.

    → ``{"bands", "rows", "recall_at_tau", "threshold",
    "candidates": [...]}`` with one candidate dict per factorization.
    The flagship's constants are this plan: ``lsh_plan(128, 0.7)``
    chooses 32×4 (recall 0.9998 at J=0.7, curve threshold 0.42).
    Pure driver-side math — call it at config time, not per row.
    """
    if n_slots <= 0:
        raise ValueError(f"n_slots must be positive, got {n_slots}")
    if not 0.0 < tau < 1.0:
        raise ValueError(f"tau must be in (0, 1), got {tau}")
    cands = []
    for r in range(1, n_slots + 1):
        if n_slots % r:
            continue
        b = n_slots // r
        recall = 1.0 - (1.0 - tau**r) ** b
        cands.append(
            {
                "bands": b,
                "rows": r,
                "recall_at_tau": recall,
                "threshold": (1.0 / b) ** (1.0 / r) if b > 1 else 0.0,
            }
        )
    ok = [c for c in cands if c["recall_at_tau"] >= target_recall]
    # every plan includes r=1 (recall 1-(1-tau)^n, ~1 for any sane n),
    # so ok is only empty for tiny n_slots with a low tau — fall back
    # to the highest-recall candidate rather than failing
    best = max(ok, key=lambda c: c["rows"]) if ok else max(
        cands, key=lambda c: c["recall_at_tau"]
    )
    return {**best, "candidates": cands}


# rolling-combine multipliers for 3-token shingle hashes (odd, uint64 wrap)
_SH_C1 = np.uint64(0x9E3779B97F4A7C15)
_SH_C2 = np.uint64(0xC2B2AE3D27D4EB4F)


def _combine3(th: np.ndarray) -> np.ndarray:
    """Hash of each 3-token window as an arithmetic combine of the
    per-token hashes — equivalent-strength to hashing the joined string
    but with zero Python string construction."""
    return th[:-2] * _SH_C1 + th[1:-1] * _SH_C2 + th[2:]


def _shingle_hashes(text: str, k: int = 3) -> np.ndarray:
    """Per-token SipHash (pandas.util.hash_array — deterministic, fixed
    key) rolled into 3-gram shingle hashes. Short texts fall back to
    unigram token hashes (a single ``""`` token for an empty text).
    Duplicate shingles are fine — min over a multiset equals min over
    its set."""
    toks = text.split()
    if len(toks) < k:
        return pd.util.hash_array(
            np.asarray(toks if toks else [""], dtype=object)
        )
    return _combine3(pd.util.hash_array(np.asarray(toks, dtype=object)))


_EMPTY = np.uint64(0xFFFFFFFFFFFFFFFF)


def _densify(sig2d: np.ndarray) -> np.ndarray:
    """Rotation densification over a (B, NUM_PERM) uint64 matrix: each
    empty bucket copies the value of the nearest non-empty bucket to its
    right (cyclically), offset by the distance so different borrow
    distances stay distinct. Loops only over the (rare) rows that have
    empty buckets."""
    for i in np.nonzero((sig2d == _EMPTY).any(axis=1))[0]:
        sig = sig2d[i]
        empty = sig == _EMPTY
        if empty.all():
            sig[:] = np.uint64(0)
            continue
        idx = np.arange(NUM_PERM)
        nonempty_idx = idx[~empty]
        pos = np.searchsorted(nonempty_idx, idx[empty])
        donor = nonempty_idx[pos % len(nonempty_idx)]
        dist = (donor - idx[empty]) % NUM_PERM
        sig[empty] = sig[donor] + dist.astype(np.uint64)
    return sig2d


def _oph_from_hashes(h: np.ndarray) -> np.ndarray:
    """OPH core for one doc's shingle hashes: scatter into NUM_PERM
    buckets by the low bits, per-bucket min, densify."""
    buckets = (h & np.uint64(NUM_PERM - 1)).astype(np.intp)
    vals = h >> np.uint64(7)  # bucket-independent value bits
    sig = np.full(NUM_PERM, _EMPTY, dtype=np.uint64)
    np.minimum.at(sig, buckets, vals)
    return _densify(sig.reshape(1, NUM_PERM))[0].astype(np.int64)


def minhash_signature(text: str | None, k: int = 3) -> np.ndarray | None:
    """One-permutation hashing (OPH) with rotation densification
    (Li, Owen, Zhang 2012; Shrivastava & Li 2014 — public): hash each
    shingle ONCE, scatter into NUM_PERM buckets by its low bits, keep the
    per-bucket min, then fill empty buckets by rotation. O(S) work per
    doc. Reference per-doc path; ``_batch_signatures`` is the hot path
    and is pinned identical by test."""
    if text is None:
        return None
    return _oph_from_hashes(_shingle_hashes(text, k))


def _batch_signatures(texts, k: int = 3) -> list:
    """Per-doc loop. Measured against a whole-batch variant (one
    hash_array call over all tokens + composite (doc, bucket)
    scatter-min): the batch scatter's working set is B×NUM_PERM×8B
    (~20MB per 20k-row Arrow batch) and cache-misses badly — it swung
    0.9×–1.5× vs this loop across eras, while the per-doc scatter hits
    an L1-resident 1KB signature and is stable. The loop's cost is the
    token hashing itself, already one vectorized call per doc."""
    return [minhash_signature(t, k) for t in texts]


_BAND_FOLD = np.uint64(0x9E3779B97F4A7C15)  # odd multiplier, uint64 wrap


def minhash_band_keys(text: str | None, k: int = 3) -> np.ndarray | None:
    """OPH signature folded straight into its LSH_BANDS band keys
    (multiplicative fold over each band's rows, seeded by the band
    index). Equal key ⇔ equal band rows up to a ~2^-64 collision —
    the same banding behavior as hashing the full signature, but the
    row that leaves the UDF is 32 longs (~256B) instead of 128 (~1KB):
    everything downstream of the scan (exact-grouping shuffle, bucket
    explode) moves 4× fewer signature bytes."""
    sig = minhash_signature(text, k)
    if sig is None:
        return None
    rows = NUM_PERM // LSH_BANDS
    m = sig.view(np.uint64).reshape(LSH_BANDS, rows)
    keys = np.arange(LSH_BANDS, dtype=np.uint64)
    for j in range(rows):
        keys = keys * _BAND_FOLD + m[:, j]
    return keys.astype(np.int64)


def _fold_bands(sig2d: np.ndarray) -> np.ndarray:
    """Vectorized band fold over a (B, NUM_PERM) int64 signature matrix
    → (B, LSH_BANDS) int64 keys; value-identical to the per-doc fold in
    ``minhash_band_keys``."""
    rows = NUM_PERM // LSH_BANDS
    m = np.ascontiguousarray(sig2d).view(np.uint64).reshape(
        len(sig2d), LSH_BANDS, rows
    )
    keys = np.tile(np.arange(LSH_BANDS, dtype=np.uint64), (len(sig2d), 1))
    for j in range(rows):
        keys = keys * _BAND_FOLD + m[:, :, j]
    return keys.astype(np.int64)


@pandas_udf(ArrayType(LongType()))
def minhash_band_keys_udf(texts: pd.Series) -> pd.Series:
    """Per-doc signatures (see ``_batch_signatures``), ONE vectorized
    band fold over the whole Arrow batch."""
    sigs = _batch_signatures(texts.values)
    out: list = [None] * len(sigs)
    live = [i for i, s in enumerate(sigs) if s is not None]
    if live:
        keys = _fold_bands(np.stack([sigs[i] for i in live]))
        for row, i in enumerate(live):
            out[i] = keys[row]
    return pd.Series(out, index=texts.index)


def estimate_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    return float(np.mean(np.asarray(sig_a) == np.asarray(sig_b)))
