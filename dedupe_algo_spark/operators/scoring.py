"""Pair scoring — gate and confirm for near-duplicate candidates.

Two steps (north_star: "batched Jaro-Winkler/Levenshtein +
MinHash-Jaccard"):

1. **Band gate** — the number of LSH bands a pair collided in
   (``candidate_pairs(..., with_counts=True)``) is Binomial(b, J^r) in
   the pair's Jaccard J. ``band_gate`` thresholds it; the count rides
   the bucket self-join's own exchange, so the gate joins no signatures
   and runs no Python. Pairs far below threshold die here.
2. **Confirm** — exact token-set Jaccard over the texts, but only for
   gate survivors: the text column is re-read from the source and
   joined against the (tiny) survivor list — pair-side-small, so text
   never shuffles.

The reference analog is pass 3's full-hash byte-confirm after the cheap
partial-hash gate (lib.rs:130-160) — same cheap-gate-then-confirm shape,
generalized to similarity. Every reported pair is confirmed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_THRESHOLD = 0.80

# ≥2 band collisions out of 32 bands × 4 rows: P(pass | J=0.7) ≈ 0.998,
# P(pass | J=0.3) ≈ 0.03 — the gate sheds pairs far below the confirm
# threshold and keeps those near it for ``confirm_pairs``, at zero
# additional shuffle (the count rides the bucket self-join's exchange).
DEFAULT_MIN_BAND_MATCHES = 2

# Broadcasting the candidate url set (≈60B/url) stays executor-safe well
# into the millions; above this, fall back to the shuffled semi-join.
BROADCAST_URL_LIMIT = 4_000_000

# Java regex whose split boundaries equal Python str.split()'s on every
# input: (?U)\s is the Unicode White_Space property; Python isspace()
# additionally counts the U+001C-001F file/group/record/unit separators.
TOKEN_SPLIT_RE = r"(?U)[\s\x1c-\x1f]+"


def token_hash_array(text):
    """THE tier-2 token identity: distinct 32-bit Murmur3 token hashes
    (see the collision-probability budget in ``confirm_pairs``). Shared
    by the in-pipeline confirm tier and the cross-table incremental
    probe (sources/bucketed.py) so their verdicts can never
    desynchronize — change the tokenizer or hash width HERE only."""
    return F.transform(
        F.array_distinct(F.array_remove(F.split(text, TOKEN_SPLIT_RE), "")),
        lambda t: F.hash(t),
    )


def token_jaccard_score(ta, tb):
    """Jaccard over two token-hash arrays; two empty docs score 1.0
    (identical). The other half of the shared tier-2 identity."""
    inter = F.size(F.array_intersect(ta, tb))
    union = F.size(ta) + F.size(tb) - inter
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union.cast("double"))


def token_containment_score(ta, tb):
    """Containment over two token-hash arrays: |A∩B| / min(|A|,|B|) —
    the doc-in-doc dial. A page embedded verbatim in a longer page
    (syndicated article + surrounding boilerplate, quoted post inside a
    thread) scores 1.0 here while its Jaccard sinks toward
    |A|/|B|. Symmetric min-denominator form (Broder's containment is
    one-sided; min makes the pair score order-independent, matching the
    url_a<url_b canonical pair orientation). Two empty docs score 1.0;
    ONE empty side scores 0.0 (the repo-wide degenerate-side rule —
    'empty is contained in everything' would weld a whitespace-only
    page into every cluster it was ever paired with)."""
    inter = F.size(F.array_intersect(ta, tb))
    mn = F.least(F.size(ta), F.size(tb))
    return (
        F.when((F.size(ta) == 0) & (F.size(tb) == 0), F.lit(1.0))
        .when(mn == 0, F.lit(0.0))
        .otherwise(inter / mn.cast("double"))
    )


def pair_value_join(cand: DataFrame, slice_: DataFrame, val: str) -> DataFrame:
    """One-pass pair/value join: melt each pair into (url_a, url_b,
    side, url), join the per-url value slice ONCE, and pivot the two
    sides back into ``_ta``/``_tb`` per pair.

    This replaces the classic double join (slice as ``ta`` on url_a,
    slice as ``tb`` on url_b), and exists for a scale reason: the
    double join references the slice twice, so its two exchange
    children are independent query stages that AQE submits
    CONCURRENTLY — with a cold cache each re-runs the full
    scan+semi-join+tokenize while racing to fill it (measured ~300
    cpu-s per side at 4M pages), and the fix was a driver-blocking
    ``slice_.count()`` barrier before the join. Here the slice appears
    exactly once, so there is no race, no persist, and no barrier job
    — and the big array payload moves fewer times: the melt side is
    slim (two urls + a one-char side tag), the slice side crosses one
    join exchange, and the pivot's groupBy exchange carries each
    pair's two values once (vs the double join's ta exchange + tb
    exchange + ``_ta`` carried through the second join's url_b
    exchange).

    Semantics match the inner double join: a pair whose url is absent
    from the slice (or whose value is null) pivots to a null side,
    scores null, and dies at the threshold filter — exactly where the
    double join dropped it. Input pairs are distinct by construction
    (candidate_pairs/band_gate both dedup); the pivot would collapse
    duplicate pairs, which is the correct behavior for a pair list
    anyway."""
    melt = cand.select(
        "url_a",
        "url_b",
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("s"), F.col("url_a").alias("url")),
                F.struct(F.lit("b").alias("s"), F.col("url_b").alias("url")),
            )
        ).alias("_m"),
    ).select(
        "url_a",
        "url_b",
        F.col("_m.s").alias("_s"),
        F.col("_m.url").alias("url"),
    )
    side = lambda tag: F.first(  # noqa: E731 — one non-null row per side
        F.when(F.col("_s") == tag, F.col(val)), ignorenulls=True
    )
    return (
        melt.join(slice_, "url")
        .groupBy("url_a", "url_b")
        .agg(side("a").alias("_ta"), side("b").alias("_tb"))
    )


def band_gate(
    pairs_with_counts: DataFrame, min_matches: int = DEFAULT_MIN_BAND_MATCHES
) -> DataFrame:
    """Gate via LSH band-collision counts: keep pairs that
    collided in ≥ ``min_matches`` bands (``candidate_pairs(...,
    with_counts=True)`` output). The binomial collision count IS the
    Jaccard estimate — no signature join, no Python, no extra shuffle."""
    return pairs_with_counts.where(F.col("n_shared") >= min_matches)


def confirm_pairs(
    candidates: DataFrame,
    pages: DataFrame,
    threshold: float,
    tracker=None,
) -> DataFrame:
    """Exact token-Jaccard confirm on band-gate survivors.
    → (url_a, url_b, score).

    The text column is read from the source exactly ONCE: a semi-join
    against the candidate url set carves out the text slice (≤2×|pairs|
    rows), which then meets the pair list in ONE melt/pivot join
    (``pair_value_join``) instead of the classic double join — the
    slice is referenced once, so it needs no persist and no
    driver-blocking ``count()`` barrier to serialize racing exchange
    children (two such barriers existed through round 4). The url set
    is **explicitly broadcast** when small enough: Catalyst's size
    estimate for a derived distinct-union is unknowable at plan time,
    so without the hint AQE plants a sort-merge semi-join that
    shuffles the whole pages table — text and all (measured: 13.6GB of
    a 31GB input at 4M pages). The count that decides the hint is over
    the (persisted, tiny) pair list, not the pages table; it is the
    ONE remaining driver barrier and is irreducible by the Observation
    fold that deleted CC's convergence collects — an Observation can
    only report metrics of a job that already ran, and this count
    gates a plan-time decision (the broadcast hint) for the very next
    job, so no earlier action exists to ride.

    The confirm tokenizes each slice row ONCE into a distinct
    token-hash array during the carve-out (``token_hash_array``), and
    the per-pair score is ``array_intersect``/``size`` — whole-stage
    codegen, zero Python in the confirm stage. Token identity is a
    32-bit Murmur3 hash (``F.hash`` → native INT), not the string: the
    pair join's array_intersect then compares ints instead of hashing
    and equality-checking strings per element — the confirm join stage
    was the largest post-scan CPU item at 4M pages (~560 cpu-s at N).
    INT (not the earlier xxhash64 LONG) because the token arrays are
    the biggest post-scan shuffle payload (the slice's join exchange
    plus both pivoted arrays through the groupBy exchange); hash
    entropy is incompressible, so 4-byte ids halve those bytes
    outright. Jaccard over distinct token hashes equals Jaccard over
    distinct tokens up to 32-bit collisions (P ≈ n²/2³³ per doc ≈ 4e-7
    at ~60 tokens/page: a collision merges two tokens and shifts one
    side's set size by 1 — a ≲2% score nudge on a handful of docs per
    10⁷, immaterial next to the MinHash tiers feeding this stage and
    far from the τ=0.8 decision boundary). The tokenizer is
    ``TOKEN_SPLIT_RE``, whose character class exactly reproduces Python
    ``str.split()`` (Unicode White_Space via ``(?U)\\s`` plus the
    U+001C–001F separators Python's ``isspace`` adds) — web text is
    full of U+00A0/U+2009 etc., so an ASCII-only ``\\s+`` would flip
    threshold decisions against the MinHash shingler (Python split).

    ``tracker`` (a :class:`~dedupe_algo_spark.tracking.PersistTracker`)
    registers the persisted pair list for release once the caller has
    consumed the scores — without it a long-lived session accumulates
    block-manager memory per call. (The text slice is no longer
    persisted: the one-pass ``pair_value_join`` references it exactly
    once, so there is nothing to cache or race.)

    Contract: ``pages`` must carry ONE row per url (true of every
    table this engine feeds it — the pipeline scores rep urls, which
    are exact-dedup keepers). The melt/pivot's ``first`` would
    collapse duplicate-url rows to an arbitrary one rather than fan
    the pair out per version as the old double join did; pre-dedup
    un-deduped input before direct calls.
    """
    _persist = tracker.persist if tracker is not None else (lambda df: df.persist())
    cand = _persist(candidates.select("url_a", "url_b"))
    urls = (
        cand.select(F.col("url_a").alias("url"))
        .union(cand.select(F.col("url_b").alias("url")))
        .distinct()
    )
    if 2 * cand.count() <= BROADCAST_URL_LIMIT:
        urls = F.broadcast(urls)
    slice_ = pages.join(urls, "url", "left_semi").select(
        "url", token_hash_array(F.col("text")).alias("_v")
    )
    scored = pair_value_join(cand, slice_, "_v").withColumn(
        "score", token_jaccard_score(F.col("_ta"), F.col("_tb"))
    )
    return scored.where(F.col("score") >= threshold).select("url_a", "url_b", "score")
