"""Candidate-pair generation — the quadratic stage, kept sub-quadratic.

The reference never materializes pairs (its groups ARE the duplicates);
near-dup generalization needs a within-block self-join (SURVEY.md §2.4:
"ours adds one at scale"). Design rules for 10^12 rows:

1. **Collapse exact duplicates first.** Pair generation runs on one
   representative per distinct text (the exact-dup assignment provides
   the mapping), so a 10^6-copy boilerplate page contributes one node,
   not 10^12 pairs. This is the single biggest scale lever.
2. **Multi-path bucketing, one unioned bucket table.** A page emits one
   bucket row per blocking path: the cheap key (length bucket ×
   registered domain) and each MinHash LSH band. Equal bucket key ⇒
   candidate. Paths union into one (bucket_key, url) table so the
   self-join happens once.
3. **Hot-bucket cap.** Buckets larger than ``max_bucket`` are dropped
   (logged via the returned stats, audit-visible) — a 50k-row bucket
   means the key carries no discriminating power (e.g. an empty-ish
   boilerplate band) and would emit 10^9 junk pairs. AQE skew-join
   handles residual imbalance.
4. **Pair dedup by (url_a, url_b)** with ``url_a < url_b`` so each
   unordered pair is scored once no matter how many buckets it fell in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.minhash import minhash_band_keys_udf, minhash_bands_col
from ..functions.simhash import simhash64_udf, simhash_bands
from .blocking import block_key

DEFAULT_MAX_BUCKET = 2_000


def bucket_table_from_sigs(sigs: DataFrame) -> DataFrame:
    """→ (bucket_key:long, url) from a precomputed (url, sig) table.
    Band keys are JVM-side xxhash64 over signature slices — the whole
    bucketing is codegen, no Python, and the exploded rows carry only
    (long, url): the narrowest possible self-join input."""
    return sigs.select(
        F.explode(minhash_bands_col(F.col("sig"))).alias("bucket_key"), "url"
    )


def bucket_table_from_bands(bands: DataFrame) -> DataFrame:
    """→ (bucket_key:long, url) from a precomputed (url, bands) table —
    the band keys were already folded in the signature UDF
    (minhash_band_keys_udf), so bucketing is a bare explode."""
    return bands.select(F.explode("bands").alias("bucket_key"), "url")


def bucket_table(
    working: DataFrame,
    use_minhash: bool = True,
    use_simhash: bool = False,
    use_cheap_key: bool = True,
) -> DataFrame:
    """→ (bucket_key, url). ``working`` needs (url, text) columns.

    Every path projects its (bucket_key, url) rows map-side directly on
    the scan partitions — signature UDFs first, banding JVM-side via
    ``bucket_table_from_sigs`` — so no Exchange below the self-join ever
    carries the text column (the text-never-shuffles invariant, asserted
    by test_plans via plans.exchange_columns). A single-path call keeps
    its native key type (minhash band keys stay slim longs); multi-path
    calls cast to string for the union.
    """
    paths = []
    if use_minhash:
        bands = working.select(
            "url", minhash_band_keys_udf(F.col("text")).alias("bands")
        )
        paths.append(bucket_table_from_bands(bands))
    if use_cheap_key:
        paths.append(
            working.select(
                block_key(F.col("text"), F.col("url")).alias("bucket_key"), "url"
            )
        )
    if use_simhash:
        sh = working.select("url", simhash64_udf(F.col("text")).alias("simhash"))
        paths.append(
            sh.select(
                F.explode(simhash_bands(F.col("simhash"))).alias("bucket_key"), "url"
            )
        )
    if len(paths) == 1:
        return paths[0]
    out = None
    for p in paths:
        p = p.select(F.col("bucket_key").cast("string").alias("bucket_key"), "url")
        out = p if out is None else out.unionByName(p)
    return out


def candidate_pairs(
    buckets: DataFrame,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    with_counts: bool = False,
    tracker=None,
) -> DataFrame:
    """→ distinct (url_a, url_b), url_a < url_b — plus ``n_shared`` (the
    number of buckets the pair collided in) when ``with_counts``.

    Hot buckets (> ``max_bucket`` members) are excluded — at web scale
    these are non-discriminating keys whose pair blow-up is quadratic
    junk. The bucket-size prune reuses the bucket_key shuffle via a
    window count (same trick as singleton pruning, F7).

    ``n_shared`` is the free similarity estimate: with b bands of r rows,
    a pair of Jaccard J collides per band with probability J^r, so the
    collision count is Binomial(b, J^r) — thresholding it gates on J
    using ONLY the shuffle the bucketing already paid for, no signature
    joins (the standard LSH-at-scale formulation; cf. spark.ml
    MinHashLSH, which gates on ≥1 collision before exact distance).

    Shape note — measured at 4M pages on the standalone harness:

    * a plain within-bucket self-join materializes the bucket-table
      Exchange TWICE (AQE + cached parents defeat ReuseExchange;
      2×2.5GB, ~27s at 32 cores);
    * a ``groupBy(bucket_key).agg(collect_list)`` + i<j array expansion
      halves the shuffle bytes but is ~3× SLOWER: partial collect_list
      is an ObjectHashAggregate that falls back to sort-based
      aggregation on the ~32·|reps| exploded rows, and the quadratic
      ``slice``-based pair expression allocates O(k²) structs per
      bucket before the explode (55s+23s for the same leg);
    * the shape used here: window-count prune, then **persist the
      window output** (hash-partitioned AND sorted on bucket_key) and
      self-join the cache against itself. The cached partitioning and
      ordering satisfy both SMJ children, so the join adds NO exchange
      and NO sort — candidate generation pays exactly ONE shuffle of
      the slim (bucket_key, url) table, plus the pair-count exchange.

    Pass ``tracker`` (a :class:`~dedupe_algo_spark.tracking
    .PersistTracker`) to enable the cache-reuse shape; without it (ad
    hoc calls, tests) nothing is persisted and the join falls back to
    rematerializing its Exchange per side — correct, just not the
    flagship plan."""
    w = Window.partitionBy("bucket_key")
    sized = (
        buckets.withColumn("_n", F.count(F.lit(1)).over(w))
        .where((F.col("_n") >= 2) & (F.col("_n") <= max_bucket))
        .select("bucket_key", "url")
    )
    if tracker is not None:
        sized = tracker.persist(sized)
    left = sized.select("bucket_key", F.col("url").alias("url_a"))
    right = sized.select("bucket_key", F.col("url").alias("url_b"))
    # The merge hint pins the shape above at every size. Unhinted, a
    # small table broadcasts, and which side AQE builds from depends on
    # which of the cache's two scan stages it sees finish first: a plan
    # (and a generated class) that varies from run to run.
    pairs = left.join(right.hint("merge"), "bucket_key").where(
        F.col("url_a") < F.col("url_b")
    )
    if with_counts:
        return pairs.groupBy("url_a", "url_b").agg(
            F.count(F.lit(1)).alias("n_shared")
        )
    return pairs.select("url_a", "url_b").distinct()


def dropped_buckets(buckets: DataFrame, max_bucket: int = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Audit view of capped buckets (no silent truncation)."""
    return (
        buckets.groupBy("bucket_key")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .where(F.col("n_members") > max_bucket)
    )


def wminhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 1,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """→ (``id_a``, ``id_b``, n_shared): candidate pairs under the
    WEIGHTED Jaccard measure — ICWS weighted-MinHash signatures
    (functions/wminhash.py, Ioffe ICDM 2010) banded 16×4 and
    self-joined on band keys. The weighted twin of ``candidate_pairs``:
    where the unweighted LSH treats a token spammed 100× like one
    occurrence, ICWS band collisions track Σmin/Σmax over counts, so
    repetition-inflated pages stop bucketing with everything sharing
    their vocabulary. Confirm survivors with
    ``corpus_stats.weighted_jaccard_pairs`` — the sketch estimates the
    exact measure that operator computes.

    Scale shape, same contract as the flagship generator above: one
    Arrow-batched UDF computes signature+bands in the scan stage
    (text never leaves it), the self-join input is the slim
    (band_key, id) posting table, hot buckets beyond ``max_bucket``
    are dropped before pairing (auditable the same way as
    ``dropped_buckets``), one exchange keyed on the band hash, one
    slim pair rollup."""
    from ..functions.wminhash import wband_udf, wminhash_udf

    posts = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.explode(wband_udf(wminhash_udf(F.col(text_col)))).alias("bk"),
        )
        .distinct()
    )
    w = Window.partitionBy("bk")
    kept = (
        posts.withColumn("_n", F.count(F.lit(1)).over(w))
        .where((F.col("_n") >= 2) & (F.col("_n") <= max_bucket))
        .select("_id", "bk")
    )
    a = kept.select(F.col("_id").alias(id_a), "bk")
    b = kept.select(F.col("_id").alias(id_b), "bk")
    return (
        a.join(b, "bk")
        .where(F.col(id_a) < F.col(id_b))
        .groupBy(id_a, id_b)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
