"""End-to-end dedup pipeline — the web-scale ``start_scan``.

Reference lifecycle (SURVEY.md §3.1, lib.rs:30-182) re-designed for
Spark:

    pages (scan, read ONCE)
      → page_meta: map-side (url, len, sha256, LSH band keys);
        text dropped before any shuffle               (passes 1-3 compute)
      → exact grouping on (len, sha256)               (1 slim shuffle)
      → collapse to one representative per text       (scale lever)
      → 32 OPH band keys → (long,url) self-join       (pass-1 generalized)
      → band gate = band-collision count (binomial in Jaccard; rides
        the self-join's shuffle, no signature joins)
      → exact token-Jaccard confirm (text re-read, candidate urls
        broadcast — text STILL never shuffles)       (pass-3 analog)
      → large-star/small-star connected components over the rep graph
      → flat (url, cluster_id, match_kind)

Every near cluster is confirmed on the full text, as the reference
confirms every group with a full hash (lib.rs:130-181); there is no
estimate-only output. ``include_near=False`` ends after exact grouping.

Shuffle census to defend at 100 TB: one shuffle of ~100B meta rows for
exact grouping, one shuffle of (long,url) bucket rows for the candidate
self-join (AQE-skew-handled, hot buckets capped), O(log n) CC
supersteps over match edges. The text column is scanned twice (meta,
confirm) and shuffled zero times.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.candidates import (
    DEFAULT_MAX_BUCKET,
    bucket_table_from_bands,
    candidate_pairs,
)
from .operators.cluster import connected_components
from .operators.dedup import (
    assign_exact,
    exact_view,
    page_meta,
    page_meta_incremental,
)
from .operators.scoring import (
    BROADCAST_URL_LIMIT,
    DEFAULT_MIN_BAND_MATCHES,
    DEFAULT_THRESHOLD,
    band_gate,
    confirm_pairs,
)


@dataclass
class DedupResult:
    """Flat cluster assignment + the intermediate tables tests/audit use.

    ``unpersist()`` releases every intermediate the pipeline persisted
    (caches and CC checkpoints) — call it once the outputs are consumed
    or committed. Afterwards re-reading the result DataFrames recomputes
    from source — except after a distributed-CC run (graphs over the
    union-find threshold), whose freed localCheckpoint lineage cannot
    recompute: treat the result as consumed-and-done once released."""

    clusters: DataFrame  # (url, cluster_id, match_kind)
    exact: DataFrame  # (url, text_len, content_sha256, cluster_id, cluster_size)
    edges: DataFrame  # (url_a, url_b, score)
    tracker: "PersistTracker | None" = None
    meta: "DataFrame | None" = None  # incremental meta (+cache_hit), memo runs only
    memo: "object | None" = None  # the HashMemo the meta was validated against

    def unpersist(self, blocking: bool = False) -> None:
        if self.tracker is not None:
            self.tracker.release(blocking)

    def commit_memo(self) -> None:
        """Upsert this run's (url, len, ts, content hash) into the memo —
        the reference's post-scan cache write (lib.rs:142-147, COALESCE
        keep-old semantics via HashMemo.upsert). Call AFTER the cluster
        outputs are consumed/committed, so a failed run never publishes
        hashes for results that were never produced; the next run then
        reuses every entry whose (text_len, warc_ts) still match."""
        if self.memo is None or self.meta is None:
            raise ValueError("pipeline was not run with memo=")
        from .schemas import MEMO_SCHEMA

        self.memo.upsert(self.meta.select(*MEMO_SCHEMA.fieldNames()))


def _cluster_join(assigned: DataFrame, rep_comp: DataFrame) -> DataFrame:
    """Extend the rep-graph component labels through the exact mapping
    → (url, cluster_id, match_kind)."""
    comp = rep_comp.select(
        F.col("url").alias("rep_url"), F.col("component")
    )
    # The component map is RDD-backed (driver union-find) or a small
    # checkpointed aggregate — either way Catalyst has no size stats and
    # plants a sort-merge join that shuffles the whole assigned table
    # (measured 3.6GB at 4M pages) against a ~MB map. The union-find
    # fast path counted its rows while building them and carries the
    # count on the DataFrame, so the broadcast decision costs zero extra
    # jobs on that common path; a distributed-CC or checkpointed-runner
    # run (whose stage hook re-reads parquet, dropping the attribute)
    # pays one count. At 10^12 rows a billion-row component map
    # correctly falls back to the shuffle join.
    n_comp = getattr(rep_comp, "_dedupe_known_rows", None)
    if n_comp is None:
        n_comp = comp.count()
    if n_comp <= BROADCAST_URL_LIMIT:
        comp = F.broadcast(comp)
    return (
        assigned.select("url", "rep_url", "cluster_size")
        .join(comp, "rep_url", "left")
        .where((F.col("cluster_size") >= 2) | F.col("component").isNotNull())
        .select(
            "url",
            F.coalesce(F.col("component"), F.col("rep_url")).alias("cluster_id"),
            F.when(F.col("cluster_size") >= 2, F.lit("exact"))
            .otherwise(F.lit("near"))
            .alias("match_kind"),
        )
    )


def dedup_pipeline(
    pages: DataFrame,
    min_len: int = 10,
    threshold: float = DEFAULT_THRESHOLD,
    include_near: bool = True,
    exact_key: str = "raw",
    memo=None,
    stage=None,
) -> DedupResult:
    """Full dedup: exact + near duplicates → transitive clusters.

    ``stage(name, thunk) -> DataFrame`` is a checkpoint/lineage hook:
    ``None`` (the default) uses :func:`~dedupe_algo_spark.sources.audit
    .audit_stage_hook` — per north_rule every stage writes lineage rows
    to the audit table even in a plain un-checkpointed run; pass
    ``runner.CheckpointedRun.stage`` for resumable stage commits on top,
    or ``lambda name, fn: fn()`` to opt out entirely.
    ``include_near=False`` stops after the exact tier: no band keys, no
    candidates, no connected components.
    ``exact_key="normalized"`` keys the exact tier on the CCNet-style
    normalized text view (casing/punctuation/whitespace/counter
    mutations become exact duplicates — see
    :func:`~.operators.dedup.page_meta`); raw-mode exact clusters can
    only merge, never split, under it. A ``memo`` must have been
    written under the same ``exact_key`` mode.
    ``memo`` (a :class:`~dedupe_algo_spark.sources.memo.HashMemo`)
    switches the meta scan to the incremental path: a content hash
    memoized under a matching (url, text_len, warc_ts) is REUSED instead
    of recomputed (the reference's cache fast path, lib.rs:83-107), and
    ``DedupResult.commit_memo()`` upserts this run's hashes back after
    the outputs are committed. Published hash values are identical
    either way, so warm and cold runs produce identical clusters.
    """
    from .tracking import PersistTracker

    tracker = PersistTracker()
    if stage is None:
        from .sources.audit import audit_stage_hook

        stage = audit_stage_hook(pages.sparkSession, tracker)

    opts = dict(min_len=min_len, with_signature=include_near, exact_key=exact_key)
    if memo is None:
        meta_fn = lambda: page_meta(pages, **opts)  # noqa: E731
    else:
        meta_fn = lambda: page_meta_incremental(pages, memo.read(), **opts)  # noqa: E731
    meta = tracker.persist(stage("page_meta", meta_fn))

    # persisted: the exact-grouping window feeds four consumers (dup
    # view, star edges, rep band keys, final cluster join) — without
    # this the 200MB window shuffle re-runs per consumer
    assigned = tracker.persist(assign_exact(meta))
    exact_dups = exact_view(assigned)

    # Star edges url→representative (linear in members, never quadratic).
    exact_edges = (
        assigned.where(
            (F.col("cluster_size") >= 2) & (F.col("url") != F.col("rep_url"))
        )
        .select(
            F.col("url").alias("url_a"),
            F.col("rep_url").alias("url_b"),
            F.lit(1.0).alias("score"),
        )
    )

    all_edges = exact_edges
    if include_near:
        rep_keys = assigned.where(F.col("url") == F.col("rep_url")).select(
            "url", "bands"
        )

        def near():
            # Gate = LSH band-collision count: the binomial collision
            # count rides the self-join's own shuffle, so no signature
            # join runs before the exact confirm.
            pairs = candidate_pairs(
                bucket_table_from_bands(rep_keys),
                max_bucket=DEFAULT_MAX_BUCKET,
                with_counts=True,
                tracker=tracker,
            )
            cands = band_gate(pairs, min_matches=DEFAULT_MIN_BAND_MATCHES).select(
                "url_a", "url_b"
            )
            return confirm_pairs(cands, pages, threshold=threshold, tracker=tracker)

        near_edges = stage("near_edges", near)
        all_edges = exact_edges.unionByName(near_edges)

        # CC runs on the contracted rep-graph only: exact groups are
        # already stars rooted at min(url), and near edges connect reps
        # exclusively, so component labels over (stars ∪ near) equal
        # component labels over near alone, extended through the exact
        # mapping. Cuts CC input from |members| to |rep near-edges|.
        rep_comp = stage(
            "components",
            lambda: connected_components(
                near_edges.select(
                    F.col("url_a").alias("src"), F.col("url_b").alias("dst")
                ),
                tracker=tracker,
            ),
        )
        clusters = _cluster_join(assigned, rep_comp)
    else:
        clusters = exact_dups.select(
            "url", "cluster_id", F.lit("exact").alias("match_kind")
        )
    # deferred lineage: one batched count-and-append over the (already
    # materialized) stage caches — see audit_stage_hook
    flush = getattr(stage, "flush", None)
    if flush is not None:
        flush()
    return DedupResult(
        clusters=clusters,
        exact=exact_dups,
        edges=all_edges,
        tracker=tracker,
        meta=meta if memo is not None else None,
        memo=memo,
    )


def pairwise_confusion(clusters: DataFrame, labels: DataFrame) -> DataFrame:
    """Join predicted same-cluster against labeled pairs →
    (kind, is_dup, predicted, n). Predicted positive ⇔ both urls present
    with equal cluster_id."""
    ca = clusters.select(F.col("url").alias("url_a"), F.col("cluster_id").alias("ca"))
    cb = clusters.select(F.col("url").alias("url_b"), F.col("cluster_id").alias("cb"))
    j = (
        labels.join(ca, "url_a", "left")
        .join(cb, "url_b", "left")
        .withColumn(
            "predicted",
            F.col("ca").isNotNull() & F.col("cb").isNotNull() & (F.col("ca") == F.col("cb")),
        )
    )
    return j.groupBy("kind", "is_dup", "predicted").agg(F.count(F.lit(1)).alias("n"))


def pairwise_f1(clusters: DataFrame, labels: DataFrame) -> dict[str, float]:
    """Pairwise precision/recall/F1 on the labeled pairs (BASELINE gate)."""
    rows = pairwise_confusion(clusters, labels).collect()
    tp = sum(r["n"] for r in rows if r["is_dup"] and r["predicted"])
    fp = sum(r["n"] for r in rows if not r["is_dup"] and r["predicted"])
    fn = sum(r["n"] for r in rows if r["is_dup"] and not r["predicted"])
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": precision, "recall": recall, "f1": f1}
