"""Per-layer tracing from outside the package.

A traced run wraps each call into a layer's public function in
``Tracer.layer(name)``: the span sets the Spark job group to
``<iteration>:<layer>``, forces the layer's output inside the span so
its work lands there, and records the wall time, the CPU time of the
whole process tree (driver JVM, Python driver and Python workers) and
the layer's output row count. After the session stops, the Spark event
log is folded by job group into per-layer executor CPU, shuffle,
spill, job and task-skew figures (``fold_events``); the log is read with
``bench/stage_table.py``'s reader, which also handles rolling and
compressed logs.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from procmon import tree_cpu_s

sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench"))

from stage_table import _iter_events as read_events  # noqa: E402

LAYERS = (
    "page_meta",
    "assign_exact",
    "candidates",
    "confirm",
    "components",
    "audit_flush",
    "cluster_join",
    "memo_commit",
)


def group_id(iteration: int, layer: str) -> str:
    return f"{iteration}:{layer}"


@dataclass
class Span:
    wall_s: float = 0.0
    proc_cpu_s: float = 0.0
    rows_out: int = 0


@dataclass
class Tracer:
    """Spans of one traced iteration, keyed by layer."""

    spark: object
    iteration: int
    root_pid: int = field(default_factory=os.getpid)
    spans: dict[str, Span] = field(default_factory=dict)

    @contextmanager
    def layer(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(group_id(self.iteration, name), name)
        span = self.spans.setdefault(name, Span())
        cpu0, t0 = tree_cpu_s(self.root_pid), time.perf_counter()
        try:
            yield span
        finally:
            span.wall_s += time.perf_counter() - t0
            span.proc_cpu_s += tree_cpu_s(self.root_pid) - cpu0
            sc.setJobGroup("untraced", "outside any layer span")


@dataclass
class GroupStats:
    jobs: int = 0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    task_run_ms: list[int] = field(default_factory=list)

    @property
    def task_skew(self) -> float:
        """Longest task over the median task (0 when no task ran)."""
        if not self.task_run_ms:
            return 0.0
        med = statistics.median(self.task_run_ms)
        return max(self.task_run_ms) / med if med > 0 else 0.0


def fold_events(events) -> dict[str, GroupStats]:
    """Fold task metrics by the job group of the job that ran them.

    A stage belongs to the first job that lists it: later jobs that
    reuse its shuffle output list it too but skip it."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out.setdefault(group, GroupStats()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            g = out.setdefault(group, GroupStats())
            g.cpu_s += (m.get("Executor CPU Time") or 0) / 1e9
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_write_mb += (sw.get("Shuffle Bytes Written") or 0) / 1e6
            g.shuffle_read_mb += (
                (sr.get("Remote Bytes Read") or 0) + (sr.get("Local Bytes Read") or 0)
            ) / 1e6
            g.spill_mb += (m.get("Disk Bytes Spilled") or 0) / 1e6
            g.task_run_ms.append(m.get("Executor Run Time") or 0)
    return out


def parquet_rows(path: str) -> int:
    """Rows in every ``*.parquet`` file under ``path``, from the footers."""
    import pyarrow.parquet as pq

    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(
            pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
            for f in files
            if f.endswith(".parquet")
        )
    return total


def traced_pipeline(spark, pages, tracer: Tracer, memo=None):
    """``dedup_pipeline(pages, memo=memo)`` with its default settings,
    rebuilt layer by layer from the same public functions, each layer
    forced inside its own span. On the memo path the run ends with
    ``DedupResult.commit_memo`` as the memo workload's timed job does.

    → (clusters as pandas, probe counts, tracker). The probe counts are
    taken after the spans, under the ``probe`` job group; the caller
    releases the tracker."""
    from pyspark.sql import functions as F

    from dedupe_algo_spark.operators.candidates import (
        DEFAULT_MAX_BUCKET,
        bucket_table_from_bands,
        candidate_pairs,
        dropped_buckets,
    )
    from dedupe_algo_spark.operators.cluster import connected_components
    from dedupe_algo_spark.operators.dedup import (
        assign_exact,
        page_meta,
        page_meta_incremental,
    )
    from dedupe_algo_spark.operators.scoring import (
        BROADCAST_URL_LIMIT,
        DEFAULT_MIN_BAND_MATCHES,
        DEFAULT_THRESHOLD,
        band_gate,
        confirm_pairs,
    )
    from dedupe_algo_spark.pipeline import DedupResult
    from dedupe_algo_spark.sources.audit import audit_stage_hook
    from dedupe_algo_spark.tracking import PersistTracker

    tracker = PersistTracker()
    stage = audit_stage_hook(spark, tracker=tracker)
    with tracer.layer("page_meta") as span:
        if memo is None:
            meta_fn = lambda: page_meta(pages)  # noqa: E731
        else:
            meta_fn = lambda: page_meta_incremental(pages, memo.read())  # noqa: E731
        meta = tracker.persist(stage("page_meta", meta_fn))
        span.rows_out = meta.count()
    with tracer.layer("assign_exact") as span:
        assigned = tracker.persist(assign_exact(meta))
        span.rows_out = assigned.count()
    rep_keys = assigned.where(F.col("url") == F.col("rep_url")).select("url", "bands")
    with tracer.layer("candidates") as span:
        buckets = bucket_table_from_bands(rep_keys)
        pairs = candidate_pairs(
            buckets, max_bucket=DEFAULT_MAX_BUCKET, with_counts=True, tracker=tracker
        )
        cands = tracker.persist(
            band_gate(pairs, min_matches=DEFAULT_MIN_BAND_MATCHES).select("url_a", "url_b")
        )
        span.rows_out = cands.count()
    with tracer.layer("confirm") as span:
        near_edges = stage(
            "near_edges",
            lambda: confirm_pairs(cands, pages, threshold=DEFAULT_THRESHOLD, tracker=tracker),
        )
        span.rows_out = near_edges.count()
    with tracer.layer("components") as span:
        rep_comp = stage(
            "components",
            lambda: connected_components(
                near_edges.select(F.col("url_a").alias("src"), F.col("url_b").alias("dst")),
                tracker=tracker,
            ),
        )
        known = getattr(rep_comp, "_dedupe_known_rows", None)
        span.rows_out = known if known is not None else rep_comp.count()
    audit_rows = parquet_rows(stage.audit.path)
    with tracer.layer("audit_flush") as span:
        stage.flush()
    span.rows_out = parquet_rows(stage.audit.path) - audit_rows
    with tracer.layer("cluster_join") as span:
        comp = rep_comp.select(F.col("url").alias("rep_url"), F.col("component"))
        if tracer.spans["components"].rows_out <= BROADCAST_URL_LIMIT:
            comp = F.broadcast(comp)
        clusters = (
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
        pdf = clusters.toPandas()
        span.rows_out = len(pdf)
    if memo is not None:
        with tracer.layer("memo_commit"):
            DedupResult(clusters, None, None, tracker, meta=meta, memo=memo).commit_memo()

    spark.sparkContext.setJobGroup("probe", "counts outside the layer spans")
    capped = dropped_buckets(buckets, DEFAULT_MAX_BUCKET).agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_members").alias("members")
    ).first()
    n_pairs = pairs.count()
    n_cands = tracer.spans["candidates"].rows_out
    n_edges = tracer.spans["confirm"].rows_out
    probe = {
        "candidates.pairs": n_pairs,
        "candidates.gate_pass_frac": n_cands / n_pairs if n_pairs else 0.0,
        "candidates.capped_buckets": capped["n"],
        "candidates.capped_members": capped["members"] or 0,
        "confirm.pairs_in": n_cands,
        "confirm.confirm_frac": n_edges / n_cands if n_cands else 0.0,
        "components.edges_in": n_edges,
        "components.driver_path": float(known is not None),
        "page_meta.cache_hit_frac": (
            meta.agg(F.avg(F.col("cache_hit").cast("double"))).first()[0]
            if memo is not None
            else 0.0
        ),
    }
    spark.sparkContext.setJobGroup("untraced", "outside any layer span")
    return pdf, probe, tracker


def layer_metrics(spans_by_iter: dict[int, dict[str, Span]], groups: dict[str, GroupStats]) -> dict[str, float]:
    """Median over traced iterations of each layer's span and event-log
    figures, as ``<layer>.<metric>``. A layer with no span (memo_commit
    off the memo path) reports zeros."""
    per_layer: dict[str, dict[str, list[float]]] = {}
    for it, spans in spans_by_iter.items():
        for layer in LAYERS:
            span = spans.get(layer, Span())
            g = groups.get(group_id(it, layer), GroupStats())
            vals = {
                "wall_s": span.wall_s,
                "proc_cpu_s": span.proc_cpu_s,
                "rows_out": span.rows_out,
                "cpu_s": g.cpu_s,
                "shuffle_write_mb": g.shuffle_write_mb,
                "shuffle_read_mb": g.shuffle_read_mb,
                "spill_mb": g.spill_mb,
                "jobs": g.jobs,
                "task_skew": g.task_skew,
            }
            for k, v in vals.items():
                per_layer.setdefault(layer, {}).setdefault(k, []).append(float(v))
    return {
        f"{layer}.{k}": statistics.median(vs)
        for layer, ms in per_layer.items()
        for k, vs in ms.items()
    }
