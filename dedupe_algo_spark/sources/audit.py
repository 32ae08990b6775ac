"""Audit / lineage table — per-stage per-partition metrics rows.

Generalizes the reference's throttled progress events
(ProgressPayload, lib.rs:23-28, emits at lib.rs:86-94,132-139) into
durable lineage rows per north_rule: every pipeline stage appends
(run_id, stage, partition_id, row_count, pair_count, elapsed_ms) to an
append-only table — one row per partition per stage, never per input
row (the reference throttles for the same reason).

Only the per-partition counts come from Spark; every per-run value
(run id, timings, driver-known counts, the commit clock) is filled in
on the driver. A per-run value in a plan becomes a Java literal in its
generated code (``F.lit(ms)`` compiles to ``2199L``), so the session's
codegen cache would miss and recompile on every run.
"""

from __future__ import annotations

import os
import time
import uuid
from functools import reduce

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import AUDIT_SCHEMA


def new_run_id() -> str:
    return uuid.uuid4().hex[:16]


def partition_counts(frames: dict[int, DataFrame]) -> list[tuple[int, int, int]]:
    """``(key, partition_id, row_count)`` for every non-empty partition
    of every frame in ``{key: frame}``, from one job over their union:
    a map-side partial agg, one shuffle of (n_partitions) rows."""
    if not frames:
        return []
    tagged = [
        df.select(F.lit(k).alias("key"), F.spark_partition_id().alias("pid"))
        for k, df in frames.items()
    ]
    rows = reduce(DataFrame.unionByName, tagged).groupBy("key", "pid").count()
    return [(r["key"], r["pid"], r["count"]) for r in rows.collect()]


DEFAULT_AUDIT_DIR_ENV = "DEDUPE_AUDIT_DIR"


def default_audit_dir() -> str:
    return os.environ.get(
        DEFAULT_AUDIT_DIR_ENV,
        os.path.join(os.getcwd(), "spark-warehouse", "dedupe_audit"),
    )


def audit_stage_hook(spark: SparkSession, tracker=None, audit=None, run_id=None):
    """The default ``stage`` hook for ``dedup_pipeline``: every stage
    writes lineage rows (north_rule — lineage is not opt-in).

    Deferred design, so lineage costs no extra pass over the data: at
    stage time the output is only persisted (registered on ``tracker``
    when given) and queued; ``stage.flush()`` — called by the pipeline
    once its own actions have materialized every stage cache — counts
    all queued outputs in ONE job over the caches and makes ONE append
    to the audit table at ``$DEDUPE_AUDIT_DIR`` (default
    ``./spark-warehouse/dedupe_audit``). An eager per-stage count here
    measured ~3.4s extra per 200k-page run; the deferred batch is one
    cache-speed job. ``elapsed_ms`` is the wall clock from a stage's
    invocation to the next stage's (or the flush) — in a lazily built
    pipeline stage compute interleaves with its consumer's action, so
    per-stage attribution is inherently approximate.

    Contrast ``runner.CheckpointedRun.stage``, which instead commits
    each stage's output to a resumable parquet snapshot (its write is
    the materialization, so it records exact per-stage timings)."""
    log = audit or AuditLog(spark, default_audit_dir())
    rid = run_id or new_run_id()
    pending: list[tuple[str, DataFrame | int, float]] = []

    def stage(name: str, fn) -> DataFrame:
        df = fn()
        # Driver-built results (e.g. the union-find's parallelize-backed
        # component map) carry their row count; counting them with a
        # Spark job would re-ship every row from the driver (measured
        # 19s at 4M pages) for a number we already hold. They are also
        # not persisted: their one consumer reads them once.
        known = getattr(df, "_dedupe_known_rows", None)
        if known is None:
            if tracker is not None:
                tracker.persist(df)
            else:
                df.persist()
        pending.append((name, df if known is None else int(known), time.time()))
        return df

    def flush() -> None:
        if not pending:
            return
        ends = [t for _, _, t in pending[1:]] + [time.time()]
        log.record(
            rid,
            [
                (name, out, int((t1 - t0) * 1000))
                for (name, out, t0), t1 in zip(pending, ends)
            ],
        )
        pending.clear()

    stage.run_id = rid
    stage.audit = log
    stage.flush = flush
    return stage


class AuditLog:
    """Append-only parquet audit table (Iceberg append in a catalog
    deployment)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def record(
        self, run_id: str, stages: list[tuple[str, DataFrame | int, int]]
    ) -> None:
        """Append the lineage rows of ``stages`` = ``[(name, output,
        elapsed_ms)]``. A DataFrame output gets one row per non-empty
        partition, all outputs counted in one job; an int output is a
        row count the driver already holds and gets one row with
        ``partition_id`` -1. One ``committed_at`` for the whole batch."""
        frames = {
            i: out for i, (_, out, _) in enumerate(stages) if isinstance(out, DataFrame)
        }
        parts = {
            i: [(-1, out)] for i, (_, out, _) in enumerate(stages) if i not in frames
        }
        for i, pid, n in sorted(partition_counts(frames)):
            parts.setdefault(i, []).append((pid, n))
        rows = [
            (name, pid, n, ms)
            for i, (name, _, ms) in enumerate(stages)
            for pid, n in parts.get(i, [])
        ]
        if not rows:
            return
        pdf = pd.DataFrame(
            rows, columns=["stage", "partition_id", "row_count", "elapsed_ms"]
        ).assign(
            run_id=run_id,
            block_id=None,
            pair_count=None,
            committed_at=pd.Timestamp.now(tz="UTC"),
        )[AUDIT_SCHEMA.names]
        # a pandas frame takes the Arrow path, decoded in the JVM; a
        # Python list would go through a PythonRDD and start workers
        self.spark.createDataFrame(pdf, AUDIT_SCHEMA).write.mode("append").parquet(
            self.path
        )

    def record_stage(
        self, df: DataFrame, run_id: str, stage: str, elapsed_ms: int = 0
    ) -> None:
        self.record(run_id, [(stage, df, elapsed_ms)])

    def read(self) -> DataFrame:
        if os.path.exists(self.path):
            return self.spark.read.parquet(self.path)
        return self.spark.createDataFrame([], AUDIT_SCHEMA)

    def stages_of(self, run_id: str) -> list[str]:
        return [
            r["stage"]
            for r in self.read().where(F.col("run_id") == run_id).select("stage").distinct().collect()
        ]
