"""Checkpointed pipeline runner — resume from the last committed stage.

Reference analog: the scan_cache memo makes re-scans incremental
(lib.rs:70-74,97-105); our generalization per north_rule is
stage-granular: every pipeline stage materializes its output to a
committed table (parquet dir with Spark's _SUCCESS marker; Iceberg
snapshot commit in a catalog deployment), appends lineage rows to the
audit table, and a re-run with the same run directory *reads committed
outputs instead of recomputing* — resume = read last committed snapshot.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .sources.audit import AuditLog, new_run_id


class CheckpointedRun:
    def __init__(self, spark: SparkSession, workdir: str, run_id: str | None = None):
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id or new_run_id()
        self.audit = AuditLog(spark, os.path.join(workdir, "audit"))
        self.computed: list[str] = []  # stages actually executed this run
        self.resumed: list[str] = []  # stages read from a committed checkpoint

    def _stage_path(self, name: str) -> str:
        return os.path.join(self.workdir, "stages", name)

    def is_committed(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._stage_path(name), "_SUCCESS"))

    def stage(self, name: str, fn: Callable[[], DataFrame]) -> DataFrame:
        """Run ``fn`` (or resume its committed output). The write is the
        commit point; _SUCCESS only appears on a complete write, so a
        crashed stage re-runs cleanly."""
        path = self._stage_path(name)
        if self.is_committed(name):
            self.resumed.append(name)
            return self.spark.read.parquet(path)
        t0 = time.time()
        df = fn()
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        self.audit.record(
            self.run_id, [(name, out, int((time.time() - t0) * 1000))]
        )
        self.computed.append(name)
        return out
