"""Persist/checkpoint bookkeeping for multi-stage jobs.

Spark caches (``persist``) and eager ``localCheckpoint`` blocks live in
the block manager until explicitly released; in a long-lived session
(streaming ingest, repeated jobs in one REPL) every pipeline run would
otherwise accumulate its intermediates forever. Operators that persist
register their frames on a :class:`PersistTracker`; the pipeline result
carries the tracker so the caller releases everything with one call
once the outputs are consumed (or committed to a table).

``localCheckpoint`` blocks are not reachable through ``DataFrame
.unpersist`` (the checkpoint RDD is not a cache-manager entry), so the
checkpointing operator registers the checkpoint's own RDD id (read off
its plan by :func:`checkpoint_rdd_ids`) and the tracker unpersists
those ids directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every persisted/checkpointed RDD in the context (caches
    made via the SQL cache manager included — they are backed by RDDs)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def checkpoint_rdd_ids(df: DataFrame) -> set[int]:
    """The persisted RDD id backing an (eagerly) ``localCheckpoint``-ed
    DataFrame — read straight off its LogicalRDD plan node, so callers
    release exactly the checkpoint's blocks, never an unrelated SQL
    cache that happened to materialize during the checkpoint job."""
    return {int(df._jdf.queryExecution().logical().rdd().id())}


def unpersist_rdd_ids(spark: SparkSession, ids: set[int], blocking: bool = False) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if int(k) in ids:
            jmap.get(k).unpersist(blocking)


class PersistTracker:
    """Collects persisted DataFrames and checkpoint RDD ids; one
    ``release()`` drops them all."""

    def __init__(self) -> None:
        self.frames: list[DataFrame] = []
        self.rdd_ids: set[int] = set()
        self._spark: SparkSession | None = None

    def persist(self, df: DataFrame) -> DataFrame:
        """persist + register; a no-op on an already-persisted df, so a
        frame persisted twice is neither re-cached nor registered twice."""
        if not df.is_cached:
            df.persist()
            self.frames.append(df)
        return df

    def adopt_ids(self, spark: SparkSession, ids: set[int]) -> None:
        self._spark = spark
        self.rdd_ids |= ids

    def release(self, blocking: bool = False) -> None:
        for df in self.frames:
            df.unpersist(blocking)
        self.frames.clear()
        if self._spark is not None and self.rdd_ids:
            unpersist_rdd_ids(self._spark, self.rdd_ids, blocking)
        self.rdd_ids.clear()
