"""Derived result views — the reference frontend's query work, Spark-first.

Everything the React frontend computes over scan results
(SURVEY.md §2.3/2.5/2.6/2.7) re-expressed as DataFrame queries over the
flat cluster-assignment table. All are pure built-in expressions —
window functions, groupBy rollups, sorts — no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def keeper_ranking(
    clusters: DataFrame,
    cluster_col: str = "cluster_id",
    ts_col: str = "warc_ts",
    keep: str = "newest",
    path_col: str = "url",
) -> DataFrame:
    """W1/W2 — smart-select keeper ranking (useStore.ts:97-114,
    FolderResultsView.tsx:152-163): per cluster, rank by timestamp
    (desc for "newest", asc for "oldest") with deterministic tie-breaks
    (path length, then path — the reference tie-breaks on modified then
    path length, FolderResultsView.tsx:153-156). rank 1 is the keeper;
    the rest get ``is_duplicate = true``."""
    ts = F.col(ts_col)
    order = [
        ts.desc() if keep == "newest" else ts.asc(),
        F.length(path_col).asc(),
        F.col(path_col).asc(),
    ]
    w = Window.partitionBy(cluster_col).orderBy(*order)
    return clusters.withColumn("keeper_rank", F.row_number().over(w)).withColumn(
        "is_duplicate", F.col("keeper_rank") > 1
    )


def reclaimable_space(
    clusters: DataFrame,
    cluster_col: str = "cluster_id",
    size_col: str = "size",
) -> DataFrame:
    """A4 — reclaimable bytes = Σ over clusters of first(size)×(count−1)
    (ResultsView.tsx:101-108). One row: (reclaimable_bytes)."""
    per_cluster = clusters.groupBy(cluster_col).agg(
        (F.min(size_col) * (F.count(F.lit(1)) - 1)).alias("reclaim")
    )
    return per_cluster.agg(F.sum("reclaim").alias("reclaimable_bytes"))


def category_rollup(
    df: DataFrame,
    category: Column,
    size_col: str = "size",
) -> DataFrame:
    """A6 — per-category count + total size, size-desc
    (dataTransform.ts:21-59 + O2)."""
    return (
        df.withColumn("category", category)
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(size_col).alias("total_size"),
        )
        .orderBy(F.desc("total_size"), "category")
    )


def folder_rollup(
    clusters: DataFrame,
    folder_col: Column,
    cluster_col: str = "cluster_id",
    size_col: str = "size",
) -> DataFrame:
    """A7 — two-level rollup: per (folder, cluster) member sets of ≥2,
    then per folder total size + set count (dataTransform.ts:61-95 + O3).
    Grouping-sets-shaped; implemented as two groupBys (SURVEY §2.3)."""
    leveled = clusters.withColumn("folder", folder_col)
    sets = (
        leveled.groupBy("folder", cluster_col)
        .agg(F.count(F.lit(1)).alias("n_in_set"), F.sum(size_col).alias("set_size"))
        .where(F.col("n_in_set") >= 2)  # drop sub-sets of size 1 (U4/F7 analog)
    )
    return (
        sets.groupBy("folder")
        .agg(
            F.sum("set_size").alias("total_size"),
            F.count(F.lit(1)).alias("n_dup_sets"),
        )
        .orderBy(F.desc("total_size"), "folder")
    )


def group_search(
    clusters: DataFrame,
    query: str,
    cluster_col: str = "cluster_id",
    path_col: str = "url",
) -> DataFrame:
    """F8/W3 — keep a whole cluster if ANY member path contains the query,
    case-insensitive (ResultsView.tsx:52-62). EXISTS-style via a window
    max over the cluster — no self-join."""
    w = Window.partitionBy(cluster_col)
    hit = F.max(
        F.lower(F.col(path_col)).contains(query.lower()).cast("int")
    ).over(w)
    return clusters.withColumn("_hit", hit).where(F.col("_hit") == 1).drop("_hit")


def top_k_preview(df: DataFrame, order: list[Column], k: int = 100) -> DataFrame:
    """O6 — deterministic top-k preview (DeleteConfirmation.tsx:56)."""
    return df.orderBy(*order).limit(k)


def longest_prefix_join(
    paths: DataFrame,
    mounts: DataFrame,
    path_col: str = "path",
    mount_col: str = "mount_point",
) -> DataFrame:
    """J4 — the reference's only theta join (lib.rs:320-324): for each
    path, the disk whose mount_point is the *longest* prefix. Broadcast
    the (small) mounts side; argmax via ranking window."""
    j = paths.join(
        F.broadcast(mounts), F.col(path_col).startswith(F.col(mount_col)), "inner"
    )
    w = Window.partitionBy(path_col).orderBy(
        F.length(mount_col).desc(), F.col(mount_col).asc()
    )
    return j.withColumn("_r", F.row_number().over(w)).where(F.col("_r") == 1).drop("_r")
