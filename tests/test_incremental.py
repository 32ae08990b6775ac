"""Incremental pipeline: memo reuse semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedupe_algo_spark.operators.dedup import page_meta, page_meta_incremental
from dedupe_algo_spark.schemas import MEMO_SCHEMA
from dedupe_algo_spark.sources.memo import HashMemo


def test_memo_reuse_and_stale_recompute(spark, pages_1k, tmp_path):
    # Cold run: compute meta, store everything in the memo.
    cold = page_meta(pages_1k, with_signature=False).join(
        pages_1k.select("url", "warc_ts"), "url"
    )
    memo = HashMemo(spark, str(tmp_path / "memo"))
    memo.upsert(
        cold.select("url", "text_len", "warc_ts", "content_sha256")
    )

    # Poison valid memo entries with a sentinel hash: if the warm run
    # REUSES (as it must for valid entries), the sentinel shows up.
    poisoned = memo.read().withColumn(
        "content_sha256", F.lit("SENTINEL")
    )
    warm = page_meta_incremental(pages_1k, poisoned, with_signature=False)
    hits = warm.where(F.col("cache_hit"))
    assert hits.count() == pages_1k.count()
    assert (
        hits.where(F.col("content_sha256") == "SENTINEL").count() == hits.count()
    )

    # Stale entries (warc_ts shifted) must recompute the true hash.
    stale = memo.read().withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    ).withColumn("content_sha256", F.lit("SENTINEL"))
    recomputed = page_meta_incremental(pages_1k, stale, with_signature=False)
    assert recomputed.where(F.col("cache_hit")).count() == 0
    assert recomputed.where(F.col("content_sha256") == "SENTINEL").count() == 0
    # and the recomputed hashes equal the cold-run hashes
    a = cold.select("url", "content_sha256").orderBy("url").toPandas()
    b = recomputed.select("url", "content_sha256").orderBy("url").toPandas()
    assert a.equals(b)


def test_incremental_equals_cold_on_empty_memo(spark, pages_1k):
    empty = spark.createDataFrame([], MEMO_SCHEMA)
    warm = page_meta_incremental(pages_1k, empty, with_signature=False)
    cold = page_meta(pages_1k, with_signature=False)
    a = warm.select("url", "text_len", "content_sha256").orderBy("url").toPandas()
    b = cold.orderBy("url").toPandas()
    assert a.equals(b)
    assert warm.where(F.col("cache_hit")).count() == 0


def test_pipeline_memo_warm_run(spark, pages_1k, tmp_path):
    """End-to-end memo round-trip through the flagship pipeline: the
    cold run computes everything and commits its hashes; the warm run
    must reuse every entry (cache_hit on all rows) and produce the
    IDENTICAL cluster assignment."""
    from dedupe_algo_spark.pipeline import dedup_pipeline

    memo = HashMemo(spark, str(tmp_path / "pipe_memo"))

    cold = dedup_pipeline(pages_1k, memo=memo)
    c1 = {
        (r["url"], r["cluster_id"], r["match_kind"])
        for r in cold.clusters.collect()
    }
    assert cold.meta is not None
    n_meta = cold.meta.count()
    assert cold.meta.where(F.col("cache_hit")).count() == 0  # empty memo
    cold.commit_memo()
    cold.unpersist()

    warm = dedup_pipeline(pages_1k, memo=memo)
    c2 = {
        (r["url"], r["cluster_id"], r["match_kind"])
        for r in warm.clusters.collect()
    }
    hits = warm.meta.where(F.col("cache_hit")).count()
    assert hits == n_meta == warm.meta.count()  # every row valid → reused
    assert c1 == c2 and len(c1) > 0
    warm.unpersist()


def test_pipeline_without_memo_has_no_commit(spark, pages_1k):
    from dedupe_algo_spark.pipeline import dedup_pipeline

    res = dedup_pipeline(pages_1k, include_near=False)
    with pytest.raises(ValueError):
        res.commit_memo()
    res.unpersist()
