"""Bucketed corpus tables (sources/bucketed.py): correctness of the
incremental joins AND the load-bearing plan property — the bucketed
corpus side joins with ZERO Exchange (only the new batch shuffles)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedupe_algo_spark.plans import formatted_plan
from dedupe_algo_spark.sources.bucketed import (
    incremental_unseen,
    read_bucketed,
    write_bucketed,
)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    df = spark.range(0, 1000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("content_sha256"),
        F.concat(F.lit("https://c/"), F.col("id").cast("string")).alias("url"),
    )
    path = str(tmp_path_factory.mktemp("bucketed") / "seen_corpus")
    write_bucketed(df, "seen_corpus_test", key="content_sha256", buckets=8, path=path)
    yield read_bucketed(spark, "seen_corpus_test")
    spark.sql("DROP TABLE IF EXISTS seen_corpus_test")


def _batch(spark, lo, hi):
    # ids lo..hi, half overlapping the corpus (corpus holds 0..999)
    return spark.range(lo, hi).select(
        F.sha2(F.col("id").cast("string"), 256).alias("content_sha256"),
        F.col("id").alias("batch_id"),
    )


def test_unseen_semantics(spark, corpus):
    batch = _batch(spark, 990, 1010)  # 990-999 seen, 1000-1009 unseen
    got = sorted(r["batch_id"] for r in incremental_unseen(batch, corpus).collect())
    assert got == list(range(1000, 1010))


def test_corpus_side_never_shuffles(spark, corpus):
    """The point of the layout: the (huge) corpus scan feeds the join
    directly — no Exchange above it. The batch side shuffles into the
    corpus's bucket scheme (exactly one Exchange in the whole plan)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        import re

        batch = _batch(spark, 0, 100)
        plan = formatted_plan(incremental_unseen(batch, corpus))
        n_exchange = sum(
            1
            for line in plan.splitlines()
            if re.match(r"\(\d+\) Exchange", line.strip())
        )
        assert "SortMergeJoin" in plan
        assert n_exchange == 1, plan
        # and that single exchange hashes the BATCH side's scan, not the
        # bucketed corpus scan: the corpus scan reports its buckets
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_roundtrip_preserves_rows(spark, corpus):
    assert corpus.count() == 1000
    assert corpus.select("content_sha256").distinct().count() == 1000


# --------------------------------------------------------------------------
# Near-duplicate tier over the bucketed index
# --------------------------------------------------------------------------

_POOL = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango"
).split()


def _page_text(seed: int, n_tokens: int = 60) -> str:
    # the seed is baked into every token so distinct seeds share ZERO
    # tokens (a windowed generator would make all pages near-dups)
    return " ".join(
        f"{_POOL[(seed + i) % len(_POOL)]}{seed}n{(i * 3) % 97}"
        for i in range(n_tokens)
    )


@pytest.fixture(scope="module")
def near_index(spark, tmp_path_factory):
    from dedupe_algo_spark.sources.bucketed import read_near_index, write_near_index

    rows = [(f"https://seen/{i}", _page_text(i)) for i in range(50)]
    corpus = spark.createDataFrame(rows, "url string, text string")
    path = str(tmp_path_factory.mktemp("nearidx") / "seen")
    write_near_index(corpus, "near_index_test", buckets=8, path=path)
    yield read_near_index(spark, "near_index_test")
    spark.sql("DROP TABLE IF EXISTS near_index_test_bands")
    spark.sql("DROP TABLE IF EXISTS near_index_test_text")


def _near_batch(spark):
    # one exact copy of seen/3, one near copy of seen/7 (2 of 60 tokens
    # changed -> token-Jaccard ~0.94), one novel page
    near = _page_text(7).split()
    near[-1], near[-2] = "zulu999", "yankee998"
    rows = [
        ("https://new/exact", _page_text(3)),
        ("https://new/near", " ".join(near)),
        ("https://new/novel", " ".join(f"unique{i}word{i * 11}" for i in range(60))),
    ]
    return spark.createDataFrame(rows, "url string, text string")


def test_incremental_near_dupes_semantics(spark, near_index):
    from dedupe_algo_spark.sources.bucketed import incremental_near_dupes

    bands, text = near_index
    out = {
        r["batch_url"]: (r["corpus_url"], r["score"])
        for r in incremental_near_dupes(_near_batch(spark), bands, text).collect()
    }
    assert out["https://new/exact"] == ("https://seen/3", 1.0)
    hit, score = out["https://new/near"]
    assert hit == "https://seen/7" and 0.85 <= score < 1.0
    assert "https://new/novel" not in out


def test_near_candidates_corpus_side_never_shuffles(spark, near_index):
    """The band probe reads the corpus index's buckets in place: the
    only exchanges are the batch's bucket rows hashing INTO the index's
    scheme and the slim matched-pair rollup."""
    import re

    from dedupe_algo_spark.sources.bucketed import incremental_near_candidates

    bands, _ = near_index
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted_plan(incremental_near_candidates(_near_batch(spark), bands))
        n_exchange = sum(
            1
            for line in plan.splitlines()
            if re.match(r"\(\d+\) Exchange", line.strip())
        )
        assert "Bucketed: true" in plan, plan
        assert n_exchange == 2, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_near_dupes_corpus_text_never_shuffles(spark, near_index):
    """End-to-end confirm plan: neither raw text nor the corpus-side
    token arrays (_tb) ever cross an Exchange — candidates travel to the
    url-bucketed text table, tokenization happens on the scan side."""
    from dedupe_algo_spark.plans import exchange_columns
    from dedupe_algo_spark.sources.bucketed import incremental_near_dupes

    bands, text = near_index
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        moved = exchange_columns(
            incremental_near_dupes(_near_batch(spark), bands, text)
        )
        assert "text" not in moved, moved
        assert "_tb" not in moved, moved
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_near_index_build_prunes_hot_band_keys(spark, tmp_path):
    """write_near_index applies the hot-bucket cap at BUILD time: a
    band key posted by more than max_bucket seen pages (boilerplate —
    identifies nothing, fans every colliding probe out quadratically)
    never enters the index, so the per-batch probe stays bounded
    without re-scanning corpus counts."""
    from dedupe_algo_spark.sources.bucketed import (
        incremental_near_candidates,
        read_near_index,
        write_near_index,
    )

    boiler = " ".join(f"tmpl{j}" for j in range(40))
    corpus = spark.createDataFrame(
        [(f"https://seen/{i}", boiler) for i in range(25)]
        + [("https://seen/unique", " ".join(f"uq{j}" for j in range(40)))],
        "url string, text string",
    )
    write_near_index(
        corpus, "hot_idx_test", buckets=2,
        path=str(tmp_path / "hot"), max_bucket=10,
    )
    try:
        bands, _ = read_near_index(spark, "hot_idx_test")
        # the 25-page template's band keys were pruned; the unique
        # page's remain
        assert bands.where(F.col("url") == "https://seen/unique").count() > 0
        assert bands.where(F.col("url") != "https://seen/unique").count() == 0
        # a probe page matching the template finds no candidates (capped
        # boilerplate), one matching the unique page finds it
        batch = spark.createDataFrame(
            [("https://new/t", boiler),
             ("https://new/u", " ".join(f"uq{j}" for j in range(40)))],
            "url string, text string",
        )
        hits = incremental_near_candidates(batch, bands).collect()
        assert {r["batch_url"] for r in hits} == {"https://new/u"}
    finally:
        spark.sql("DROP TABLE IF EXISTS hot_idx_test_bands")
        spark.sql("DROP TABLE IF EXISTS hot_idx_test_text")
