"""Exact-dup cascade: reference-semantics tests (SURVEY.md §5.1)."""

from __future__ import annotations

import datetime

import pandas as pd
from pyspark.sql import functions as F

from dedupe_algo_spark.operators.dedup import (
    assign_exact,
    exact_dup_assignments,
    page_meta,
)
from dedupe_algo_spark.schemas import PAGES_SCHEMA


def _mk(spark, texts, urls=None):
    n = len(texts)
    urls = urls or [f"https://x.com/{i}" for i in range(n)]
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "url": urls,
                "warc_ts": [datetime.datetime(2026, 1, 1)] * n,
                "html": [b"<html>"] * n,
                "text": texts,
                "lang": ["en"] * n,
            }
        ),
        schema=PAGES_SCHEMA,
    )


def test_identical_texts_cluster(spark):
    df = _mk(spark, ["hello world " * 5] * 3 + ["something else " * 5])
    out = exact_dup_assignments(df).toPandas()
    assert len(out) == 3
    assert out["cluster_id"].nunique() == 1
    assert (out["cluster_size"] == 3).all()


def test_cluster_id_is_min_url(spark):
    df = _mk(
        spark,
        ["same text here " * 4] * 2,
        urls=["https://x.com/zzz", "https://x.com/aaa"],
    )
    out = exact_dup_assignments(df).toPandas()
    assert (out["cluster_id"] == "https://x.com/aaa").all()


def test_min_len_filter(spark):
    # reference F5 (scanner.rs:186-189): short rows never enter the scan
    df = _mk(spark, ["tiny", "tiny"])
    assert exact_dup_assignments(df, min_len=10).count() == 0
    assert exact_dup_assignments(df, min_len=2).count() == 2


def _assigned(df):
    """Every row with its exact-group size, singletons included."""
    return assign_exact(page_meta(df, with_signature=False)).toPandas()


def test_singletons_excluded_by_default(spark):
    df = _mk(spark, ["unique text one " * 3, "unique text two " * 3])
    assert exact_dup_assignments(df).count() == 0
    assert _assigned(df)["cluster_size"].tolist() == [1, 1]


def test_same_length_different_text_not_clustered(spark):
    # two texts of the same length: the size key alone never clusters
    df = _mk(spark, ["a" * 100, "b" * 100])
    assert exact_dup_assignments(df).count() == 0


def test_partial_window_boundary(spark):
    # same 16KB head+tail, different middle: the reference's partial
    # hash would collide, the full content hash separates them
    head, tail = "h" * 20_000, "t" * 20_000
    a, b = head + "MIDDLE_A" + tail, head + "MIDDLE_B" + tail
    df = _mk(spark, [a, b])
    assert exact_dup_assignments(df).count() == 0  # full hash separates
    out = _assigned(df)
    assert out["content_sha256"].nunique() == 2


def test_page_meta_hashes_match_hashlib(spark):
    """content_sha256 is SHA-256 of the UTF-8 text and text_len its
    length in characters, on empty, ASCII, multi-byte and mixed-width
    texts. The memo stores this digest, so this pins its format."""
    import hashlib

    from dedupe_algo_spark.operators.dedup import page_meta

    def sha(t):
        return hashlib.sha256(t.encode("utf-8")).hexdigest()

    texts = [
        "",
        "short text",
        "".join(f"{i:06d} " for i in range(6_000)),  # 42,000 ASCII chars
        "é" * 20_000,
        "é" * 40_000,
        "a" + "é" * 16_383 + "中" * 20_000 + "z" * 16_384,
    ]
    df = _mk(spark, texts)
    got = {
        r["url"]: r
        for r in page_meta(df, min_len=0, with_signature=False).collect()
    }
    assert len(got) == len(texts)
    for i, t in enumerate(texts):
        r = got[f"https://x.com/{i}"]
        assert r["text_len"] == len(t), i
        assert r["content_sha256"] == sha(t), i


def test_normalized_key_collapses_cheap_mutations(spark):
    """The normalization tier merges casing / punctuation / whitespace /
    counter mutations and nothing else; the key equals the pure-Python
    reference and is idempotent."""
    import hashlib
    import re

    from dedupe_algo_spark.functions.hashing import (
        normalized_for_dedup,
        normalized_sha256_col,
    )

    base = "Breaking News: storm hits Page 3 of 10 — details inside."
    variants = [
        base,
        base.upper(),
        "breaking   news!!! storm hits page 7 of 99 ... details inside",
        base.replace(" ", "\t  "),  # tab+space whitespace runs
    ]
    different = "Breaking News: calm weather on page 3 of 10 — details inside."
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(variants + [different])], "id int, text string"
    ).select("id", normalized_for_dedup(F.col("text")).alias("norm"),
             normalized_sha256_col(F.col("text")).alias("key"))
    out = df.toPandas().sort_values("id")
    assert out["key"].iloc[0] == out["key"].iloc[1] == out["key"].iloc[2] == out["key"].iloc[3]
    assert out["key"].iloc[4] != out["key"].iloc[0]

    def ref_norm(t):
        t = t.lower()
        t = re.sub(r"[0-9]", "0", t)
        t = re.sub(r"[^\w]+|_", " ", t, flags=re.UNICODE).strip()
        return re.sub(r"\s+", " ", t)

    assert out["norm"].iloc[0] == ref_norm(base)
    assert out["key"].iloc[0] == hashlib.sha256(ref_norm(base).encode()).hexdigest()
    # idempotence: normalizing a normalized string is a no-op
    twice = spark.createDataFrame([(out["norm"].iloc[0],)], "text string").select(
        normalized_for_dedup(F.col("text")).alias("n")
    ).collect()[0]["n"]
    assert twice == out["norm"].iloc[0]
