"""Derived views: keeper ranking, rollups, search, deletion (SURVEY §2.3/2.5-2.7)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from dedupe_algo_spark.operators import views


@pytest.fixture(scope="module")
def files(spark):
    rows = [
        # cluster c1: three members, distinct mtimes
        ("https://a.com/old", "c1", datetime.datetime(2026, 1, 1), 100),
        ("https://a.com/new", "c1", datetime.datetime(2026, 3, 1), 100),
        ("https://a.com/mid", "c1", datetime.datetime(2026, 2, 1), 100),
        # cluster c2: tie on mtime → path-length then path tie-break
        ("https://b.com/a-long-name", "c2", datetime.datetime(2026, 1, 5), 50),
        ("https://b.com/xy", "c2", datetime.datetime(2026, 1, 5), 50),
    ]
    return spark.createDataFrame(
        rows, "url string, cluster_id string, warc_ts timestamp, size long"
    )


def test_keeper_newest(files):
    out = views.keeper_ranking(files, keep="newest").toPandas().set_index("url")
    assert not out.loc["https://a.com/new"]["is_duplicate"]
    assert out.loc["https://a.com/old"]["is_duplicate"]
    assert out.loc["https://a.com/mid"]["is_duplicate"]


def test_keeper_oldest_and_tiebreak(files):
    out = views.keeper_ranking(files, keep="oldest").toPandas().set_index("url")
    assert not out.loc["https://a.com/old"]["is_duplicate"]
    # c2 tie: shorter path wins (FolderResultsView.tsx:153-156 tie-break)
    assert not out.loc["https://b.com/xy"]["is_duplicate"]
    assert out.loc["https://b.com/a-long-name"]["is_duplicate"]


def test_reclaimable_space(files):
    # c1: 100×(3−1)=200; c2: 50×(2−1)=50 → 250
    got = views.reclaimable_space(files).collect()[0]["reclaimable_bytes"]
    assert got == 250


def test_group_search_keeps_whole_cluster(files):
    out = views.group_search(files, "MID").toPandas()
    assert set(out["url"]) == {
        "https://a.com/old",
        "https://a.com/new",
        "https://a.com/mid",
    }


def test_post_delete_refilter_drops_singletons(spark, tmp_path):
    """J5 + re-applied F7 (useStore.ts:116-127), as the
    ``post_delete_refilter`` query runs it: the selection (doc_id % 3 ==
    0) is anti-joined out, then clusters (same n_chars) that fell under
    2 members drop entirely."""
    from dedupe_algo_spark.queries import QUERIES

    spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 50), (6, 50), (5, 70), (7, 70)],
        "doc_id long, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = QUERIES["post_delete_refilter"](spark, str(tmp_path)).collect()
    # n_chars=50 fell to 1 member (doc 6 deleted) → dropped
    assert sorted((r["n_chars"], r["n_members"], r["min_doc_id"]) for r in out) == [
        (70, 2, 5),
        (100, 2, 1),
    ]


def test_category_rollup_ordering(spark):
    df = spark.createDataFrame(
        [("a", "en", 10), ("b", "en", 20), ("c", "de", 100)],
        "url string, lang string, size long",
    )
    out = views.category_rollup(df, F.col("lang")).toPandas()
    assert list(out["category"]) == ["de", "en"]
    assert list(out["total_size"]) == [100, 30]


def test_folder_rollup_drops_single_member_sets(spark):
    df = spark.createDataFrame(
        [
            ("f1", "c1", 10),
            ("f1", "c1", 10),
            ("f1", "c2", 99),  # singleton within f1 → dropped
            ("f2", "c2", 7),
            ("f2", "c2", 7),
        ],
        "folder string, cluster_id string, size long",
    )
    out = views.folder_rollup(df, F.col("folder")).toPandas().set_index("folder")
    assert out.loc["f1"]["total_size"] == 20 and out.loc["f1"]["n_dup_sets"] == 1
    assert out.loc["f2"]["total_size"] == 14


def test_longest_prefix_join(spark):
    paths = spark.createDataFrame(
        [("/Volumes/ext/a.txt",), ("/Users/x/doc.txt",)], "path string"
    )
    mounts = spark.createDataFrame(
        [("/", "root"), ("/Volumes/ext", "ext"), ("/Volumes", "vol")],
        "mount_point string, name string",
    )
    out = views.longest_prefix_join(paths, mounts).toPandas().set_index("path")
    assert out.loc["/Volumes/ext/a.txt"]["name"] == "ext"
    assert out.loc["/Users/x/doc.txt"]["name"] == "root"
