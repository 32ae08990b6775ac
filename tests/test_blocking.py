"""Sorted-neighborhood blocking + the distributed global sort rank."""

from __future__ import annotations

from dedupe_algo_spark.operators.blocking import (
    global_sort_rank,
    sorted_neighborhood_pairs,
)


def _df(spark, n=23):
    # keys collide (mod 7) so the rank tie-break on the id matters
    return spark.createDataFrame(
        [(f"u{i:02d}", (i * 37) % 7) for i in range(n)], "url string, k int"
    )


def test_global_sort_rank_is_the_total_order(spark):
    df = _df(spark)
    got = {
        r["url"]: r["_rank"]
        for r in global_sort_rank(df, ["k", "url"], partitions=4).collect()
    }
    order = sorted((r["k"], r["url"]) for r in df.collect())
    assert got == {u: i for i, (_, u) in enumerate(order)}


def test_global_sort_rank_partition_count_invariant(spark):
    """The rank is a property of the total order, not of how the range
    partitioner happened to cut it."""
    df = _df(spark)
    a = {r["url"]: r["_rank"] for r in global_sort_rank(df, ["k", "url"], partitions=1).collect()}
    b = {r["url"]: r["_rank"] for r in global_sort_rank(df, ["k", "url"], partitions=7).collect()}
    assert a == b


def test_snm_pairs_match_reference_windowing(spark):
    df = _df(spark)
    w = 4
    got = {
        (r["url_a"], r["url_b"])
        for r in sorted_neighborhood_pairs(df, ["k"], window=w, partitions=3).collect()
    }
    order = [u for _, u in sorted((r["k"], r["url"]) for r in df.collect())]
    exp = set()
    for i, a in enumerate(order):
        for b in order[i + 1 : i + w]:
            exp.add((min(a, b), max(a, b)))
    assert got == exp


def test_snm_pairs_cross_block_boundary(spark):
    """The property SNM exists for: records one key-unit apart pair even
    though an equality block key would separate them."""
    df = spark.createDataFrame(
        [("a", 100), ("b", 101), ("c", 500)], "url string, k int"
    )
    got = {
        (r["url_a"], r["url_b"])
        for r in sorted_neighborhood_pairs(df, ["k"], window=2, partitions=2).collect()
    }
    assert ("a", "b") in got  # adjacent despite k differing
    assert got == {("a", "b"), ("b", "c")}


def test_snm_tracker_releases_persisted_ordinals(spark):
    from dedupe_algo_spark.tracking import PersistTracker

    t = PersistTracker()
    out = sorted_neighborhood_pairs(
        _df(spark), ["k"], window=3, partitions=2, tracker=t
    )
    assert out.count() > 0
    t.release()


def test_multi_rule_pairs_first_match_disjoint_union(spark):
    from dedupe_algo_spark.operators.blocking import multi_rule_pairs

    rows = [
        (1, "en", 10, "cc"),
        (2, "en", 10, "cc"),   # matches rule0 (lang,n) AND rule1 (src) → rule0
        (3, "en", 11, "cc"),   # matches only rule1 with 1,2
        (4, "de", 10, "web"),  # matches nobody
        (5, "de", 10, "cc"),   # rule0 with 4; rule1 with 1,2,3
    ]
    df = spark.createDataFrame(rows, "id int, lang string, n int, src string")
    out = multi_rule_pairs(df, "id", [["lang", "n"], ["src"]]).collect()
    got = {(r["id_a"], r["id_b"]): r["rule"] for r in out}
    want = {
        (1, 2): 0,
        (4, 5): 0,
        (1, 3): 1, (2, 3): 1, (1, 5): 1, (2, 5): 1, (3, 5): 1,
    }
    assert got == want
    # every input column rides along as a_<c>/b_<c>, taken from the
    # id_a and id_b rows respectively
    by_id = {r[0]: r for r in rows}
    for r in out:
        for side in ("a", "b"):
            assert tuple(r[f"{side}_{c}"] for c in df.columns) == by_id[r["id_" + side]]


def test_multi_rule_pairs_null_earlier_key_does_not_suppress(spark):
    from dedupe_algo_spark.operators.blocking import multi_rule_pairs

    rows = [(1, None, "x"), (2, None, "x")]
    df = spark.createDataFrame(rows, "id int, k string, src string")
    got = {
        (r["id_a"], r["id_b"]): r["rule"]
        for r in multi_rule_pairs(df, "id", [["k"], ["src"]]).collect()
    }
    # nulls never equi-join (rule0 emits nothing) and the rule0 exclusion
    # must not turn the NULL agreement into a suppression of rule1
    assert got == {(1, 2): 1}
