"""Host link graph (operators/linkgraph.py): edge extraction and
PageRank against a pure-python reference, with dangling-mass and
mass-conservation invariants."""

from __future__ import annotations

import random

from dedupe_algo_spark.operators.linkgraph import host_edges, pagerank


def _ref_pagerank(edges, iters, d):
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    n = len(nodes)
    outw = {}
    for s, _ in edges:
        outw[s] = outw.get(s, 0) + 1
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dangling = sum(p for v, p in pr.items() if v not in outw)
        inflow = {v: 0.0 for v in nodes}
        for s, t in edges:
            inflow[t] += pr[s] / outw[s]
        pr = {
            v: (1.0 - d) / n + d * (inflow[v] + dangling / n) for v in nodes
        }
    return pr


def test_pagerank_matches_reference_with_dangling(spark):
    random.seed(11)
    nodes = [f"n{i}" for i in range(12)]
    edges = sorted(
        {
            (random.choice(nodes), random.choice(nodes))
            for _ in range(30)
            # n11 gets no outlinks -> dangling
        }
        - {(s, t) for s, t in [] }
    )
    edges = [(s, t) for s, t in edges if s != "n11"]
    ref = _ref_pagerank(edges, 8, 0.85)
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r.node: r.pagerank for r in pagerank(e, iterations=8).collect()
    }
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-12, v
    # mass conservation: dangling redistribution keeps total at 1
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_weighted_parallel_edges(spark):
    # a->b twice, a->c once: weighted shares 2/3, 1/3
    e = spark.createDataFrame(
        [("a", "b", 2), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
        "src string, dst string, w int",
    )
    got = {
        r.node: r.pagerank
        for r in pagerank(e, iterations=6, weight_col="w").collect()
    }
    ref = _ref_pagerank(
        [("a", "b"), ("a", "b"), ("a", "c"), ("b", "a"), ("c", "a")], 6, 0.85
    )
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-12
    assert got["b"] > got["c"]  # double edge earns more rank


def test_host_edges_extraction(spark):
    html = (
        '<p>x</p><a href="https://b.com/1">l</a>'
        '<a href="https://b.com/2">m</a><a href="/rel">n</a>'
        '<a href="https://c.org/z">o</a>'
    ).encode()
    pages = spark.createDataFrame(
        [("https://a.com/p", bytearray(html))], "url string, html binary"
    )
    got = {
        (r.src_host, r.dst_host): r.n_links
        for r in host_edges(pages).collect()
    }
    assert got == {("a.com", "b.com"): 2, ("a.com", "c.org"): 1}


def test_pagerank_empty_graph_returns_empty(spark):
    e = spark.createDataFrame([], "src string, dst string")
    out = pagerank(e, iterations=3)
    assert out.columns == ["node", "pagerank"]
    assert out.count() == 0


def test_pagerank_releases_superseded_checkpoints(spark):
    """Only the checkpoint backing the result stays persisted: each
    superstep releases its parent, and the node, edge and tag
    checkpoints go once no later frame reads them. With no superstep
    the result reads the tag checkpoint, which stays."""
    from dedupe_algo_spark.tracking import persistent_rdd_ids

    rng = random.Random(3)
    e = spark.createDataFrame(
        [(f"h{rng.randrange(40)}", f"h{rng.randrange(40)}") for _ in range(200)],
        "src string, dst string",
    )
    for iterations in (6, 0):
        before = persistent_rdd_ids(spark)
        ranks = [r.pagerank for r in pagerank(e, iterations=iterations).collect()]
        assert abs(sum(ranks) - 1.0) < 1e-9
        assert len(persistent_rdd_ids(spark) - before) <= 1, iterations
