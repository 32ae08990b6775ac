"""Connected components: correctness on adversarial graph shapes.

Every case runs through BOTH paths — the driver union-find fast path
and the distributed large-star/small-star loop, chosen by patching the
fast path's bound (``small_graph_limit``) — which must produce
identical labels and leave no checkpoint block behind once released.
"""

from __future__ import annotations

import pytest

from dedupe_algo_spark.operators import cluster
from dedupe_algo_spark.operators.cluster import connected_components
from dedupe_algo_spark.tracking import PersistTracker, persistent_rdd_ids


@pytest.fixture(params=[0, 1_000_000], ids=["distributed", "local-fastpath"])
def _cc(spark, request, monkeypatch):
    monkeypatch.setattr(cluster, "small_graph_limit", lambda _spark: request.param)

    def run(spark_, edges):
        df = spark_.createDataFrame(edges, ["src", "dst"])
        before = persistent_rdd_ids(spark_)
        tracker = PersistTracker()
        out = connected_components(df, tracker=tracker).collect()
        tracker.release()
        # nothing of ours left persisted behind, on either path
        assert persistent_rdd_ids(spark_) == before
        return {r["url"]: r["component"] for r in out}

    return run


def test_two_components(spark, _cc):
    m = _cc(spark, [("a", "b"), ("b", "c"), ("d", "e")])
    assert m == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_long_chain(spark, _cc):
    # chain stresses superstep convergence (naive propagation = O(n) iters)
    nodes = [f"n{i:03d}" for i in range(40)]
    edges = list(zip(nodes, nodes[1:]))
    m = _cc(spark, edges)
    assert set(m.values()) == {"n000"}
    assert len(m) == 40


def test_star_and_duplicate_edges(spark, _cc):
    edges = [("hub", f"leaf{i}") for i in range(10)]
    edges += edges[:3]  # duplicates
    edges += [(b, a) for a, b in edges[:3]]  # reversed duplicates
    m = _cc(spark, edges)
    assert len(set(m.values())) == 1
    assert min(m) in m.values()


def test_self_loops_ignored(spark, _cc):
    m = _cc(spark, [("a", "a"), ("a", "b")])
    assert m == {"a": "a", "b": "a"}


def test_component_id_is_lexicographic_min(spark, _cc):
    m = _cc(spark, [("z", "m"), ("m", "b"), ("q", "z")])
    assert set(m.values()) == {"b"}


def test_small_graph_limit_derived_from_driver_memory(spark):
    """The union-find fast-path bound derives from the driver heap
    (min(1M cap, mem/4KiB-per-edge)) instead of a fixed constant."""
    from dedupe_algo_spark.operators.cluster import (
        SMALL_GRAPH_EDGES_CAP,
        _EDGE_MEM_BUDGET,
        _mem_to_bytes,
        small_graph_limit,
    )

    assert _mem_to_bytes("16g") == 16 << 30
    assert _mem_to_bytes("512m") == 512 << 20
    assert _mem_to_bytes("2048") == 2048 << 20  # bare number = MiB
    # the test session driver (6g) derives ~1.5M edges → the 1M cap binds
    assert small_graph_limit(spark) == SMALL_GRAPH_EDGES_CAP
    # a small driver derives a proportionally smaller bound
    assert (512 << 20) // _EDGE_MEM_BUDGET == 131_072 < SMALL_GRAPH_EDGES_CAP


def test_threshold_boundary_both_paths_identical(spark, monkeypatch):
    """Stress the small_graph_limit boundary on a realistic dedup-shaped
    graph (stars, chains, cliques, cross links): the same edge set run
    just OVER the threshold (distributed path forced) and under it
    (driver union-find) must produce identical labels."""
    import random

    rng = random.Random(7)
    edges = []
    for c in range(120):  # exact-dup stars
        hub = f"https://s{c:03d}.example/p0"
        edges += [(hub, f"https://s{c:03d}.example/p{i}") for i in range(1, 6)]
    for c in range(20):  # near-dup chains
        n = [f"https://chain{c:02d}.example/v{i}" for i in range(30)]
        edges += list(zip(n, n[1:]))
    for c in range(5):  # small cliques (mirror clusters)
        n = [f"https://cliq{c}.example/m{i}" for i in range(8)]
        edges += [(a, b) for a in n for b in n if a < b]
    for _ in range(200):  # random extra links inside existing components
        a, b = rng.sample(range(len(edges)), 2)
        edges.append((edges[a][0], edges[b][1]))
    df = spark.createDataFrame(edges, ["src", "dst"])
    from dedupe_algo_spark.operators.cluster import _canonical

    n_canon = _canonical(df).count()

    def labels(limit):
        monkeypatch.setattr(cluster, "small_graph_limit", lambda _spark: limit)
        return {(r["url"], r["component"]) for r in connected_components(df).collect()}

    dist = labels(n_canon - 1)
    fast = labels(n_canon)
    assert dist == fast and len(dist) > 1000


def test_unconverged_distributed_run_raises(spark, monkeypatch):
    """A labelling that is not a fixpoint is never returned: with the
    superstep bound at 2, the 40-node chain cannot converge and the
    distributed path raises, while a one-edge graph (its signature
    repeats at superstep 2) still converges."""
    monkeypatch.setattr(cluster, "small_graph_limit", lambda _spark: 0)
    monkeypatch.setattr(cluster, "MAX_SUPERSTEPS", 2)
    nodes = [f"n{i:03d}" for i in range(40)]
    chain = spark.createDataFrame(list(zip(nodes, nodes[1:])), ["src", "dst"])
    before = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain)
    assert persistent_rdd_ids(spark) == before
    one = spark.createDataFrame([("b", "a")], ["src", "dst"])
    out = {r["url"]: r["component"] for r in connected_components(one).collect()}
    assert out == {"a": "a", "b": "a"}


def test_merge_clusters_equals_full_recompute(spark):
    """Incremental merge over a batch == full CC over history ∪ batch,
    for every touch pattern: merging two old clusters, extending one
    with a brand-new node, a new-only pair, and untouched clusters."""
    from dedupe_algo_spark.operators.cluster import (
        connected_components,
        merge_clusters,
    )

    e1 = spark.createDataFrame(
        [
            ("a1", "a2"), ("a2", "a3"),        # cluster A
            ("b1", "b2"),                       # cluster B
            ("c1", "c2"), ("c2", "c3"),        # cluster C (untouched)
            ("d1", "d2"),                       # cluster D (untouched)
        ],
        "src string, dst string",
    )
    e2 = spark.createDataFrame(
        [
            ("a3", "b1"),   # merges A and B
            ("b2", "n1"),   # extends the merged cluster with a new url
            ("x1", "x2"),   # brand-new cluster, no history
        ],
        "src string, dst string",
    )
    hist = connected_components(e1)
    inc = {(r.url, r.component) for r in merge_clusters(hist, e2).collect()}
    full = {
        (r.url, r.component)
        for r in connected_components(e1.unionByName(e2)).collect()
    }
    assert inc == full
    assert ("c1", "c1") in inc and ("d1", "d1") in inc  # untouched intact
    assert ("n1", "a1") in inc  # merged A∪B∪n1 keeps the global min


def test_merge_clusters_empty_batch_is_identity(spark):
    from dedupe_algo_spark.operators.cluster import (
        connected_components,
        merge_clusters,
    )

    e1 = spark.createDataFrame(
        [("a1", "a2"), ("b1", "b2")], "src string, dst string"
    )
    hist = connected_components(e1)
    empty = spark.createDataFrame([], "src string, dst string")
    out = {(r.url, r.component) for r in merge_clusters(hist, empty).collect()}
    assert out == {(r.url, r.component) for r in hist.collect()}
