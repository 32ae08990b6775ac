"""Similarity search and near-duplicate detection over embedding
columns (`array<float>`).

* **Brute-force cosine top-k** (``brute_force_topk``) — cosine is a pure
  built-in reduction (``aggregate``/``zip_with`` over the two arrays —
  JVM-side, no Python), the query side is broadcast, and top-k is a
  ranking window per query. O(N·Q) but fully distributed.
* **Near-duplicate pairs** — two bucketed generators that share one
  slim self-join + exact-cosine tail (``_confirm_keyed_pairs``):

  - ``embedding_near_dupes`` — random-hyperplane LSH (SimHash for
    vectors, Charikar 2002): data-independent; each vector hashes to
    ``n_tables`` sign-pattern buckets, recall tunable with
    (n_bits, n_tables).
  - ``ivf_near_dupes`` — IVF cells (inverted-file index,
    Jégou/Douze/Schmid 2011): data-adaptive; spherical k-means centroids
    trained once on a deterministic bounded sample and broadcast, each
    vector assigned map-side (one GEMM per Arrow batch) to its nearest
    cells. Training is parallelism-invariant (hash-ordered sample,
    seeded init, fixed Lloyd iterations), so every result is
    reproducible across cluster sizes.

* **Semantic dedup (SemDeDup, Abbas et al. 2023, public)** —
  ``semantic_dedup`` closes pairs into clusters with the same
  large-star/small-star CC the text pipeline uses and applies a keeper
  policy per semantic cluster.

A NULL embedding never pairs: it is neither sampled for training nor
bucketed, so its row stays a singleton (its own keeper). Input without a
single non-NULL embedding gives an empty pair frame.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StringType

_HP_SEED = 0xA11CE


def cosine_sim(a: Column, b: Column) -> Column:
    """Built-in cosine similarity between two float arrays (zip_with dot
    product + aggregate norms) — stays JVM-side. Elements are widened to
    double first so results are reproducible across engines (float32
    accumulation order would diverge from any f64 oracle)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(ad, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(bd, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))


def _confirm_keyed_pairs(
    keyed: DataFrame,
    vectors: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    key: str,
) -> DataFrame:
    """Shared pair tail for the bucketed near-dup variants (LSH buckets,
    IVF cells): self-join the slim (key, id) frame, dedup pairs, re-join
    vectors pair-side, exact-cosine confirm ≥ threshold.

    The self-join carries ONLY (key, id): the exploded key rows never
    duplicate the vector payload through the shuffle. Vectors re-join
    after pair dedup — the same slim-join shape as
    scoring.confirm_pairs — so the wide column moves once per
    *surviving pair side*, not once per key row."""
    left = keyed.select(F.col(key), F.col(id_col).alias("id_a"))
    right = keyed.select(F.col(key), F.col(id_col).alias("id_b"))
    pairs = (
        left.join(right, key)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_sim(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def _no_pairs(vectors: DataFrame, id_col: str) -> DataFrame:
    """The empty (id_a, id_b, cosine) frame, for input without a single
    non-NULL vector."""
    i = F.col(id_col)
    return vectors.select(
        i.alias("id_a"), i.alias("id_b"), F.lit(0.0).alias("cosine")
    ).where(F.lit(False))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """→ (query_id, vec_id, cosine, rank ≤ k). ``queries`` is broadcast
    (small side); the big side streams — one wide map + a per-query
    top-k window, no all-pairs shuffle."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("_qvec")
        )
    )
    scored = vectors.select(id_col, vec_col).crossJoin(q).select(
        query_id_col,
        id_col,
        F.round(cosine_sim(F.col(vec_col), F.col("_qvec")), 6).alias("cosine"),
    )
    # ties broken by id for determinism
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def _hyperplanes(dim: int, n_bits: int, n_tables: int) -> np.ndarray:
    rng = np.random.default_rng([_HP_SEED, dim, n_bits, n_tables])
    return rng.standard_normal((n_tables, n_bits, dim)).astype(np.float32)


def hyperplane_buckets(dim: int, n_bits: int = 12, n_tables: int = 4):
    """Returns an Arrow-batched UDF mapping a vector to its ``n_tables``
    LSH bucket keys (sign pattern under random hyperplanes).

    The whole Arrow batch is hashed with ONE stacked matmul —
    ``(N, dim) @ (dim, n_tables*n_bits)`` — then a bit-weight dot per
    table; Python touches each row only to format the key strings.
    (A per-row ``planes[t] @ x`` loop dispatches N×n_tables tiny BLAS
    calls — the per-row-Python anti-pattern at 10^9 embeddings.)"""
    planes = _hyperplanes(dim, n_bits, n_tables)
    # (dim, n_tables*n_bits) — one GEMM per batch covers every table
    flat = planes.reshape(n_tables * n_bits, dim).T.copy()
    weights = (1 << np.arange(n_bits, dtype=np.int64))

    @pandas_udf(ArrayType(StringType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        mask = vecs.notna().to_numpy()
        out = np.empty(len(vecs), dtype=object)
        if mask.any():
            x = np.vstack(
                [np.asarray(v, dtype=np.float32) for v in vecs[mask]]
            )
            bits = (x @ flat > 0).reshape(len(x), n_tables, n_bits)
            codes = bits.astype(np.int64) @ weights  # (N, n_tables)
            keys = np.empty(len(codes), dtype=object)
            keys[:] = [
                [f"t{t}:{int(c):x}" for t, c in enumerate(row)]
                for row in codes
            ]
            out[mask] = keys
        return pd.Series(out)

    return buckets


_IVF_SEED = 0x1F5EED


def train_ivf_centroids(
    vectors: DataFrame,
    n_cells: int = 16,
    sample_cap: int = 4096,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Spherical k-means centroids (unit-norm, cosine geometry) over a
    deterministic bounded sample → ``(n_cells, dim)`` float32.

    Scale shape: the sample is ``orderBy(xxhash64(id)).limit(cap)`` — a
    TakeOrdered (per-partition top-k + driver merge, no full sort, no
    wide shuffle) whose result is a pure function of the DATA, not of
    partitioning or cluster size. Training is driver-side numpy on ≤
    ``sample_cap`` rows (bounded, like cluster._local_cc); everything
    downstream of training is map-side against the broadcast centroids.
    Seeded init + fixed Lloyd iterations ⇒ bit-reproducible index.
    Only non-NULL vectors are sampled; without any, there are 0 cells."""
    sample = (
        vectors.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("_id")), F.col("_id"))
        .limit(int(sample_cap))
        .select("v")
        .toPandas()
    )
    if sample.empty:
        return np.zeros((0, 0), dtype=np.float32)
    x = np.vstack([np.asarray(v, dtype=np.float64) for v in sample["v"]])
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.where(norms == 0, 1.0, norms)
    n_cells = min(n_cells, len(x))
    rng = np.random.default_rng([_IVF_SEED, x.shape[1], n_cells])
    cent = x[rng.choice(len(x), size=n_cells, replace=False)].copy()
    for _ in range(n_iter):
        # one GEMM per iteration: cosine == dot on the unit sphere
        assign = (x @ cent.T).argmax(axis=1)
        for c in range(n_cells):
            members = x[assign == c]
            if len(members) == 0:
                # deterministic re-seed: the point farthest from its
                # centroid claims the empty cell
                worst = ((x @ cent.T).max(axis=1)).argmin()
                cent[c] = x[worst]
                continue
            m = members.sum(axis=0)
            n = np.linalg.norm(m)
            cent[c] = m / (n if n else 1.0)
    return cent.astype(np.float32)


def _unit_sims(vecs_masked, cent: np.ndarray) -> np.ndarray:
    """Shared normalize-and-GEMM prologue of the IVF UDFs: masked Arrow
    batch → (N, n_cells) cosine matrix against the (dim, n_cells)
    centroid matrix (float32 cast, zero-norm guard) — one place for the
    dtype/norm handling instead of a copy per UDF."""
    x = np.vstack([np.asarray(v, dtype=np.float32) for v in vecs_masked])
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    return (x / np.where(norms == 0, 1.0, norms)) @ cent


def ivf_cell_assigner(centroids: np.ndarray, n_assign: int = 1):
    """Arrow-batched UDF: vector → its ``n_assign`` nearest cells
    (array<int>). One ``(N, dim) @ (dim, n_cells)`` GEMM per batch;
    Python never touches rows individually. ``n_assign > 1`` is IVF
    multi-assignment: vectors near a Voronoi boundary index into every
    nearby cell, so boundary-straddling near-duplicate pairs still
    co-locate (the IVF analog of LSH's multiple tables)."""
    cent = centroids.astype(np.float32).T.copy()  # (dim, n_cells)
    n_assign = min(n_assign, cent.shape[1])

    @pandas_udf(ArrayType(IntegerType()))
    def cells(vecs: pd.Series) -> pd.Series:
        mask = vecs.notna().to_numpy()
        out = np.empty(len(vecs), dtype=object)
        if mask.any():
            sims = _unit_sims(vecs[mask], cent)
            if n_assign == 1:
                picks = sims.argmax(axis=1)[:, None]
            else:
                picks = np.argpartition(-sims, n_assign - 1, axis=1)[:, :n_assign]
                # stable order within the pick set (argpartition is not)
                row = np.arange(len(picks))[:, None]
                picks = picks[row, np.argsort(-sims[row, picks], axis=1)]
            vals = np.empty(len(picks), dtype=object)
            vals[:] = [[int(c) for c in p] for p in picks]
            out[mask] = vals
        return pd.Series(out)

    return cells


def ivf_near_dupes(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    n_assign: int = 2,
    centroids: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via IVF cells: multi-assign
    every vector to its ``n_assign`` nearest cells, self-join within
    cells, exact-cosine confirm ≥ threshold.
    → (id_a, id_b, cosine), id_a < id_b — same contract and
    slim-shuffle shape as ``embedding_near_dupes`` (the LSH variant);
    see ``_confirm_keyed_pairs``."""
    if centroids is None:
        centroids = train_ivf_centroids(
            vectors, n_cells=n_cells, id_col=id_col, vec_col=vec_col
        )
    if len(centroids) == 0:
        return _no_pairs(vectors, id_col)
    assign = ivf_cell_assigner(centroids, n_assign=n_assign)
    b = vectors.select(
        F.col(id_col), F.explode(assign(F.col(vec_col))).alias("cell")
    )
    return _confirm_keyed_pairs(b, vectors, threshold, id_col, vec_col, "cell")


def embedding_near_dupes(
    vectors: DataFrame,
    threshold: float = 0.95,
    dim: int | None = None,
    n_bits: int = 10,
    n_tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family, task spec):
    LSH-bucket self-join + built-in cosine ≥ threshold.
    → (id_a, id_b, cosine), id_a < id_b.

    The bucket self-join carries ONLY (bucket, id) — never the vector
    payload ×n_tables; see ``_confirm_keyed_pairs``."""
    if dim is None:
        first = (
            vectors.where(F.col(vec_col).isNotNull())
            .select(F.size(vec_col).alias("d"))
            .first()
        )
        if first is None:
            return _no_pairs(vectors, id_col)
        dim = int(first["d"])
    bucketer = hyperplane_buckets(dim, n_bits, n_tables)
    b = vectors.select(
        F.col(id_col), F.explode(bucketer(F.col(vec_col))).alias("bucket")
    )
    return _confirm_keyed_pairs(b, vectors, threshold, id_col, vec_col, "bucket")


def ivf_centroid_sim(centroids: np.ndarray):
    """Arrow-batched UDF: vector → cosine to its NEAREST centroid
    (double). One GEMM per batch, like the cell assigner; used by the
    SemDeDup keeper policy (keep the cluster member farthest from its
    centroid — i.e. lowest nearest-centroid cosine — to maximize the
    diversity of what survives dedup)."""
    cent = centroids.astype(np.float32).T.copy()  # (dim, n_cells)

    @pandas_udf(DoubleType())
    def sim(vecs: pd.Series) -> pd.Series:
        out = np.full(len(vecs), np.nan)
        mask = vecs.notna().to_numpy()
        if mask.any():
            out[mask] = _unit_sims(vecs[mask], cent).max(axis=1).astype(np.float64)
        return pd.Series(out)

    return sim


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    pairs: DataFrame | None = None,
    n_cells: int = 16,
    n_assign: int = 2,
    centroids: np.ndarray | None = None,
    keep_policy: str = "min_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tracker=None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication",
    2023 — public): embedding near-dup PAIRS → transitive CLUSTERS → one
    KEEPER per cluster. → (``id_col``, sem_cluster, keep) with exactly
    one row per input vector; ``sem_cluster`` is the numeric-min member
    id; singletons keep themselves.

    ``pairs`` defaults to :func:`ivf_near_dupes` at (``n_cells``,
    ``n_assign``) — the data-adaptive scale path (SemDeDup's own recipe:
    k-means first, pairwise cosine only within cells). Pass pairs from
    :func:`embedding_near_dupes` (LSH) or an exhaustive join to trade
    recall/cost; any (id_a, id_b[, ...]) frame works.

    Clustering reuses :func:`~.cluster.connected_components` — the same
    large-star/small-star operator (and its driver union-find fast path
    + checkpoint hygiene) the text pipeline runs, so its 10^12-row story
    carries over. CC's node ids are strings with lexicographic min;
    integral ids are therefore encoded to a fixed-width decimal string
    (offset by 2^63, so the FULL signed int64 range orders
    lexicographically == numerically) and decoded on the way out.
    ``sem_cluster`` is re-derived as the min id among members PRESENT
    in ``vectors`` — so even a ``pairs`` frame referencing ids absent
    from ``vectors`` (a stale pair list against a filtered table)
    yields a present keeper per cluster instead of silently electing
    nobody — and stays exactly reproducible by a SQL oracle's numeric
    ``MIN``.

    ``keep_policy``:

    * ``"min_id"`` (default) — keeper is the min-id member.
      Deterministic, engine-independent, SQL-expressible (the
      CORRECTNESS oracle covers this policy end-to-end via a recursive
      transitive-closure CTE).
    * ``"farthest_from_centroid"`` — the SemDeDup paper's policy: keep
      the member with the LOWEST cosine to its nearest IVF centroid
      (the least prototypical example survives, preserving diversity).
      Ties broken by id. Needs ``centroids`` (trained here if absent).

    Scale shape: pair generation is the bucketed slim self-join
    (``_confirm_keyed_pairs``), CC and the min-present relabel run on
    the pair-node frame (tiny vs N), the final join back to the full id
    set is a broadcast of the clustered minority in practice, and the
    centroid policy adds one map-side GEMM column + a per-cluster
    window — no new wide shuffle anywhere.
    """
    from .cluster import connected_components

    id_type = vectors.schema[id_col].dataType.simpleString()
    integral = id_type in ("int", "bigint", "smallint", "tinyint")
    # 2^63 as a decimal literal: id + offset maps signed int64 onto
    # [0, 2^64), which zero-padded to 20 digits orders lexicographically
    # exactly like the signed numeric order (decimal(21,0) arithmetic is
    # exact; a plain lpad of the signed string would misorder negatives
    # and NULL-out on the cast back under ANSI mode)
    _off = F.lit("9223372036854775808").cast("decimal(21,0)")

    def _pad(c):
        if not integral:
            return c.cast("string")
        return F.lpad((c.cast("decimal(21,0)") + _off).cast("string"), 20, "0")

    def _unpad(c):
        return (c.cast("decimal(21,0)") - _off).cast(id_type) if integral else c

    if pairs is None:
        if centroids is None:
            centroids = train_ivf_centroids(
                vectors, n_cells=n_cells, id_col=id_col, vec_col=vec_col
            )
        pairs = ivf_near_dupes(
            vectors,
            threshold=threshold,
            n_cells=n_cells,
            n_assign=n_assign,
            centroids=centroids,
            id_col=id_col,
            vec_col=vec_col,
        )
    edges = pairs.select(
        _pad(F.col("id_a")).alias("src"), _pad(F.col("id_b")).alias("dst")
    )
    comp = connected_components(edges, tracker=tracker).select(
        F.col("url").alias("_pid"), F.col("component").alias("_comp")
    )
    # Relabel each component to its min PRESENT member — all on the
    # slim pair-node frame (|comp| ≈ clustered nodes, not N).
    present = vectors.select(
        _pad(F.col(id_col)).alias("_pid"), F.col(id_col).alias("_id")
    ).join(comp, "_pid")
    relabel = present.groupBy("_comp").agg(F.min("_id").alias("_sem"))
    node_map = present.select("_pid", "_comp").join(relabel, "_comp").select(
        "_pid", "_sem"
    )
    assigned = (
        vectors.select(id_col, vec_col)
        .join(node_map, _pad(F.col(id_col)) == F.col("_pid"), "left")
        .select(
            id_col,
            vec_col,
            F.coalesce(F.col("_sem"), F.col(id_col)).alias("sem_cluster"),
        )
    )
    if keep_policy == "min_id":
        out = assigned.select(
            id_col,
            "sem_cluster",
            (F.col(id_col) == F.col("sem_cluster")).alias("keep"),
        )
    elif keep_policy == "farthest_from_centroid":
        if centroids is None:
            centroids = train_ivf_centroids(
                vectors, n_cells=n_cells, id_col=id_col, vec_col=vec_col
            )
        sim = ivf_centroid_sim(centroids)
        w = Window.partitionBy("sem_cluster").orderBy(
            F.asc("_csim"), F.col(id_col).asc()
        )
        out = (
            assigned.withColumn("_csim", sim(F.col(vec_col)))
            .withColumn("_rn", F.row_number().over(w))
            .select(id_col, "sem_cluster", (F.col("_rn") == 1).alias("keep"))
        )
    else:
        raise ValueError(f"unknown keep_policy {keep_policy!r}")
    return out
