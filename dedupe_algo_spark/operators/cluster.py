"""Transitive clustering — iterative large-star / small-star connected
components over a match-edge DataFrame.

Algorithm per Kiveris et al., "Connected Components in MapReduce and
Beyond" (SOCC'14, public) — the north_star-mandated formulation. Both
steps are a groupBy + join on node id (2 shuffles per superstep);
convergence is O(log n) supersteps for any graph, and 2-3 for the
star/chain shapes dedup produces.

Scale notes:
* every superstep ends with ``localCheckpoint`` — truncates the lineage
  so the plan does not grow exponentially across iterations (on a real
  cluster this is a checkpoint dir / intermediate table write; local
  mode keeps it in block storage).
* convergence test is a one-pass aggregate signature
  (count + bit_xor of xxhash64 over edges) observed on the checkpoint
  job itself — no exceptAll anti-join, no collect of the edge set. A
  graph that has not converged after ``MAX_SUPERSTEPS`` raises.
* node ids are strings (urls); min() is lexicographic — deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set as (hi, lo) sorted pairs, deduped, no loops."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u})."""
    nbrs = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = nbrs.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        nbrs.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient (hi→lo); for each node u: connect every ≤-neighbor and u
    itself to min(N≤(u) ∪ {u})."""
    oriented = _canonical(edges)  # src > dst
    m = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    j = oriented.join(m, "src")
    # no inner distinct: the caller's _canonical dedups the superstep output
    return j.select(F.col("dst").alias("src"), F.col("m").alias("dst")).union(
        j.select("src", F.col("m").alias("dst"))
    )


# Below this many canonical edges the contracted rep-graph is solved
# driver-side: a union-find over ≤1M string pairs is ~1s of driver work,
# while every distributed superstep costs ~10 shuffle/checkpoint jobs of
# fixed latency that no executor count can shrink. The distributed
# large-star/small-star path stays the algorithm of record for graphs
# that cannot fit (10^12-doc corpora can carry billions of rep edges).
SMALL_GRAPH_EDGES_CAP = 1_000_000

# Driver-heap budget per canonical edge for the fast path. Measured: 1M
# edges of ~60-char urls cost ~0.4GB of driver RSS including the Arrow
# batches and pandas intermediates (~400B/edge); 4KiB/edge is 10×
# headroom, so the memory-derived bound only bites on drivers smaller
# than ~4g — where a 1M-row toPandas genuinely is a footgun.
_EDGE_MEM_BUDGET = 4096

# Superstep bound for the distributed path. Convergence is O(log n)
# supersteps for any graph (2-3 for the dedup star/chain shapes), so
# reaching this bound means something is wrong: the call raises rather
# than return a labelling that is not a fixpoint.
MAX_SUPERSTEPS = 25


def _mem_to_bytes(mem: str) -> int:
    """Parse a JVM memory string ('16g', '512m', '64k', bare = MiB,
    matching Spark's JavaUtils.byteStringAsMb default for this conf)."""
    s = mem.strip().lower().rstrip("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(float(s)) * (1 << 20)


def small_graph_limit(spark) -> int:
    """The union-find fast path's canonical-edge bound:
    ``min(1M, driver_memory / 4KiB-per-edge)``."""
    try:
        mem = spark.conf.get("spark.driver.memory", "1g")
    except Exception:
        mem = "1g"
    return min(SMALL_GRAPH_EDGES_CAP, _mem_to_bytes(mem) // _EDGE_MEM_BUDGET)


def _local_cc(edges: DataFrame) -> DataFrame:
    """Driver union-find fast path — identical output contract to the
    distributed path: (url, component=lexicographic min of component).

    Transport is Arrow both ways. Inbound, ``toPandas`` fetches the
    edge partitions as parallel Arrow batches — measured 6.2s for a
    single-task ``coalesce(1).toLocalIterator`` drain of the same edge
    set at 4M pages vs well under a second for the batched collect
    (the caller has already bounded the edge count, so driver memory is
    capped either way). Outbound, ``createDataFrame(pandas)`` ships the
    assignment as Arrow record batches instead of pickled tuples in
    task binaries (the parallelize form logged >1MB task-size warnings
    and serialized on one driver thread). The returned DataFrame
    carries ``_dedupe_known_rows`` so callers can make broadcast
    decisions without another counting job."""
    import pandas as pd

    pdf = edges.select("src", "dst").toPandas()
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf["src"].values, pdf["dst"].values):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[str, str] = {}
    for v in parent:
        r = find(v)
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    urls = sorted(parent)
    out_pdf = pd.DataFrame(
        {"url": urls, "component": [comp_min[find(v)] for v in urls]}
    )
    out = edges.sparkSession.createDataFrame(out_pdf, "url string, component string")
    out._dedupe_known_rows = len(urls)
    return out


def connected_components(edges: DataFrame, tracker=None) -> DataFrame:
    """→ (url, component) assignment for every node appearing in edges.

    ``component`` is the lexicographic min url of the component. Nodes
    not present in any edge are singletons and simply absent here.

    Graphs whose canonical edge set is ≤ :func:`small_graph_limit`
    (derived from the driver heap) are solved with a driver-side
    union-find (same output, ~1 job instead of ~10 per superstep).
    Larger graphs run large-star/small-star supersteps until the edge
    signature repeats; if it has not repeated after ``MAX_SUPERSTEPS``
    the call raises instead of returning a labelling that may not be a
    fixpoint.

    Checkpoint hygiene: each superstep's eager ``localCheckpoint``
    supersedes its parent, which is unpersisted immediately — only ONE
    superstep's blocks are ever live. The final checkpoint backs the
    returned DataFrame; its RDD ids are registered on ``tracker``
    (a :class:`~dedupe_algo_spark.tracking.PersistTracker`) if given, so
    the caller can release it after consuming the assignment.
    """
    from pyspark.sql import Observation

    from ..tracking import checkpoint_rdd_ids, unpersist_rdd_ids

    spark = edges.sparkSession
    live: set[int] = set()  # RDD ids of the current (newest) checkpoint

    def _ckpt(df: DataFrame) -> DataFrame:
        nonlocal live
        out = df.localCheckpoint(eager=True)
        # Release exactly the checkpoint's own RDD, read off its plan —
        # never a persistent-RDD-set delta, which would also catch a
        # stage cache that this job happened to materialize (the first
        # action of a lazy pipeline often runs inside the first
        # checkpoint) and force its consumers to recompute it.
        unpersist_rdd_ids(spark, live)  # parent superstep is superseded
        live = checkpoint_rdd_ids(out)
        return out

    cur = _ckpt(
        _canonical(
            edges.select(
                F.col(edges.columns[0]).alias("src"),
                F.col(edges.columns[1]).alias("dst"),
            )
        )
    )
    # The size decision is one count over the canonical edge set, already
    # materialized by the eager localCheckpoint above, so the count scans
    # block-manager blocks without recomputing the edges.
    if cur.count() <= small_graph_limit(spark):
        out = _local_cc(cur)
        # the union-find consumed the edges; the canonical checkpoint is
        # dead weight (the result is Arrow/driver-backed)
        unpersist_rdd_ids(spark, live)
        return out
    prev_sig = None
    for _ in range(MAX_SUPERSTEPS):
        # The convergence signature piggybacks on the checkpoint job:
        # CollectMetrics rides the eager materialization, so the observed
        # (count, bit_xor) costs no extra job per superstep.
        obs = Observation()
        cur = _ckpt(
            _canonical(_small_star(_large_star(cur))).observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)
                ).alias("h"),
            )
        )
        m = obs.get
        sig = (int(m["n"]), int(m["h"]))
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        unpersist_rdd_ids(spark, live)
        raise RuntimeError(
            f"connected_components did not converge in {MAX_SUPERSTEPS} supersteps"
        )
    if tracker is not None:
        tracker.adopt_ids(spark, live)
    # fixpoint: every edge is (member, root). Roots map to themselves.
    members = cur.select(F.col("src").alias("url"), F.col("dst").alias("component"))
    roots = cur.select(F.col("dst").alias("url"), F.col("dst").alias("component")).distinct()
    return members.union(roots).groupBy("url").agg(F.min("component").alias("component"))


def merge_clusters(assignments: DataFrame, new_edges: DataFrame) -> DataFrame:
    """→ (url, component): an existing cluster assignment updated with
    a batch of new match edges, recomputing ONLY the clusters the
    batch touches — the incremental counterpart of
    :func:`connected_components` for the daily-ingest deployment
    (sources/bucketed.py finds the batch's pairs exchange-free; this
    folds them into yesterday's entities without re-running CC over
    the 10^12-node historical graph).

    ``assignments`` is a prior CC output (url, component) where
    ``component`` is the min-url member — the star encoding of the
    historical partition, so each old cluster is reconstructible from
    its assignment rows alone (component→url star edges) and the full
    edge history is never needed. Correctness: a new edge can only
    change components it touches, and every member of a touched
    component is pulled into the subgraph via its star edges, so
    CC(star(touched) ∪ batch) equals the touched slice of
    CC(history ∪ batch); untouched rows pass through by anti-join.
    Labels stay the global min url because every merged cluster's
    candidate minima are all present in the subgraph.

    Scale shape: two slim semi/anti-joins on (url)/(component) and one
    CC over a subgraph proportional to the BATCH's blast radius, not
    the corpus. Urls unseen in ``assignments`` (brand-new pages, or
    prior singletons which CC omits) need no special casing — they
    enter through the batch edges themselves."""
    a = assignments.select(
        F.col(assignments.columns[0]).alias("url"),
        F.col(assignments.columns[1]).alias("component"),
    )
    e = new_edges.select(
        F.col(new_edges.columns[0]).alias("src"),
        F.col(new_edges.columns[1]).alias("dst"),
    )
    touched_urls = (
        e.select(F.col("src").alias("url"))
        .unionByName(e.select(F.col("dst").alias("url")))
        .distinct()
    )
    touched_comp = (
        a.join(touched_urls, "url", "left_semi").select("component").distinct()
    )
    star = (
        a.join(touched_comp, "component", "left_semi")
        .where(F.col("url") != F.col("component"))
        .select(F.col("component").alias("src"), F.col("url").alias("dst"))
    )
    merged = connected_components(star.unionByName(e))
    untouched = a.join(touched_comp, "component", "left_anti")
    return untouched.unionByName(merged.select("url", "component"))
