"""Pass-1 blocking — the cheap-key candidate pruning stage.

Reference: pass 1 buckets by file size and discards singleton buckets
before any I/O (lib.rs:54-64). Ours blocks by
``(length_bucket, registered_domain)`` (north_star pass 1) and prunes
singleton blocks the same way.

All shuffles here are on the block key; the singleton prune uses a
window count over the same partitioning Catalyst already created for the
key — one shuffle total, reused.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import length_bucket
from ..functions.urls import registered_domain


def block_key(text: Column, url: Column) -> Column:
    """Composite cheap key: length bucket + registered domain."""
    return F.concat_ws(
        "|", length_bucket(text).cast("string"), registered_domain(url)
    )


def prune_singleton_blocks(df: DataFrame, key: str | list[str] = "block_key") -> DataFrame:
    """Reference F7 (lib.rs:61-64,118-121,177-181): a block with one
    member can contain no duplicate pair. Window count over the block
    key — reuses the key's hash partitioning, no extra shuffle vs the
    groupBy+semi-join formulation, and no driver round-trip."""
    keys = [key] if isinstance(key, str) else key
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("_n", F.count(F.lit(1)).over(w))
        .where(F.col("_n") >= 2)
        .drop("_n")
    )


def global_sort_rank(
    df: DataFrame,
    sort_cols: list[str],
    partitions: int | None = None,
    tracker=None,
) -> DataFrame:
    """Append ``_rank``: the 0-based position of each row in the TOTAL
    order by ``sort_cols`` (which must be a unique key — pass the id
    last). The naive ``row_number().over(Window.orderBy(...))`` drags
    every row through ONE task; this is the scale-honest two-pass form:

    1. one range exchange + partition-local sort (Spark's distributed
       sort — exactly what ``df.sort`` plans),
    2. partition-local ordinals assigned in Arrow batches (mapInPandas,
       zero shuffle, preserves the sorted order),
    3. per-partition row counts (a P-row aggregate over the same cached
       projection) cumulated into offsets and broadcast-joined back.

    The rank is a property of the total order alone, so it is
    deterministic even though the range partitioner samples its
    boundaries. Only ``sort_cols`` move through the exchange — project
    first, join the rank back by id if other columns are needed.
    """
    spark = df.sparkSession
    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    srt = (
        df.repartitionByRange(partitions, *sort_cols)
        .sortWithinPartitions(*sort_cols)
    )
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    # fresh StructType — .add() mutates, and srt.schema is the frame's
    # own cached schema object
    out_schema = StructType(
        [*srt.schema.fields]
        + [StructField("_pid", IntegerType()), StructField("_local", LongType())]
    )

    def ordinals(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seen = 0
        for pdf in batches:
            pdf = pdf.assign(_pid=pid, _local=range(seen, seen + len(pdf)))
            seen += len(pdf)
            yield pdf

    # persisted: the counts pass and the rank join both consume the
    # sorted ordinals; registered on the tracker (if given) so the
    # caller can release the blocks once the ranks are consumed
    local = srt.mapInPandas(ordinals, out_schema)
    local = tracker.persist(local) if tracker is not None else local.persist()
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    offsets = counts.toPandas().sort_values("_pid")
    offsets["_offset"] = offsets["_n"].cumsum() - offsets["_n"]
    off = F.broadcast(
        spark.createDataFrame(
            offsets[["_pid", "_offset"]], "_pid int, _offset long"
        )
    )
    return (
        local.join(off, "_pid")
        .withColumn("_rank", F.col("_offset") + F.col("_local"))
        .drop("_pid", "_local", "_offset")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_cols: list[str],
    id_col: str = "url",
    window: int = 4,
    partitions: int | None = None,
    tracker=None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995): order the
    corpus by a fuzzy key and emit every pair within ``window`` rank
    positions → (url_a, url_b), url_a < url_b lexicographically, each
    unordered pair once. Complements hash blocking: near-boundary
    records (a length one byte over the bucket edge, a typo'd domain)
    land in ADJACENT sort positions even when their hash keys differ.

    Scale shape: ranking as :func:`global_sort_rank` (one range
    exchange of the slim (key, id) projection); pairing explodes each
    row to its ``window−1`` successor ranks (slim long rows) and
    equi-joins rank→rank — integer-key hash join, AQE-planned, no
    theta join and no single-task stage anywhere.
    """
    from pyspark.sql import functions as F

    slim = df.select(*dict.fromkeys([*sort_cols, id_col]))
    ranked = global_sort_rank(
        slim, [*sort_cols, id_col], partitions=partitions, tracker=tracker
    )
    ranked = ranked.select(id_col, "_rank")
    probes = ranked.select(
        F.col(id_col).alias("_ida"),
        F.explode(
            F.sequence(F.col("_rank") + 1, F.col("_rank") + (window - 1))
        ).alias("_rank"),
    )
    return (
        probes.join(ranked, "_rank")
        .select(
            F.least(F.col("_ida"), F.col(id_col)).alias("url_a"),
            F.greatest(F.col("_ida"), F.col(id_col)).alias("url_b"),
        )
    )


def multi_rule_pairs(
    df: DataFrame,
    id_col: str,
    rules: list[list[str]],
) -> DataFrame:
    """Multi-rule blocking union (the Splink candidate-generation model;
    Linacre et al., splink, JOSS 2022): each rule is a list
    of equi-join key columns; the candidate set is the union of the
    rules' self-join pairs. The cross-rule dedup is SHUFFLE-FREE: rule k
    emits a pair only if it does NOT also satisfy any earlier rule — a
    pure codegen predicate evaluated on the already-joined sides — so
    the union is disjoint by construction and never needs a global
    ``distinct()`` over the (huge) pair set. Each rule's self-join
    shuffles on its own keys, which is the minimum possible work; at
    10^12 rows each join is independently AQE-planned and skew-split.

    Returns (id_a, id_b, rule, a_<c>..., b_<c>...) with id_a < id_b,
    ``rule`` = the index of the FIRST rule that matched the pair, and
    every column ``c`` of ``df`` carried from both joined rows (so a
    scorer reads the pair's fields with no join back by id — a join
    that would fan out on a repeated id). Pass a slim ``df``: Catalyst
    prunes the carried columns a caller never selects. Null keys never
    match (equi-join semantics), and the earlier-rule exclusion mirrors
    that with ``coalesce(agree, false)`` so a null on an earlier rule's
    key doesn't suppress a later rule's pair."""
    a = df.select(*[F.col(c).alias("a_" + c) for c in df.columns])
    b = df.select(*[F.col(c).alias("b_" + c) for c in df.columns])

    def agree(rule: list[str]) -> Column:
        cond = F.lit(True)
        for c in rule:
            cond = cond & (F.col("a_" + c) == F.col("b_" + c))
        return cond

    parts = []
    for k, rule in enumerate(rules):
        cond = agree(rule) & (F.col("a_" + id_col) < F.col("b_" + id_col))
        for earlier in rules[:k]:
            cond = cond & ~F.coalesce(agree(earlier), F.lit(False))
        parts.append(
            a.join(b, cond).select(
                F.col("a_" + id_col).alias("id_a"),
                F.col("b_" + id_col).alias("id_b"),
                F.lit(k).cast("int").alias("rule"),
                *a.columns,
                *b.columns,
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
