"""Probabilistic record linkage: Fellegi–Sunter scoring + meta-blocking.

The reference's cascade (lib.rs:54-200) is a *deterministic* linker: a
pair either survives every pass or it doesn't. This module adds the two
classic probabilistic ER layers a web-scale linkage pipeline needs on
top of that cascade:

- **Fellegi–Sunter scoring** (Fellegi & Sunter, JASA 1969): per-field
  agreement vectors, m/u probabilities, and the likelihood ratio
  ``R = Π (m_i/u_i)^γ_i ((1-m_i)/(1-u_i))^(1-γ_i)`` that orders pairs by
  match evidence. u-probabilities are *estimated from the data* (the
  random-agreement probability of field f is ``Σ_v n_v² / N²`` — one
  map-side-combined aggregate per field, no pair enumeration); m can be
  supplied or fit by EM over *pattern counts* (≤2^k rows regardless of
  pair count, so the EM loop is driver-side by design, not by accident).

- **Meta-blocking** (Papadakis et al., TKDE 2013): re-weight the
  blocking graph built by redundant (token) blocking and prune
  low-evidence edges. Weight schemes: CBS (common blocks, integer) and
  JS (Jaccard of block sets). Weighted-edge pruning keeps edges at or
  above the mean weight, compared in *integer* arithmetic
  (``w·|E| ≥ Σw``) so the cut is exact and engine-portable.

Scale notes (the 100 TB story):
- u-estimation never touches pairs — it's ``groupBy(field).count`` with
  partial aggregation, collected as ONE scalar per field.
- token blocking purges oversized blocks *before* the self-join (block
  purging), bounding the pair expansion at ``max_block²`` per token;
  the CBS aggregation is one shuffle on the (a,b) pair key.
- the WEP threshold is a 1-row aggregate cross-joined back via
  broadcast — no driver round-trip, no second shuffle of the edges.
- every double in scored output is a single IEEE division/product chain
  of exactly-representable operands, so results are bit-identical across
  Spark, DuckDB and numpy (hash-stable for the correctness driver).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Fellegi–Sunter
# ---------------------------------------------------------------------------

def u_probabilities(df: DataFrame, fields: Sequence[str]) -> dict[str, float]:
    """Random-agreement probability per field: the chance two rows drawn
    independently agree on the field, ``u_f = Σ_v n_v² / N²`` (nulls
    never agree). One aggregate per field, each a partial-agg groupBy
    that collects exactly one scalar — never enumerates pairs, so it
    costs the same at 10^12 rows as the table scan itself."""
    n = df.count()
    if n == 0:
        return {f: 0.0 for f in fields}
    out: dict[str, float] = {}
    for f_ in fields:
        s = (
            df.where(F.col(f_).isNotNull())
            .groupBy(f_)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.sum(F.col("c") * F.col("c")).alias("s"))
            .collect()[0]["s"]
        )
        out[f_] = (s or 0) / (n * n)  # exact ints → one IEEE division
    return out


def agreement_vector(
    fields: Sequence[str], a_prefix: str = "a_", b_prefix: str = "b_"
) -> list[Column]:
    """Per-field agreement γ_i as 0/1 ints. Null-safe: a null on either
    side is a disagreement (classic FS convention — missing data carries
    no agreement evidence). Pure codegen comparisons."""
    return [
        (
            F.col(a_prefix + f_).isNotNull()
            & F.col(b_prefix + f_).isNotNull()
            & (F.col(a_prefix + f_) == F.col(b_prefix + f_))
        )
        .cast("int")
        .alias("g_" + f_)
        for f_ in fields
    ]


def fs_likelihood_ratio(
    fields: Sequence[str], m: dict[str, float], u: dict[str, float]
) -> Column:
    """Composite likelihood ratio as a left-associated product of
    per-field CASE weights. Each weight is an exact Python-side IEEE
    division of literals (``m/u`` or ``(1-m)/(1-u)``), so the whole
    column stays in whole-stage codegen and is bit-reproducible by any
    engine that evaluates the same left-assoc double product."""
    ratio: Column | None = None
    for f_ in fields:
        w_agree = m[f_] / u[f_]
        w_disagree = (1.0 - m[f_]) / (1.0 - u[f_])
        w = F.when(F.col("g_" + f_) == 1, F.lit(w_agree)).otherwise(
            F.lit(w_disagree)
        )
        ratio = w if ratio is None else ratio * w
    assert ratio is not None, "fields must be non-empty"
    return ratio


def fs_score_pairs(
    pairs: DataFrame,
    fields: Sequence[str],
    m: dict[str, float],
    u: dict[str, float],
    upper: float = 100.0,
    lower: float = 1.0,
) -> DataFrame:
    """Score candidate pairs (columns ``a_<f>``/``b_<f>`` per field):
    append γ_i columns, the integer pattern id (field order = bit order,
    first field = MSB), the likelihood ratio, and the three-way
    Fellegi–Sunter decision (match / possible / nonmatch) against the
    ratio thresholds. Everything is codegen — no UDF, no shuffle beyond
    whatever produced ``pairs``."""
    out = pairs.select("*", *agreement_vector(fields))
    pattern: Column = F.lit(0)
    for f_ in fields:
        pattern = pattern * 2 + F.col("g_" + f_)
    lr = fs_likelihood_ratio(fields, m, u)
    return out.select(
        "*",
        pattern.cast("int").alias("pattern"),
        lr.alias("lr"),
        F.when(lr >= F.lit(upper), F.lit("match"))
        .when(lr >= F.lit(lower), F.lit("possible"))
        .otherwise(F.lit("nonmatch"))
        .alias("decision"),
    )


def fs_pattern_counts(scored: DataFrame, fields: Sequence[str]) -> DataFrame:
    """Collapse scored pairs to (γ-pattern, count) — the sufficient
    statistic for EM. ≤2^k rows whatever the pair count, which is what
    makes driver-side EM the *right* architecture at scale: the cluster
    does one partial-agg groupBy; the driver iterates over a tiny
    table."""
    return scored.groupBy(*["g_" + f_ for f_ in fields]).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


def em_fit(
    patterns: list[tuple[tuple[int, ...], int]],
    n_fields: int,
    m0: float = 0.9,
    u0: float = 0.1,
    p0: float = 0.1,
    n_iter: int = 50,
    eps: float = 1e-6,
) -> tuple[list[float], list[float], float]:
    """Classic conditional-independence EM for (m, u, p) over γ-pattern
    counts (Winkler 1988 formulation). Input is the output of
    :func:`fs_pattern_counts` collected to the driver — a ≤2^k-row list
    of ``(gamma_tuple, count)``. Deterministic: fixed init, fixed
    iteration count, pure float arithmetic.

    Returns (m per field, u per field, match prevalence p)."""
    m = [m0] * n_fields
    u = [u0] * n_fields
    p = p0
    clamp = lambda x: min(1.0 - eps, max(eps, x))  # noqa: E731
    for _ in range(n_iter):
        sw = 0.0          # Σ c·w       (expected matched pairs)
        sc = 0.0          # Σ c
        swg = [0.0] * n_fields   # Σ c·w·γ_i
        sng = [0.0] * n_fields   # Σ c·(1-w)·γ_i
        sn = 0.0          # Σ c·(1-w)
        for gamma, c in patterns:
            pm = p
            pu = 1.0 - p
            for i in range(n_fields):
                pm *= m[i] if gamma[i] else (1.0 - m[i])
                pu *= u[i] if gamma[i] else (1.0 - u[i])
            w = pm / (pm + pu) if (pm + pu) > 0 else 0.0
            sw += c * w
            sn += c * (1.0 - w)
            sc += c
            for i in range(n_fields):
                if gamma[i]:
                    swg[i] += c * w
                    sng[i] += c * (1.0 - w)
        if sc == 0:
            break
        m = [clamp(swg[i] / sw) if sw > 0 else m[i] for i in range(n_fields)]
        u = [clamp(sng[i] / sn) if sn > 0 else u[i] for i in range(n_fields)]
        p = clamp(sw / sc)
    return m, u, p


# ---------------------------------------------------------------------------
# Meta-blocking (Papadakis et al.)
# ---------------------------------------------------------------------------

def token_blocks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_block: int = 50,
    prefix_chars: int | None = None,
) -> DataFrame:
    """Redundant token blocking: one block per distinct token, posting
    list (token, id). Block *purging* drops singleton blocks (no pair)
    and blocks larger than ``max_block`` (stop-word tokens whose pair
    expansion is quadratic noise) BEFORE any self-join — the standard
    Papadakis pre-filter that bounds downstream work at max_block² per
    token. Tokenization is a plain single-space split (matches the
    synth corpus and DuckDB's string_split for oracle parity)."""
    t = F.col(text_col)
    if prefix_chars is not None:
        t = F.substring(t, 1, prefix_chars)
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(F.split(t, " "))).alias("token"),
    ).where(F.col("token") != "")
    w = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("_bsize"))
        .where((F.col("_bsize") >= 2) & (F.col("_bsize") <= max_block))
    )
    # inner join back: keeps only purged-in tokens; broadcast-sized at
    # small SF, shuffle-hash on the token key at scale (both sides are
    # already slim (token, id) / (token) projections)
    return toks.join(w.select("token"), "token")


def cbs_edges(blocks: DataFrame) -> DataFrame:
    """Blocking-graph edges weighted by CBS (common-block count) and JS
    (Jaccard of the two records' block sets). One self-join per token
    (bounded by block purging) + one shuffle on the (a,b) pair key; the
    per-id block counts ride a second slim aggregate joined back on the
    ids. Output: (id_a, id_b, cbs, js) with id_a < id_b; js is a single
    integer division → bit-identical across engines."""
    a = blocks.select(F.col("token"), F.col("_id").alias("id_a"))
    b = blocks.select(F.col("token"), F.col("_id").alias("id_b"))
    pairs = (
        a.join(b, "token")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("cbs"))
    )
    per_id = blocks.groupBy("_id").agg(
        F.count(F.lit(1)).cast("long").alias("nb")
    )
    return (
        pairs.join(per_id.withColumnRenamed("_id", "id_a").withColumnRenamed("nb", "nb_a"), "id_a")
        .join(per_id.withColumnRenamed("_id", "id_b").withColumnRenamed("nb", "nb_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            "cbs",
            (
                F.col("cbs").cast("double")
                / (F.col("nb_a") + F.col("nb_b") - F.col("cbs"))
            ).alias("js"),
        )
    )


def weighted_edge_pruning(edges: DataFrame, weight_col: str = "cbs") -> DataFrame:
    """WEP: keep edges whose weight ≥ the global mean weight. The mean
    is a 1-row aggregate broadcast back (no driver collect, no second
    shuffle); the comparison is done in integer cross-multiplication
    (``w·|E| ≥ Σw``) so the cut is exact — no float mean, no
    engine-dependent rounding at the boundary."""
    stats = edges.agg(
        F.sum(weight_col).cast("long").alias("_sum_w"),
        F.count(F.lit(1)).cast("long").alias("_n_e"),
    )
    return (
        edges.crossJoin(F.broadcast(stats))
        .where(F.col(weight_col) * F.col("_n_e") >= F.col("_sum_w"))
        .drop("_sum_w", "_n_e")
    )


def meta_block(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_block: int = 50,
    prefix_chars: int | None = None,
) -> DataFrame:
    """End-to-end meta-blocking: token blocking → purging → CBS/JS
    weighting → weighted-edge pruning. Returns the retained candidate
    edges (id_a, id_b, cbs, js)."""
    return weighted_edge_pruning(
        cbs_edges(token_blocks(df, id_col, text_col, max_block, prefix_chars))
    )


def expected_pattern_counts(
    m: Sequence[float], u: Sequence[float], p: float, total: int
) -> list[tuple[tuple[int, ...], int]]:
    """Exact expected γ-pattern counts under a conditional-independence
    (m, u, p) mixture — the deterministic test fixture for em_fit (no
    sampling noise, so recovery tolerances can be tight)."""
    k = len(m)
    out = []
    for code in range(2 ** k):
        gamma = tuple((code >> (k - 1 - i)) & 1 for i in range(k))
        pm = p
        pu = 1.0 - p
        for i in range(k):
            pm *= m[i] if gamma[i] else 1.0 - m[i]
            pu *= u[i] if gamma[i] else 1.0 - u[i]
        out.append((gamma, round(total * (pm + pu))))
    return out


# ---------------------------------------------------------------------------
# Canopy clustering + blocking evaluation
# ---------------------------------------------------------------------------

def canopy_assign(
    df: DataFrame,
    id_col: str,
    num_col: str,
    t1: int = 8,
    t2: int = 2,
) -> DataFrame:
    """Canopy clustering (McCallum, Nigam & Ungar, KDD 2000) over the
    cheap 1-D metric ``|Δ num_col|`` — the same size axis the
    reference's pass 1 blocks on (lib.rs:54-64) — in a deterministic,
    partitioning-invariant reformulation. The paper's greedy center
    selection is sequential (order-dependent: no reproducible
    distributed counterpart), so centers are elected by the min-id
    convention our large-star CC already uses: a record is a center iff
    NO smaller-id record lies within the tight tie t2. Every record is
    assigned to every center within the loose tie t1 (canopies overlap,
    exactly as in the paper); a record with no center in reach forms
    its own singleton canopy, so coverage is total.

    Pair generation is a banded range join, never an all-pairs cross:
    bucket width t1, probes explode to the 3 neighbor buckets, one
    shuffle on the bucket key — at 10^12 rows the work is linear in
    (rows × local density), the best possible for a radius query.

    Returns (id, canopy) — canopy is the center's id."""
    assert t2 <= t1, "tight tie must be within the loose tie"
    slim = df.select(F.col(id_col).alias("_cid"), F.col(num_col).alias("_num"))
    base = slim.withColumn("_b", F.floor(F.col("_num") / t1))
    probe = base.withColumn(
        "_pb",
        F.explode(
            F.array(F.col("_b") - 1, F.col("_b"), F.col("_b") + 1)
        ),
    ).select("_cid", "_num", "_pb")
    build = base.select(
        F.col("_cid").alias("_nid"),
        F.col("_num").alias("_nnum"),
        F.col("_b").alias("_pb"),
    )
    # directed neighbor pairs within the loose tie; a neighbor lands in
    # exactly one of the 3 probe buckets, so no dedup is needed
    pairs = (
        probe.join(build, "_pb")
        .where(
            (F.col("_nid") != F.col("_cid"))
            & (F.abs(F.col("_num") - F.col("_nnum")) <= t1)
        )
        .select("_cid", "_num", "_nid", "_nnum")
    )
    blockers = pairs.where(
        (F.abs(F.col("_num") - F.col("_nnum")) <= t2)
        & (F.col("_nid") < F.col("_cid"))
    ).select("_cid")
    centers = slim.join(blockers, "_cid", "left_anti").select(
        F.col("_cid").alias("_center")
    )
    assigned = pairs.join(
        centers, pairs["_nid"] == centers["_center"]
    ).select(F.col("_cid").alias("id"), F.col("_nid").alias("canopy"))
    self_rows = centers.select(
        F.col("_center").alias("id"), F.col("_center").alias("canopy")
    )
    covered = assigned.unionAll(self_rows)
    singletons = (
        slim.join(covered, slim["_cid"] == covered["id"], "left_anti")
        .select(F.col("_cid").alias("id"), F.col("_cid").alias("canopy"))
    )
    return covered.unionAll(singletons)


def blocking_quality(
    cand: DataFrame,
    truth: DataFrame,
    n_records: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Blocking evaluation metrics (Christen, *Data Matching*, 2012):
    pair completeness ``PC = |C∩T| / |T|``, pairs quality
    ``PQ = |C∩T| / |C|``, reduction ratio ``RR = 1 − |C| / (n(n−1)/2)``.
    Inputs are pair sets (any orientation — keys are normalized to
    (min, max) here); the intersection is one semi-join on the pair
    key. All counts are exact longs and every metric is a single IEEE
    division, so the 1-row result is bit-identical across engines."""
    def norm(df: DataFrame) -> DataFrame:
        return df.select(
            F.least(F.col(id_a), F.col(id_b)).alias("_pa"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("_pb"),
        )

    c, t = norm(cand), norm(truth)
    hit = c.join(t, ["_pa", "_pb"], "left_semi")
    total_pairs = n_records * (n_records - 1) // 2
    counts = (
        c.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
        .crossJoin(t.agg(F.count(F.lit(1)).cast("long").alias("n_truth")))
        .crossJoin(hit.agg(F.count(F.lit(1)).cast("long").alias("n_hit")))
    )
    return counts.select(
        "n_cand",
        "n_truth",
        "n_hit",
        (F.col("n_hit").cast("double") / F.col("n_truth")).alias(
            "pair_completeness"
        ),
        (F.col("n_hit").cast("double") / F.col("n_cand")).alias(
            "pairs_quality"
        ),
        (
            F.lit(1.0)
            - F.col("n_cand").cast("double") / F.lit(total_pairs).cast("double")
        ).alias("reduction_ratio"),
    )


def bcubed_per_record(
    df: DataFrame,
    id_col: str = "id",
    pred_col: str = "cluster",
    truth_col: str = "truth",
) -> DataFrame:
    """B-cubed precision/recall per record (Bagga & Baldwin 1998; the
    extended-B³ analysis is Amigó et al., Inf. Retrieval 2009): for
    record r, precision = |C(r)∩T(r)| / |C(r)| and recall =
    |C(r)∩T(r)| / |T(r)| where C is r's predicted cluster and T its
    truth cluster. Deliberately emitted PER RECORD, not averaged: the
    corpus mean is a float sum whose value depends on reduction order
    (engine- and partitioning-dependent), while per-record values are
    single integer divisions — bit-identical everywhere. Average
    downstream from the exact (overlap, csize, tsize) longs.

    Plan shape: three count aggregates — (pred,truth), (pred), (truth)
    — joined back on their keys. The size tables have one row per
    cluster, orders of magnitude smaller than the records, so the
    joins broadcast; nothing here is quadratic in cluster size."""
    base = df.select(
        F.col(id_col).alias("_rid"),
        F.col(pred_col).alias("_c"),
        F.col(truth_col).alias("_t"),
    )
    both = base.groupBy("_c", "_t").agg(
        F.count(F.lit(1)).cast("long").alias("overlap")
    )
    csize = base.groupBy("_c").agg(
        F.count(F.lit(1)).cast("long").alias("csize")
    )
    tsize = base.groupBy("_t").agg(
        F.count(F.lit(1)).cast("long").alias("tsize")
    )
    return (
        base.join(both, ["_c", "_t"])
        .join(F.broadcast(csize), "_c")
        .join(F.broadcast(tsize), "_t")
        .select(
            F.col("_rid").alias(id_col),
            "overlap",
            "csize",
            "tsize",
            (F.col("overlap").cast("double") / F.col("csize")).alias(
                "b3_precision"
            ),
            (F.col("overlap").cast("double") / F.col("tsize")).alias(
                "b3_recall"
            ),
        )
    )


def fs_frequency_lr(
    fields: Sequence[str],
    m: dict[str, float],
    u: dict[str, float],
    n_records: int,
    freq_cols: dict[str, str] | None = None,
) -> Column:
    """Winkler's frequency-based refinement of the Fellegi–Sunter
    likelihood ratio (Winkler 1988/1995): agreement on a RARE value is
    stronger evidence than agreement on a common one, so for fields in
    ``freq_cols`` the agreement weight uses the value-specific
    ``u_v = n_v² / N²`` (the chance two random records both carry THIS
    value) instead of the field-global u. ``freq_cols[f]`` names a
    column holding n_v for the pair's (agreed) value — the caller joins
    it from a ``groupBy(f).count()`` table, one slim value-keyed join.
    Disagreement still uses the global u (a mismatch carries no
    value-specific information). Every factor remains a short chain of
    IEEE ops on exactly-representable operands — engine-portable like
    the unweighted form."""
    freq_cols = freq_cols or {}
    nn = n_records * n_records
    ratio: Column | None = None
    for f_ in fields:
        w_disagree = F.lit((1.0 - m[f_]) / (1.0 - u[f_]))
        if f_ in freq_cols:
            nv = F.col(freq_cols[f_])
            w_agree = F.lit(m[f_]) / ((nv * nv) / F.lit(nn))
        else:
            w_agree = F.lit(m[f_] / u[f_])
        w = F.when(F.col("g_" + f_) == 1, w_agree).otherwise(w_disagree)
        ratio = w if ratio is None else ratio * w
    assert ratio is not None, "fields must be non-empty"
    return ratio


def pr_curve(
    scored: DataFrame,
    truth: DataFrame,
    thresholds: Sequence[float],
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "score",
) -> DataFrame:
    """→ (threshold, tp, fp, fn, precision, recall, f1): pair-level
    precision/recall at every cut of a threshold grid — the dial a
    deployment turns to trade recall for precision before committing a
    match threshold (Christen, *Data Matching*, 2012, §7.2).

    ``scored`` is the match candidates with their similarity;
    ``truth`` is the labeled positive-pair set. Orientation is
    normalized to (min, max) on both inputs. A truth pair the scorer
    never emitted is a false negative at EVERY threshold (it joins in
    with a NULL score); a scored pair not in truth is a false positive
    wherever score ≥ t. ``precision`` is defined 1.0 when nothing is
    predicted (tp+fp = 0, the vacuous cut).

    Scale shape: ONE full-outer join on the normalized pair key, ONE
    aggregate to an exact (score, is_true) → count histogram — the
    only pass over pair-sized data — then the tiny histogram
    cross-joins the broadcast grid and reduces to |grid| rows. Counts
    are exact longs; each metric is a single IEEE division (f1 from
    the two), bit-identical across engines."""
    def norm(df: DataFrame, cols) -> DataFrame:
        return df.select(
            F.least(F.col(id_a), F.col(id_b)).alias("_pa"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("_pb"),
            *cols,
        )

    s = norm(scored, [F.col(score_col).alias("_score")])
    t = norm(truth, [F.lit(True).alias("_true")])
    hist = (
        s.join(t, ["_pa", "_pb"], "full_outer")
        .groupBy(
            F.col("_score").alias("score"),
            F.coalesce(F.col("_true"), F.lit(False)).alias("is_true"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    spark = scored.sparkSession
    grid = spark.createDataFrame(
        [(float(x),) for x in thresholds], "threshold double"
    )
    pred = F.col("score").isNotNull() & (F.col("score") >= F.col("threshold"))
    agg = (
        hist.crossJoin(F.broadcast(grid))
        .groupBy("threshold")
        .agg(
            F.sum(F.when(pred & F.col("is_true"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when(pred & ~F.col("is_true"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("fp"),
            F.sum(F.when(~pred & F.col("is_true"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("fn"),
        )
    )
    prec = F.when(F.col("tp") + F.col("fp") == 0, F.lit(1.0)).otherwise(
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))
    )
    # same guard class as precision: an empty truth set (tp+fn=0) is
    # vacuous recall 1.0, not a DIVIDE_BY_ZERO under ANSI
    rec = F.when(F.col("tp") + F.col("fn") == 0, F.lit(1.0)).otherwise(
        F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))
    )
    return agg.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        prec.alias("precision"),
        rec.alias("recall"),
        F.when(
            F.col("tp") == 0, F.lit(0.0)
        ).otherwise(
            2.0
            * F.col("tp").cast("double")
            / (2.0 * F.col("tp") + F.col("fp") + F.col("fn"))
        ).alias("f1"),
    )
