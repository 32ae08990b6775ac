"""Corpus-level token statistics: IDF salience and unigram-LM quality.

Two training-data operators that need a CORPUS-WIDE pass before the
per-document verdict — the pattern that separates them from the pure
narrow maps elsewhere in this package:

* **TF-IDF salient terms** — per-document top-k tokens by term
  frequency weighted against corpus document frequency. Used for
  keyword extraction, dedup-key enrichment, and topic-mix audits.
* **Unigram-LM cross-entropy** — CCNet (Wenzek et al. 2020) scores
  every paragraph with a KenLM 5-gram LM and drops the worst tail;
  the engine-level surrogate with no external model is the corpus's
  OWN unigram distribution: a document's per-token cross-entropy
  under corpus token frequencies. Gibberish and boilerplate-free
  natural text separate cleanly; the ordering is what the quality
  tail-cut consumes.
* **Bigram-LM cross-entropy** — the same perplexity-filter protocol
  one order up: a Laplace-smoothed corpus bigram model
  ``P(w2|w1) = (C(w1,w2)+1) / (C(w1)+V)``. Word-order scrambles and
  template stutter that unigram statistics cannot see (identical
  token multiset, broken transitions) surface here.

Tokens are ``functions.text.ws_tokens`` over ``lower(text)`` — the
whitespace rule the DuckDB oracles mirror — in every operator here.

Scale shape: one explode to slim ``(id, token)`` pairs (the text
column never shuffles), one groupBy(token) aggregate with map-side
partial combine for the corpus table — vocabulary-sized, i.e. tiny
relative to the corpus by Heaps' law — then one join from per-doc
term counts back to that table on the token key. The corpus scalar
(total docs / total tokens) rides a 1-row broadcast cross join. At
10^12 docs the vocab table is the natural bucketing candidate; the
join key is already the aggregate's shuffle key, so AQE reuses the
exchange. The pair scorers (``tfidf_cosine_pairs``,
``weighted_jaccard_pairs``) replace each token with its xxhash64 id
before their first aggregate, so their shuffles carry 8-byte longs,
never token strings.

Determinism contract: ranking uses INTEGER keys only (tf desc, df
asc, token asc) — float scores are reported, never sorted on, so the
top-k set is bit-stable across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import ws_tokens


def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) per occurrence, lowercased whitespace tokens; empty
    documents emit nothing."""
    return docs.select(
        F.col(id_col),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token"),
    ).where(F.col("token") != "")


def document_frequency(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """→ (token, df): distinct-document frequency of every token."""
    return (
        _tokens(docs, id_col, text_col)
        .groupBy("token")
        .agg(F.countDistinct(id_col).alias("df"))
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """→ (``id_col``, rank, token, tf, df, tfidf): each document's top-k
    salient tokens. Order: tf desc, df asc (rarer wins ties), token
    asc — a total order on integers+string, so the selection is exact;
    ``tfidf`` = round(tf · ln((N+1)/(df+1)), 6) is the reported
    smoothed score (never the sort key)."""
    toks = _tokens(docs, id_col, text_col)
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = toks.groupBy("token").agg(
        F.countDistinct(id_col).cast("long").alias("df")
    )
    n_docs = docs.select(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            id_col,
            "rank",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log((F.col("_n") + 1) / (F.col("df") + 1)), 6
            ).alias("tfidf"),
        )
    )


def unigram_lm_quality(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """→ (``id_col``, n_tokens, cross_entropy): per-document cross-
    entropy (bits/token) under the corpus's own unigram distribution,
    computed as ``log2(T) − mean(log2 c_t)`` over token OCCURRENCES
    (T = total corpus tokens, c_t = corpus count of the occurrence's
    token). Lower = more typical text; the quality cut drops the high
    tail. Empty documents are excluded (entropy undefined).

    Consumers that need a drop VERDICT should quantile-cut this column
    (``F.percentile_approx`` / ``approxQuantile``) rather than fix a
    threshold — the CCNet protocol is distribution-relative.
    """
    toks = _tokens(docs, id_col, text_col)
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    total = counts.select(F.sum("c").cast("double").alias("_t"))
    return (
        toks.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            (F.log2(F.first("_t")) - F.avg(F.log2("c"))).alias(
                "cross_entropy"
            ),
        )
    )


def _bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) per adjacent token pair, in document order. Documents
    with fewer than two tokens emit nothing (an all-whitespace or empty
    text splits to a single empty token and is excluded by the size
    gate, so no empty-token filter can shift adjacency)."""
    return (
        docs.select(F.col(id_col), ws_tokens(F.lower(F.col(text_col))).alias("_a"))
        .where(F.size("_a") >= 2)
        .select(
            id_col,
            F.explode(
                F.expr(
                    "transform(slice(_a, 1, size(_a)-1),"
                    " (w, i) -> struct(w AS w1, _a[i+1] AS w2))"
                )
            ).alias("_bg"),
        )
        .select(id_col, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    )


def bigram_lm_quality(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """→ (``id_col``, n_bigrams, cross_entropy): per-document cross-
    entropy (bits/transition) under the corpus's own Laplace-smoothed
    bigram model ``P(w2|w1) = (C(w1,w2)+1) / (C(w1)+V)``, where
    ``C(w1)`` counts w1's occurrences as a bigram CONTEXT (so the model
    normalizes per context) and ``V`` is the corpus vocabulary size.
    Documents with fewer than two tokens are excluded (no transitions).

    Scale shape: bigram occurrences are slim ``(id, w1, w2)`` rows —
    text never shuffles. The model is two aggregates (bigram counts,
    then context counts derived FROM the bigram counts, so the corpus
    is tokenized once); the context join touches only model-sized
    rows. One occurrence-side join on (w1, w2) — the model table is
    bounded by the corpus's distinct-bigram count, which grows far
    sublinearly in tokens, and at 10^12 docs it is the bucketing
    candidate exactly like the unigram table above. The vocabulary
    scalar rides a 1-row broadcast cross join.
    """
    toks = _tokens(docs, id_col, text_col)
    bigr = _bigrams(docs, id_col, text_col)
    bg_counts = bigr.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    ctx = bg_counts.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    model = bg_counts.join(ctx, "w1")
    vocab = toks.agg(F.countDistinct("token").cast("double").alias("_v"))
    return (
        bigr.join(model, ["w1", "w2"])
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (-F.avg(
                F.log2((F.col("c12") + 1) / (F.col("c1") + F.col("_v")))
            )).alias("cross_entropy"),
        )
    )


def tfidf_weights(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """→ (``id_col``, token, w): smoothed TF-IDF weight of every
    (document, token) — ``w = tf · ln((N+1)/(df+1))``, the same
    formula as :func:`tfidf_topk` so the two views can never drift.

    ``token`` is the xxhash64 id of the token string, taken BEFORE the
    tf aggregate, so every shuffle in the weighting (tf, df, and any
    downstream pair join) carries an 8-byte long instead of raw text —
    the "text never shuffles" invariant extended to token granularity.
    Weights equal those over token strings up to 2^-64 token-hash
    collisions (two distinct tokens colliding would merge their tf/df
    counts)."""
    toks = _tokens(docs, id_col, text_col).withColumn(
        "token", F.xxhash64("token")
    )
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    # tf already holds one row per (doc, token) — df is a plain count,
    # no second pass over occurrences and no countDistinct shuffle.
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).cast("double").alias("_n"))
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "token",
            (F.col("tf") * F.log((F.col("_n") + 1) / (F.col("df") + 1))).alias(
                "w"
            ),
        )
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """→ (``id_a``, ``id_b``, cosine): TF-IDF cosine similarity of each
    candidate pair — the classic lexical near-duplicate confirm
    (Broder's resemblance family's weighted cousin; Salton's vector
    model), distinct from the token-set Jaccard tier in that common
    boilerplate tokens are down-weighted by IDF, so two pages sharing
    only navigation chrome score near 0 while pages sharing rare
    content score near 1.

    Scale shape (pair-side-small, like ``confirm_pairs``): the weight
    table is restricted to pair members with a semi-join BEFORE any
    pair work, so the two pair joins and the (pair, token) dot-product
    aggregate touch only candidate rows — at 10^12 docs the candidates
    are orders of magnitude smaller than the corpus. Norms are one
    slim aggregate over the restricted weights. The dot product's
    per-pair join key is (pair, token-hash) — 16 bytes, never text.
    Pairs whose either side has no tokens are dropped (cosine
    undefined on a zero vector); pairs with no shared tokens score
    0.0. Rounded to 6 decimals: upstream weights are bit-exact (ints
    and one ln), only the sum order differs across engines (~1e-15
    relative), the same rounding contract as ``tfidf_topk``."""
    w = tfidf_weights(docs, id_col, text_col)
    members = (
        pairs.select(F.col(id_a).alias(id_col))
        .unionByName(pairs.select(F.col(id_b).alias(id_col)))
        .distinct()
    )
    w = w.join(members, id_col, "left_semi")
    norms = w.groupBy(id_col).agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    p = pairs.select(id_a, id_b)
    wa = w.select(
        F.col(id_col).alias(id_a), "token", F.col("w").alias("_wa")
    )
    wb = w.select(
        F.col(id_col).alias(id_b), "token", F.col("w").alias("_wb")
    )
    dots = (
        p.join(wa, id_a)
        .join(wb, [id_b, "token"])
        .groupBy(id_a, id_b)
        .agg(F.sum(F.col("_wa") * F.col("_wb")).alias("_dot"))
    )
    na = norms.select(F.col(id_col).alias(id_a), F.col("n2").alias("_na"))
    nb = norms.select(F.col(id_col).alias(id_b), F.col("n2").alias("_nb"))
    return (
        p.join(na, id_a)
        .join(nb, id_b)
        .join(dots, [id_a, id_b], "left")
        .select(
            id_a,
            id_b,
            # a zero norm (every token corpus-ubiquitous: df=N ⇒ idf=0)
            # scores 0.0 — NOT a divide: under ANSI Spark /0 kills the
            # job, under legacy it yields NULL and the pair silently
            # vanishes from `score >= threshold`
            F.when(
                (F.col("_na") == 0) | (F.col("_nb") == 0), F.lit(0.0)
            )
            .otherwise(
                F.round(
                    F.coalesce(F.col("_dot"), F.lit(0.0))
                    / F.sqrt(F.col("_na") * F.col("_nb")),
                    6,
                )
            )
            .alias("cosine"),
        )
    )


def weighted_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """→ (``id_a``, ``id_b``, wjaccard): exact weighted (multiset)
    Jaccard over token counts — ``Σ_t min(cA,cB) / Σ_t max(cA,cB)``
    (Ioffe, ICDM 2010 defines the measure; here it is computed
    exactly, not sketched). The set-Jaccard confirm counts a token
    once no matter how often it repeats, so a page that spams one
    phrase 100× looks identical to one that says it once — the
    weighted form scores repetition-inflated boilerplate honestly.

    Plan shape: ``Σmax = |A| + |B| − Σmin`` turns the per-pair
    full-outer token alignment into ONE inner join on shared tokens
    plus two scalar per-doc totals, all restricted to pair members
    first (pair-side-small, the ``confirm_pairs`` shape). Token
    identity is xxhash64 (8-byte shuffle rows; equal to token strings
    up to 2^-64 collisions). Integer counts make every score one exact
    division — bit-identical across engines.
    Pairs with a token-less side score 0.0 unless BOTH are token-less
    (two empty docs are identical → 1.0, matching the set-Jaccard
    convention in operators/scoring.py)."""
    toks = _tokens(docs, id_col, text_col).withColumn(
        "token", F.xxhash64("token")
    )
    members = (
        pairs.select(F.col(id_a).alias(id_col))
        .unionByName(pairs.select(F.col(id_b).alias(id_col)))
        .distinct()
    )
    tf = (
        toks.join(members, id_col, "left_semi")
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # per-doc totals from docs (not tf) so token-less members keep a
    # 0 row and the pair survives to score 0.0 / 1.0 deterministically
    totals = (
        docs.join(members, id_col, "left_semi")
        .select(
            id_col,
            F.size(F.array_remove(ws_tokens(F.lower(F.col(text_col))), ""))
            .cast("long")
            .alias("n_tok"),
        )
    )
    p = pairs.select(id_a, id_b)
    ta = tf.select(F.col(id_col).alias(id_a), "token", F.col("tf").alias("_ca"))
    tb = tf.select(F.col(id_col).alias(id_b), "token", F.col("tf").alias("_cb"))
    mins = (
        p.join(ta, id_a)
        .join(tb, [id_b, "token"])
        .groupBy(id_a, id_b)
        .agg(F.sum(F.least("_ca", "_cb")).alias("_min"))
    )
    na = totals.select(F.col(id_col).alias(id_a), F.col("n_tok").alias("_na"))
    nb = totals.select(F.col(id_col).alias(id_b), F.col("n_tok").alias("_nb"))
    union_ = F.col("_na") + F.col("_nb") - F.col("_m")
    return (
        p.join(na, id_a)
        .join(nb, id_b)
        .join(mins, [id_a, id_b], "left")
        .select(
            id_a,
            id_b,
            F.coalesce(F.col("_min"), F.lit(0)).alias("_m"),
            "_na",
            "_nb",
        )
        .select(
            id_a,
            id_b,
            F.when(union_ == 0, F.lit(1.0))
            .otherwise(F.col("_m").cast("double") / union_)
            .alias("wjaccard"),
        )
    )


def explain_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """→ (``id_a``, ``id_b``, rank, token, df): the k RAREST tokens a
    pair shares — the human-auditable "why did these two match" view a
    reviewer pulls up before trusting a merge decision. Rarity = corpus
    document frequency; rank order (df asc, token asc) is a total
    order on integer+string, so the selection is engine-exact with no
    float anywhere.

    This is the one pair operator that intentionally emits token
    STRINGS (the whole point is a human reading them), so unlike the
    scorers it shuffles distinct (id, token) rows — but only for pair
    MEMBERS (semi-join first), never the corpus, and distinct tokens
    of a page are a sliver of its text. The df model is
    ``document_frequency`` — a map-side-combinable (token, df)
    aggregate, NOT a corpus-wide distinct over (id, token) rows (that
    exchange at id granularity is exactly what this operator's
    contract forbids)."""
    dfreq = document_frequency(docs, id_col, text_col)
    members = (
        pairs.select(F.col(id_a).alias(id_col))
        .unionByName(pairs.select(F.col(id_b).alias(id_col)))
        .distinct()
    )
    mt = (
        _tokens(docs, id_col, text_col)
        .join(members, id_col, "left_semi")
        .distinct()
    )
    p = pairs.select(id_a, id_b)
    ta = mt.select(F.col(id_col).alias(id_a), "token")
    tb = mt.select(F.col(id_col).alias(id_b), "token")
    shared = p.join(ta, id_a).join(tb, [id_b, "token"])
    w = Window.partitionBy(id_a, id_b).orderBy(
        F.col("df").asc(), F.col("token").asc()
    )
    return (
        shared.join(dfreq, "token")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_a, id_b, "rank", "token", "df")
    )
