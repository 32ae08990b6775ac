"""Corpus-level token statistics: TF-IDF salience + unigram LM."""

from __future__ import annotations

import math

import pytest

from dedupe_algo_spark.operators.corpus_stats import (
    document_frequency,
    tfidf_topk,
    unigram_lm_quality,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_document_frequency_distinct_docs(spark):
    docs = _df(spark, [(1, "a a b"), (2, "b c"), (3, "C c")])
    out = dict(
        map(tuple, document_frequency(docs).toPandas()[["token", "df"]].values)
    )
    # lowercased; per-DISTINCT-doc: 'a' once despite two occurrences
    assert out == {"a": 1, "b": 2, "c": 2}


def test_tfidf_topk_ordering_and_score(spark):
    docs = _df(
        spark,
        [
            (1, "rare rare common tie1 tie2"),
            (2, "common other words here"),
            (3, "common again more text"),
        ],
    )
    out = tfidf_topk(docs, k=3).toPandas()
    d1 = out[out.doc_id == 1].sort_values("rank")
    # tf desc first: 'rare' (tf=2); then df asc + token asc among tf=1
    # singletons (common has df=3, loses to the df=1 ties)
    assert list(d1["token"]) == ["rare", "tie1", "tie2"]
    r = d1.iloc[0]
    assert (r["tf"], r["df"]) == (2, 1)
    assert r["tfidf"] == round(2 * math.log((3 + 1) / (1 + 1)), 6)


def test_unigram_lm_quality_reference_exact(spark):
    """Cross-entropy equals the closed-form reference on a corpus small
    enough to hand-compute; rare-token docs score strictly higher."""
    docs = _df(
        spark,
        [
            (1, "the the the"),
            (2, "the zzz"),
        ],
    )
    # corpus counts: the=4, zzz=1, T=5
    out = (
        unigram_lm_quality(docs).toPandas().set_index("doc_id").sort_index()
    )
    ce1 = math.log2(5) - math.log2(4)
    ce2 = math.log2(5) - (math.log2(4) + math.log2(1)) / 2
    assert abs(out.loc[1, "cross_entropy"] - ce1) < 1e-9
    assert abs(out.loc[2, "cross_entropy"] - ce2) < 1e-9
    assert out.loc[2, "cross_entropy"] > out.loc[1, "cross_entropy"]
    assert list(out["n_tokens"]) == [3, 2]


def test_empty_docs_excluded(spark):
    docs = _df(spark, [(1, "words here"), (2, ""), (3, "   ")])
    out = unigram_lm_quality(docs).toPandas()
    assert sorted(out["doc_id"]) == [1]
    top = tfidf_topk(docs, k=2).toPandas()
    assert sorted(set(top["doc_id"])) == [1]


def test_bigram_lm_quality_reference_exact(spark):
    """Cross-entropy equals a pure-Python reference model on a corpus
    small enough to enumerate; single-token and empty docs are absent."""
    from collections import Counter

    from dedupe_algo_spark.operators.corpus_stats import bigram_lm_quality

    docs = _df(
        spark,
        [
            (1, "the cat sat"),
            (2, "the cat ran"),
            (3, "ran The  the"),
            (4, "solo"),
            (5, "   "),
        ],
    )
    out = {
        r["doc_id"]: (r["n_bigrams"], r["cross_entropy"])
        for r in bigram_lm_quality(docs).collect()
    }

    texts = {1: "the cat sat", 2: "the cat ran", 3: "ran the  the"}
    toks = {i: t.lower().split() for i, t in texts.items()}
    bigrams = {i: list(zip(ts, ts[1:])) for i, ts in toks.items()}
    c12 = Counter(b for bs in bigrams.values() for b in bs)
    c1 = Counter(b[0] for bs in bigrams.values() for b in bs)
    vocab = {w for ts in toks.values() for w in ts} | {"solo"}
    v = float(len(vocab))

    assert set(out) == {1, 2, 3}  # doc 4 has no bigrams, doc 5 no tokens
    for i, bs in bigrams.items():
        h = -sum(
            math.log2((c12[b] + 1) / (c1[b[0]] + v)) for b in bs
        ) / len(bs)
        assert out[i][0] == len(bs)
        assert abs(out[i][1] - h) < 1e-9


def test_bigram_lm_orders_scrambled_below_natural(spark):
    """The property the operator exists for: a word-order scramble of
    in-distribution text (identical token multiset — invisible to the
    unigram model) scores strictly worse under the bigram model."""
    from dedupe_algo_spark.operators.corpus_stats import bigram_lm_quality

    base = [(i, "the quick brown fox jumps over the lazy dog") for i in range(10)]
    docs = _df(spark, base + [(99, "dog the lazy fox the quick jumps brown over")])
    out = {r["doc_id"]: r["cross_entropy"] for r in bigram_lm_quality(docs).collect()}
    assert out[99] > out[0]
    # unigram cannot separate them: same multiset, same corpus counts
    uni = {r["doc_id"]: r["cross_entropy"] for r in unigram_lm_quality(docs).collect()}
    assert abs(uni[99] - uni[0]) < 1e-9


def test_tfidf_cosine_pairs_hand_values(spark):
    from dedupe_algo_spark.operators.corpus_stats import tfidf_cosine_pairs

    docs = _df(
        spark,
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamma"),   # identical to 1 → cosine 1.0
            (3, "delta epsilon zeta"), # disjoint from 1 → cosine 0.0
            (4, "alpha beta nu"),      # partial overlap with 1
            (5, "   "),                # token-less → pairs drop
        ],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5)], "id_a bigint, id_b bigint"
    )
    out = {
        (r.id_a, r.id_b): r.cosine
        for r in tfidf_cosine_pairs(docs, pairs).collect()
    }
    assert out[(1, 2)] == 1.0
    assert out[(1, 3)] == 0.0
    assert (1, 5) not in out  # zero vector: cosine undefined, dropped
    # hand value for (1,4): w = tf·ln((N+1)/(df+1)), N=5
    import math

    def w(df_):
        return math.log(6.0 / (df_ + 1))

    # doc1: alpha(df3) beta(df3) gamma(df2); doc4: alpha beta nu(df1)
    dot = w(3) ** 2 + w(3) ** 2
    na = 2 * w(3) ** 2 + w(2) ** 2
    nb = 2 * w(3) ** 2 + w(1) ** 2
    assert abs(out[(1, 4)] - dot / math.sqrt(na * nb)) < 1e-6


def test_tfidf_weights_hand_values(spark):
    """w = tf·ln((N+1)/(df+1)) per (doc, token), each token keyed by
    the xxhash64 of its lowercased string: equal strings share one id
    across documents."""
    from pyspark.sql import functions as F

    from dedupe_algo_spark.operators.corpus_stats import tfidf_weights

    docs = _df(spark, [(1, "a A b"), (2, "b c")])  # N=2; df: a 1, b 2, c 1
    got = {(r.doc_id, r.token): r.w for r in tfidf_weights(docs).collect()}
    ids = spark.range(1).select(
        *(F.xxhash64(F.lit(t)).alias(t) for t in "abc")
    ).first()
    lw = math.log(3 / 2)
    assert got == pytest.approx(
        {(1, ids.a): 2 * lw, (1, ids.b): 0.0, (2, ids.b): 0.0, (2, ids.c): lw}
    )


def test_weighted_jaccard_hand_values(spark):
    from dedupe_algo_spark.operators.corpus_stats import (
        weighted_jaccard_pairs,
    )

    docs = _df(
        spark,
        [
            (1, "a a a b"),
            (2, "a b b"),
            (3, "a b"),      # set-identical to 2's support, diff counts
            (4, ""),
            (5, "  "),
            (6, "c"),
        ],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (4, 6)], "id_a bigint, id_b bigint"
    )
    out = {
        (r.id_a, r.id_b): r.wjaccard
        for r in weighted_jaccard_pairs(docs, pairs).collect()
    }
    # (1,2): min(3,1)+min(1,2)=2; union=4+3-2=5
    assert out[(1, 2)] == 2 / 5
    # (2,3): min(1,1)+min(2,1)=2; union=3+2-2=3 — counts matter:
    # set Jaccard would say 1.0
    assert out[(2, 3)] == 2 / 3
    assert out[(4, 5)] == 1.0  # both empty → identical
    assert out[(4, 6)] == 0.0  # empty vs non-empty


def test_explain_pairs_ranks_rarest_shared(spark):
    from dedupe_algo_spark.operators.corpus_stats import explain_pairs

    docs = _df(
        spark,
        [
            (1, "common rare1 rare2 filler1"),
            (2, "common rare1 rare2 filler2"),
            (3, "common other stuff here"),
            (4, "common more words again"),
        ],
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    out = explain_pairs(docs, pairs, k=2).collect()
    got = [(r.rank, r.token, r.df) for r in sorted(out, key=lambda r: r.rank)]
    # shared = {common(df4), rare1(df2), rare2(df2)}; rarest two win,
    # token asc breaks the df tie
    assert got == [(1, "rare1", 2), (2, "rare2", 2)]
