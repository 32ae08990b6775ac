"""Substring-level dedup: duplicated n-gram span detection."""

from __future__ import annotations

from dedupe_algo_spark.operators.spans import duplicate_ngram_spans


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_planted_shared_span(spark):
    """Two docs sharing an exact 3-token run are flagged at every site
    of that run; unique grams are not flagged."""
    docs = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "zeta eta beta gamma delta theta"),
            (3, "iota kappa lambda"),
        ],
    )
    out = duplicate_ngram_spans(docs, n=3).toPandas()
    # the shared run "beta gamma delta" appears at pos 2 in doc 1 and
    # pos 3 in doc 2 — and nothing else is shared
    got = sorted(map(tuple, out[["doc_id", "pos", "gram"]].values))
    assert got == [
        (1, 2, "beta gamma delta"),
        (2, 3, "beta gamma delta"),
    ]
    assert (out["n_docs"] == 2).all()


def test_repeats_within_one_doc_not_flagged(spark):
    """min_docs counts DISTINCT documents: a gram repeated inside a
    single doc is not a cross-document duplicate."""
    docs = _docs(
        spark,
        [(1, "x y z q x y z"), (2, "totally different words here")],
    )
    out = duplicate_ngram_spans(docs, n=3).count()
    assert out == 0


def test_short_docs_and_empty_text(spark):
    """Docs shorter than n tokens (including empty text) emit no grams
    — the sequence() guard; they must not crash or pollute output."""
    docs = _docs(spark, [(1, "a b"), (2, ""), (3, "   "), (4, "a b")])
    assert duplicate_ngram_spans(docs, n=3).count() == 0
