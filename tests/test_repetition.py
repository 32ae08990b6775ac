"""Gopher repetition signals, substring-span removal, URL canonicalization.

Hand-computed truths (including the Java-``\\s``/``trim`` tokenizer edges
and the UTF-8 tie-break) plus a DuckDB cross-check of the repetition
signals at the synthetic corpus's real document lengths.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from dedupe_algo_spark.operators.repetition import (
    repetition_filter,
    repetition_signals,
)
from dedupe_algo_spark.operators.spans import remove_duplicate_spans


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


REP_DOCS = [
    # "a b a b a" : tokens=5, distinct=2 -> dup=3; bigrams a b(x2), b a(x2)
    # tie at cnt=2 -> lexicographically larger gram "b a"; no dup 5-gram
    # (only one 5-gram exists).
    (1, "a b a b a"),
    # 6 tokens, one repeated 5-gram "x y z w v" (sites 1 and 2? no —
    # "x y z w v x" has 5-grams "x y z w v" and "y z w v x": no dups).
    (2, "x y z w v x"),
    # every token identical: dup 5-grams everywhere. tokens=7,
    # grams5 = "q q q q q" x3 -> dup chars = 3*9=27; top bigram
    # "q q" cnt 6; dup words 6.
    (3, "q q q q q q q"),
    # short doc: 1 token — no bigram, no 5-gram.
    (4, "solo"),
    # unicode + leading/trailing whitespace
    (5, "  héllo wörld héllo wörld  "),
]


def test_repetition_signals_hand_truth(spark):
    out = {
        r["doc_id"]: r.asDict()
        for r in repetition_signals(_docs(spark, REP_DOCS)).collect()
    }
    d1 = out[1]
    assert (d1["n_tokens"], d1["n_dup_tokens"]) == (5, 3)
    assert (d1["top_bigram"], d1["top_bigram_count"]) == ("b a", 2)
    assert d1["dup_5gram_chars"] == 0
    d3 = out[3]
    assert (d3["n_tokens"], d3["n_dup_tokens"]) == (7, 6)
    assert (d3["top_bigram"], d3["top_bigram_count"]) == ("q q", 6)
    assert d3["dup_5gram_chars"] == 27  # 3 occurrences x 9 chars
    d4 = out[4]
    assert d4["top_bigram"] is None and d4["top_bigram_count"] == 0
    assert d4["dup_5gram_chars"] == 0 and d4["n_dup_tokens"] == 0
    d5 = out[5]
    assert d5["n_tokens"] == 4 and d5["n_dup_tokens"] == 2
    assert d5["n_chars"] == len("héllo wörld héllo wörld")


def test_repetition_signals_tokenizer_edges(spark):
    docs = _docs(
        spark,
        [
            (9, ""),
            # Java \s+ boundary set [ \t\n\x0B\f\r]: tab/VT/CR split,
            # U+00A0/U+2009 (unicode whitespace) must NOT split, and a
            # leading \t / trailing \n survive trim (0x20-only) as empty
            # edge tokens
            (10, "\ta b\x0bc\rd e f g h a b\n"),
            (11, None),
            # tie-break between multibyte grams: UTF-8 byte order ==
            # code-point order, so "ü b" (U+00FC) beats "é a" (U+00E9)
            (12, "é a é a ü b ü b"),
        ],
    )
    out = {
        r["doc_id"]: tuple(r)[1:]
        for r in repetition_signals(docs).collect()
    }
    # (n_chars, n_tokens, n_dup_tokens, top_bigram, top_bigram_count,
    #  dup_5gram_chars)
    assert out[9] == (0, 1, 0, None, 0, 0)  # "" splits to [""]
    # tokens ["", a, b, c, d, "e\u00a0f", "g\u2009h", a, b, ""]: 7 distinct
    assert out[10] == (21, 10, 3, "a b", 2, 0)
    assert out[11] == (None, None, None, None, 0, 0)
    assert out[12] == (15, 8, 4, "ü b", 2, 0)


def test_repetition_signals_match_duckdb_at_synth_lengths(spark):
    # the synthetic corpus's real length profile (~530-token mean),
    # checked against the DuckDB twin of the rep_signals query
    import duckdb

    from dedupe_algo_spark.queries import SQL_REP_SIGNALS
    from dedupe_algo_spark.synth import synth_pages

    docs = synth_pages(spark, 300).select(
        F.col("url").alias("doc_id"), "text"
    )
    pdf = docs.toPandas()
    # RE2's \s lacks \x0B (Java's has it): the twin only agrees on
    # texts without one
    assert not pdf["text"].str.contains("\x0b").any()
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(con.execute(SQL_REP_SIGNALS).fetchall())
    got = sorted(tuple(r) for r in repetition_signals(docs).collect())
    assert len(got) == 300
    assert got == want


def test_repetition_filter_bitmask(spark):
    sig = repetition_signals(_docs(spark, REP_DOCS))
    out = {r["doc_id"]: r.asDict() for r in repetition_filter(sig).collect()}
    # doc 3 fails every cap: 6/7 dup words, "q q" covers 18/13 chars
    # (overlap-counted), dup-5-gram chars 27/13.
    assert out[3] == {"doc_id": 3, "keep": False, "fail_mask": 7}
    assert out[4] == {"doc_id": 4, "keep": True, "fail_mask": 0}
    # doc 1: dup words 3/5 = 0.6 < 0.63 ok; top bigram "b a" covers
    # 2*3=6 of 9 chars > 0.20 -> bit 2 fires; no dup 5-grams.
    assert out[1] == {"doc_id": 1, "keep": False, "fail_mask": 2}


def test_remove_duplicate_spans_hand_truth(spark):
    docs = _docs(
        spark,
        [
            (1, "a b c d e tail one"),
            (2, "lead a b c d e x"),
            (3, "totally unrelated words here now"),
        ],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in remove_duplicate_spans(docs, n=5, min_docs=2).collect()
    }
    # shared 5-gram "a b c d e" covers positions 1-5 in doc1, 2-6 in doc2
    assert out[1] == {
        "doc_id": 1, "n_tokens": 7, "n_removed": 5, "kept_text": "tail one",
    }
    assert out[2] == {
        "doc_id": 2, "n_tokens": 7, "n_removed": 5, "kept_text": "lead x",
    }
    assert out[3]["n_removed"] == 0
    assert out[3]["kept_text"] == "totally unrelated words here now"


def test_remove_duplicate_spans_full_removal(spark):
    docs = _docs(spark, [(1, "a b c d e"), (2, "a b c d e")])
    out = {r["doc_id"]: r.asDict() for r in
           remove_duplicate_spans(docs, n=5, min_docs=2).collect()}
    for d in (1, 2):
        assert out[d]["n_removed"] == 5 and out[d]["kept_text"] == ""


def test_canonical_url_cases(spark):
    from dedupe_algo_spark.functions.urls import canonical_url

    cases = [
        ("https://Example.COM/p/1", "https://example.com/p/1"),
        ("HTTPS://WWW.EXAMPLE.COM/p/1#frag", "https://example.com/p/1"),
        ("https://example.com:443/p/1/", "https://example.com/p/1"),
        ("http://example.com:80/", "http://example.com"),
        # non-default port, query string, and scheme all preserved
        ("http://example.com:8080/a?b=1&a=2", "http://example.com:8080/a?b=1&a=2"),
        ("https://example.com/a?b=1#c", "https://example.com/a?b=1"),
        ("http://example.com/p/1", "http://example.com/p/1"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "raw string")
    got = [
        r["c"]
        for r in df.select(canonical_url(F.col("raw")).alias("c")).collect()
    ]
    assert got == [want for _, want in cases]
