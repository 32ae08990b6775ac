"""Candidate generation + scoring gates: bucket-size pruning, band
collision counts, the band gate, and the confirm stage's
text-never-shuffles property."""

from __future__ import annotations

from pyspark.sql import functions as F

from dedupe_algo_spark.operators.candidates import candidate_pairs
from dedupe_algo_spark.operators.scoring import band_gate, confirm_pairs


def _buckets(spark, rows):
    return spark.createDataFrame(rows, "bucket_key long, url string")


def _py_jaccard(a, b):
    """Driver-side reference: token-set Jaccard over Python str.split()."""
    sa, sb = set(a.split()), set(b.split())
    u = len(sa | sb)
    return len(sa & sb) / u if u else 1.0


def _py_containment(a, b):
    """Driver-side reference: |A∩B|/min(|A|,|B|); both empty → 1.0, one
    empty → 0.0."""
    sa, sb = set(a.split()), set(b.split())
    if not sa and not sb:
        return 1.0
    mn = min(len(sa), len(sb))
    return len(sa & sb) / mn if mn else 0.0


def _scores(df):
    return {(r["url_a"], r["url_b"]): r["score"] for r in df.collect()}


def test_candidate_pairs_with_counts_and_caps(spark):
    rows = (
        [(1, u) for u in ("a", "b", "c")]  # bucket 1: 3 members
        + [(2, u) for u in ("a", "b")]  # bucket 2: a,b collide again
        + [(3, "x")]  # singleton bucket: no pairs
        + [(4, f"h{i}") for i in range(10)]  # hot bucket, capped below
    )
    pairs = {
        (r["url_a"], r["url_b"]): r["n_shared"]
        for r in candidate_pairs(
            _buckets(spark, rows), max_bucket=5, with_counts=True
        ).collect()
    }
    # hot bucket (10 > 5) contributes nothing; singleton contributes nothing
    assert pairs == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}


def test_band_gate_thresholds_collision_count(spark):
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c")]
    counted = candidate_pairs(_buckets(spark, rows), with_counts=True)
    gated = {
        (r["url_a"], r["url_b"]) for r in band_gate(counted, min_matches=2).collect()
    }
    assert gated == {("a", "b")}  # (a,c) collided in only one bucket


def test_distinct_mode_unchanged(spark):
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b")]
    out = candidate_pairs(_buckets(spark, rows)).collect()
    assert [(r["url_a"], r["url_b"]) for r in out] == [("a", "b")]


def test_confirm_matches_driver_jaccard(spark, pages_1k):
    """The codegen confirm (array_intersect over 32-bit token-hash
    arrays) keeps exactly the pairs whose driver-side str.split()
    Jaccard clears the threshold, with the same scores."""
    from dedupe_algo_spark.operators.candidates import (
        bucket_table_from_bands,
        candidate_pairs,
    )
    from dedupe_algo_spark.operators.dedup import assign_exact, page_meta

    assigned = assign_exact(page_meta(pages_1k))
    rep = assigned.where(F.col("url") == F.col("rep_url")).select("url", "bands")
    cands = band_gate(
        candidate_pairs(bucket_table_from_bands(rep), with_counts=True)
    ).select("url_a", "url_b")
    text = {r["url"]: r["text"] for r in pages_1k.select("url", "text").collect()}
    want = {}
    for r in cands.collect():
        j = _py_jaccard(text[r["url_a"]], text[r["url_b"]])
        if j >= 0.5:
            want[(r["url_a"], r["url_b"])] = round(j, 9)
    got = {
        k: round(v, 9) for k, v in _scores(confirm_pairs(cands, pages_1k, 0.5)).items()
    }
    assert want and got == want


def test_confirm_tokenizer_unicode_parity(spark):
    """The confirm tokenizer must split exactly where Python str.split()
    does: Java's bare \\s+ is ASCII-only while str.split() is Unicode,
    so HTML-derived text (U+00A0 nbsp, U+2009 thin space, U+3000
    ideographic space, U+0085 NEL, U+001C file separator) would flip
    threshold decisions against the MinHash shingler, which splits in
    Python."""
    texts = [
        ("u1", "foo bar baz"),
        ("u2", "foo bar baz"),
        ("u3", "foo　barbaz qux"),
        ("u4", "foo\x1cbar\x1dbaz\x1equx\x1fzap"),
        ("u5", " foo bar baz  "),
    ]
    pages = spark.createDataFrame(texts, "url string, text string")
    pairs = [("u1", "u2"), ("u1", "u3"), ("u2", "u5"), ("u3", "u4"), ("u1", "u5")]
    got = _scores(
        confirm_pairs(
            spark.createDataFrame(pairs, "url_a string, url_b string"), pages, 0.0
        )
    )
    text = dict(texts)
    assert got == {(a, b): _py_jaccard(text[a], text[b]) for a, b in pairs}
    # ground truth: u1/u2/u5 all tokenize to {foo, bar, baz}
    assert got[("u1", "u2")] == 1.0 and got[("u2", "u5")] == 1.0


def test_confirm_pairs_never_shuffles_table_text(spark, pages_1k):
    """The pages table's text column must not ride any Exchange: the
    candidate-url set broadcasts into the semi-join, and only the carved
    slice's renamed _ta/_tb columns move pair-side."""
    from dedupe_algo_spark.plans import exchange_columns

    urls = [r["url"] for r in pages_1k.select("url").limit(2).collect()]
    pairs = spark.createDataFrame([(urls[0], urls[1])], "url_a string, url_b string")
    scored = confirm_pairs(pairs, pages_1k, threshold=0.0)
    moved = exchange_columns(scored)
    assert "text" not in moved, moved
    rows = scored.collect()
    assert len(rows) == 1 and 0.0 <= rows[0]["score"] <= 1.0


def test_tfidf_cosine_pairs_discounts_shared_boilerplate(spark):
    """Corpus-IDF-weighted cosine — identical texts score 1.0,
    boilerplate-only overlap scores BELOW its unweighted token Jaccard
    (IDF discounts tokens every doc shares), and no Exchange in the
    plan ever carries the text column."""
    from dedupe_algo_spark.operators.corpus_stats import tfidf_cosine_pairs
    from dedupe_algo_spark.plans import exchange_columns

    pages = spark.createDataFrame(
        [
            ("u1", "nav home about contact rare1 rare2"),
            ("u2", "nav home about contact rare1 rare2"),
            ("u3", "nav home about contact other3 other4"),
            ("u4", "nav home about contact misc5 misc6"),
        ],
        "url string, text string",
    )
    pairs = spark.createDataFrame(
        [("u1", "u2"), ("u1", "u3")], "url_a string, url_b string"
    )
    df = tfidf_cosine_pairs(pages, pairs, id_col="url", id_a="url_a", id_b="url_b")
    out = {(r["url_a"], r["url_b"]): r["cosine"] for r in df.collect()}
    assert out[("u1", "u2")] == 1.0
    # unweighted token Jaccard of (u1,u3) is 4/8 = 0.5; the 4 shared
    # tokens appear in ALL 4 docs (df=4 → w=ln(5/5)=0) so cosine = 0
    assert out[("u1", "u3")] == 0.0
    assert "text" not in exchange_columns(df)


def test_weighted_jaccard_pairs_counts_repetition(spark):
    """Repetition counts. u2/u3 share the same token SET but different
    multiplicities — set Jaccard says 1.0, the weighted score must
    not."""
    from dedupe_algo_spark.operators.corpus_stats import weighted_jaccard_pairs

    pages = spark.createDataFrame(
        [
            ("u1", "spam spam spam ham"),
            ("u2", "spam ham ham"),
            ("u3", "spam ham"),
        ],
        "url string, text string",
    )
    pairs = spark.createDataFrame(
        [("u1", "u2"), ("u2", "u3")], "url_a string, url_b string"
    )
    out = {
        (r["url_a"], r["url_b"]): r["wjaccard"]
        for r in weighted_jaccard_pairs(
            pages, pairs, id_col="url", id_a="url_a", id_b="url_b"
        ).collect()
    }
    assert out[("u1", "u2")] == 2 / 5
    assert out[("u2", "u3")] == 2 / 3
    jac = _scores(confirm_pairs(pairs, pages, 0.0))
    assert jac[("u2", "u3")] == 1.0  # the set score can't see counts


def _pair_texts(spark, texts, pair_list):
    return spark.createDataFrame(
        [(a, b, texts.get(a), texts.get(b)) for a, b in pair_list],
        "url_a string, url_b string, ta string, tb string",
    )


def test_token_containment_score_scores_doc_in_doc(spark):
    """|A∩B|/min(|A|,|B|) — a page embedded verbatim in a longer page
    scores 1.0 while its Jaccard sinks; scores equal the driver-side
    reference exactly."""
    from dedupe_algo_spark.operators.scoring import (
        token_containment_score,
        token_hash_array,
    )

    inner = "alpha beta gamma delta epsilon"
    texts = {
        "u1": inner,
        "u2": "header menu " + inner + " footer copyright contact",
        "u3": "totally different page about other things entirely",
    }
    pair_list = [("u1", "u2"), ("u1", "u3")]
    got = _scores(
        _pair_texts(spark, texts, pair_list).select(
            "url_a",
            "url_b",
            token_containment_score(
                token_hash_array(F.col("ta")), token_hash_array(F.col("tb"))
            ).alias("score"),
        )
    )
    assert got == {(a, b): _py_containment(texts[a], texts[b]) for a, b in pair_list}
    assert got[("u1", "u2")] == 1.0  # doc-in-doc
    assert got[("u1", "u3")] == 0.0
    # contrast: the Jaccard confirm punishes the embedded pair
    pages = spark.createDataFrame(list(texts.items()), "url string, text string")
    pairs = spark.createDataFrame(pair_list, "url_a string, url_b string")
    assert _scores(confirm_pairs(pairs, pages, 0.0))[("u1", "u2")] == 5 / 10


def test_null_text_drops_pair_on_both_paths(spark):
    """NULL text must never score NaN, which would PASS any threshold
    under Spark's NaN ordering. ``confirm_pairs`` drops a pair with a
    NULL side, and a half-present pair (u3 is absent from ``pages``)
    too, keeping the inner-join contract: it pivots to a null side in
    ``pair_value_join``. The other pair scores map NULL text to a NULL
    score: the built-in expressions (containment, levenshtein,
    ngram_jaccard), the pandas UDFs (jaro_winkler, damerau) and the
    corpus scores (tfidf, weighted_jaccard)."""
    from dedupe_algo_spark.functions.similarity import (
        levenshtein_sim_col,
        ngram_jaccard_col,
        pair_damerau_sim_udf,
        pair_jaro_winkler_udf,
    )
    from dedupe_algo_spark.operators.corpus_stats import (
        tfidf_cosine_pairs,
        weighted_jaccard_pairs,
    )
    from dedupe_algo_spark.operators.scoring import (
        token_containment_score,
        token_hash_array,
    )

    texts = {"u1": "real words here", "u2": None}
    pages = spark.createDataFrame(list(texts.items()), "url string, text string")
    pair_list = [("u1", "u2"), ("u1", "u3"), ("u3", "u2")]
    pairs = spark.createDataFrame(pair_list, "url_a string, url_b string")
    assert confirm_pairs(pairs, pages, 0.0).collect() == []
    ta, tb = F.col("ta"), F.col("tb")
    cols = {
        "containment": token_containment_score(
            token_hash_array(ta), token_hash_array(tb)
        ),
        "levenshtein": levenshtein_sim_col(ta, tb),
        "ngram_jaccard": ngram_jaccard_col(ta, tb),
        "jaro_winkler": pair_jaro_winkler_udf(ta, tb),
        "damerau": pair_damerau_sim_udf(ta, tb),
    }
    rows = _pair_texts(spark, texts, pair_list).select(
        *(c.alias(k) for k, c in cols.items())
    ).collect()
    assert [r.asDict() for r in rows] == [dict.fromkeys(cols)] * 3
    kw = dict(id_col="url", id_a="url_a", id_b="url_b")
    for name, scored in (
        ("cosine", tfidf_cosine_pairs(pages, pairs, **kw)),
        ("wjaccard", weighted_jaccard_pairs(pages, pairs, **kw)),
    ):
        assert [r[name] for r in scored.collect()] in ([], [None]), name


def test_simhash_blocking_recall_on_synth_corpus(spark, pages_1k, labels_1k):
    """SimHash band blocking (4 bands x 16 bits, exploded into
    (bucket_key, url) rows as q_simhash_candidates does): identical text
    hashes identically, so EVERY labeled exact-dup pair must share all
    four bands; the 1-5 token substitutions of the synth near copies
    flip few simhash bits, so near-dup recall should stay high while
    the candidate set stays ~pairs-of-dups-sized (no quadratic junk).
    The corpus is a pure function of (seed, index) — counts are pinned."""
    from dedupe_algo_spark.functions.simhash import simhash64_udf, simhash_bands

    bt = pages_1k.select(
        F.explode(simhash_bands(simhash64_udf(F.col("text")))).alias("bucket_key"),
        "url",
    )
    pairs = candidate_pairs(bt).cache()
    assert pairs.count() == 1216  # ~1.2 candidates/doc, not O(n^2)
    dup = labels_1k.where("is_dup")
    hit = {
        r["kind"]: r["count"]
        for r in dup.join(pairs, ["url_a", "url_b"]).groupBy("kind").count().collect()
    }
    tot = {r["kind"]: r["count"] for r in dup.groupBy("kind").count().collect()}
    assert tot == {"exact": 1014, "near": 150}
    assert hit["exact"] == 1014  # identical text => identical bands, always
    assert hit["near"] == 141  # 94% band recall on 1-5 token mutations
    pairs.unpersist()


def test_dropped_buckets_audits_exactly_the_capped_keys(spark):
    """The no-silent-truncation contract: every bucket candidate_pairs
    excludes for exceeding max_bucket appears in dropped_buckets with
    its true member count — and nothing else does."""
    from dedupe_algo_spark.operators.candidates import dropped_buckets

    rows = (
        [(1, f"h{i}") for i in range(10)]  # hot: 10 members
        + [(2, "a"), (2, "b")]  # kept pair bucket
        + [(3, "x")]  # singleton: pruned but NOT "capped"
    )
    hot = {
        (r["bucket_key"], r["n_members"])
        for r in dropped_buckets(_buckets(spark, rows), max_bucket=5).collect()
    }
    assert hot == {(1, 10)}
