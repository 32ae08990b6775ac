"""Scalar/signature functions: domains, simhash, minhash, similarity."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedupe_algo_spark.functions.minhash import (
    estimate_jaccard,
    minhash_signature,
)
from dedupe_algo_spark.functions.simhash import simhash64
from dedupe_algo_spark.functions.urls import registered_domain


@pytest.mark.parametrize(
    "url,expected",
    [
        ("https://www.site001.com/p/1", "site001.com"),
        ("https://news.site060.org/x", "site060.org"),
        ("https://site008.co.uk/y", "site008.co.uk"),
        ("https://a.b.site009.net/z", "site009.net"),
        ("http://localhost/z", "localhost"),
        ("https://deep.a.b.site008.co.uk/y", "site008.co.uk"),
    ],
)
def test_registered_domain(spark, url, expected):
    got = (
        spark.createDataFrame([(url,)], "url string")
        .select(registered_domain(F.col("url")).alias("d"))
        .collect()[0]["d"]
    )
    assert got == expected


def test_simhash_deterministic_and_locality():
    t = "the quick brown fox jumps over the lazy dog " * 20
    assert simhash64(t) == simhash64(t)
    mutated = t.replace("quick", "rapid", 1)
    different = "completely unrelated words " * 30
    h0, h1, h2 = simhash64(t), simhash64(mutated), simhash64(different)
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")  # noqa: E731
    assert ham(h0, h1) < ham(h0, h2)
    assert ham(h0, h1) <= 8


def test_minhash_estimates_jaccard():
    a = " ".join(f"tok{i}" for i in range(200))
    b = " ".join(f"tok{i}" for i in range(180)) + " " + " ".join(
        f"other{i}" for i in range(20)
    )
    sig_a, sig_b = minhash_signature(a), minhash_signature(b)
    est = estimate_jaccard(sig_a, sig_b)
    # true shingle jaccard ≈ 0.8 on 3-shingles ≈ (178/222) ≈ 0.80→ broad band
    assert 0.5 < est < 0.95
    assert estimate_jaccard(sig_a, sig_a) == 1.0


def test_minhash_band_keys_fold():
    from dedupe_algo_spark.functions.minhash import (
        LSH_BANDS,
        minhash_band_keys,
        minhash_signature,
    )
    import numpy as np

    a = " ".join(f"tok{i}" for i in range(200))
    near = " ".join(f"tok{i}" for i in range(195)) + " zz zz zz zz zz"
    far = " ".join(f"other{i}" for i in range(200))
    ka, ka2, kn, kf = (
        minhash_band_keys(t) for t in (a, a, near, far)
    )
    assert len(ka) == LSH_BANDS
    assert (ka == ka2).all()  # deterministic
    # band key equality must mirror band-row equality of the signature
    sa = minhash_signature(a).reshape(LSH_BANDS, -1)
    sn = minhash_signature(near).reshape(LSH_BANDS, -1)
    rows_equal = (sa == sn).all(axis=1)
    assert ((ka == kn) == rows_equal).all()
    assert (ka == kn).sum() >= 2  # near-dup collides in several bands
    assert (ka == kf).sum() == 0  # unrelated text collides in none
    # band index seeds the fold: identical rows in different bands differ
    assert len(np.unique(ka)) == LSH_BANDS


def test_pair_udfs_on_dataframe(spark):
    from dedupe_algo_spark.functions.similarity import (
        levenshtein_sim_col,
        ngram_jaccard_col,
        pair_jaro_winkler_udf,
    )

    df = spark.createDataFrame(
        [
            ("abc def ghi", "abc def ghi"),
            ("abc def ghi", "abc def xyz"),
            ("abc def ghi", "zzz yyy xxx"),
        ],
        "a string, b string",
    )
    out = df.select(
        levenshtein_sim_col(F.col("a"), F.col("b")).alias("lev"),
        pair_jaro_winkler_udf("a", "b").alias("jw"),
        ngram_jaccard_col(F.col("a"), F.col("b")).alias("ng"),
    ).toPandas()
    assert out.iloc[0].tolist() == [1.0, 1.0, 1.0]
    # identical > one-token-off > disjoint, for every measure
    for c in out.columns:
        assert out[c].iloc[0] > out[c].iloc[1] > out[c].iloc[2], c


def _pyjac(a, b, n=5):
    """Driver-side reference: character n-gram set Jaccard."""
    ga = {a[i : i + n] for i in range(max(1, len(a) - n + 1))}
    gb = {b[i : i + n] for i in range(max(1, len(b) - n + 1))}
    u = len(ga | gb)
    return (len(ga & gb) / u) if u else 1.0


def test_ngram_jaccard_col_matches_python(spark):
    """The JVM-codegen n-gram Jaccard (transform/sequence/substring +
    array set ops) must equal the Python reference bit-for-bit —
    including short strings (len<5 → whole string as the single gram),
    empties, and non-ASCII (both sides count characters, not bytes)."""
    from dedupe_algo_spark.functions.similarity import ngram_jaccard_col

    df = spark.createDataFrame(
        [
            ("hello world", "hello worldx"),
            ("ab", "ab"),
            ("ab", "cd"),
            ("", ""),
            ("", "abc"),
            ("héllo wörld", "héllo wörld2"),
            ("aaaaaaa", "aaaaaab"),
            ("The quick brown fox", "The quick brown fax"),
            (None, None),
            (None, "abcdef"),
        ],
        "a string, b string",
    )
    out = df.select(
        "a",
        "b",
        ngram_jaccard_col(F.col("a"), F.col("b")).alias("col"),
    ).toPandas()
    nulls = out["a"].isna() | out["b"].isna()
    # null on either side → null (without the explicit gate the column
    # form scored null-vs-null 1.0: a phantom duplicate)
    assert out.loc[nulls, "col"].isna().all()
    ok = out[~nulls]
    for _, r in ok.iterrows():
        assert r["col"] == _pyjac(r["a"], r["b"]), (r["a"], r["b"], r["col"])
    # spot-check one exact value (11-char vs 12-char: 7 shared of 8 grams)
    assert ok["col"].iloc[0] == 0.875


def test_ngram_jaccard_fuzz_matches_python(spark):
    """400 seeded random pairs over an adversarial alphabet (ASCII,
    combining accents, NBSP/thin-space whitespace, CJK, and ASTRAL-plane
    emoji/math — Java's UTF-16 vs Python's codepoints is exactly where
    substring semantics could diverge): the JVM column form and a
    driver-side Python reference must agree bit-for-bit."""
    import random

    from dedupe_algo_spark.functions.similarity import ngram_jaccard_col

    alphabet = "ab é́  漢字\U0001f680\U0001d54a"
    rng = random.Random(0xA5EED)

    def rand_s():
        return "".join(
            rng.choice(alphabet) for _ in range(rng.randrange(0, 24))
        )

    pairs = [(rand_s(), rand_s()) for _ in range(380)]
    # near-identical pairs too (high-similarity region)
    pairs += [(s, s + rng.choice(alphabet)) for s, _ in pairs[:20]]
    df = spark.createDataFrame(pairs, "a string, b string")
    out = df.select(
        "a",
        "b",
        ngram_jaccard_col(F.col("a"), F.col("b")).alias("col"),
    ).toPandas()
    for _, r in out.iterrows():
        want = _pyjac(r["a"], r["b"])
        assert r["col"] == want, (r["a"], r["b"], want, r["col"])


def test_jaro_winkler_levenshtein_duckdb_bitwise_parity():
    """The CORRECTNESS oracle hashes stringified doubles, so our JW/Lev
    must equal DuckDB's builtins BIT-FOR-BIT (classic window, integer
    transposition division, boost gated at jaro>0.7, empties → 0.0).
    tools/jw_parity.py is the 30k-pair fuzz version of this check."""
    import duckdb
    import pandas as pd

    from dedupe_algo_spark.functions.similarity import _jaro_winkler, _levenshtein
    from tools.jw_parity import gen_pairs

    pairs = gen_pairs(2_000)
    df = pd.DataFrame(pairs, columns=["a", "b"])
    ref = duckdb.connect().execute(
        "SELECT jaro_winkler_similarity(a, b) AS jw, levenshtein(a, b) AS lev FROM df"
    ).df()
    for (a, b), jw_d, lev_d in zip(pairs, ref["jw"].values, ref["lev"].values):
        assert _jaro_winkler(a, b) == jw_d, (a, b)
        assert _levenshtein(a, b) == lev_d, (a, b)


def test_levenshtein_known_values():
    from dedupe_algo_spark.functions.similarity import _levenshtein

    assert _levenshtein("kitten", "sitting") == 3
    assert _levenshtein("", "abc") == 3
    assert _levenshtein("abc", "abc") == 0
    assert _levenshtein("flaw", "lawn") == 2


def test_jaro_winkler_known_values():
    from dedupe_algo_spark.functions.similarity import _jaro_winkler

    assert _jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-3)
    assert _jaro_winkler("DWAYNE", "DUANE") == pytest.approx(0.8400, abs=1e-2)
    assert _jaro_winkler("abc", "abc") == 1.0
    assert _jaro_winkler("abc", "xyz") == 0.0


def test_jaro_transpositions_compare_chars_not_indices():
    from dedupe_algo_spark.functions.similarity import _jaro

    # classic: 4 matches, 1 transposition over DIXON/DICKSONX
    assert _jaro("DIXON", "DICKSONX") == pytest.approx(0.7667, abs=1e-3)
    # repeated characters: matched-index disorder must not be counted
    # when the characters at those positions are equal
    assert _jaro("aabab", "abaab") == pytest.approx((1 + 1 + 4 / 5) / 3, abs=1e-9)


def test_minhash_batch_equals_per_doc():
    """The whole-batch signature/band-key hot path must be value-
    identical to the per-doc reference path, across the edge cases the
    batch code special-cases: None, empty, 1-2 tokens, normal docs."""
    import numpy as np

    from dedupe_algo_spark.functions.minhash import (
        _batch_signatures,
        _fold_bands,
        minhash_band_keys,
        minhash_signature,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        None,
        "",
        "one",
        "two tokens",
        "exactly three tokens",
        " ".join(f"w{i % 7}" for i in range(500)),
    ]
    batch = _batch_signatures(texts)
    for t, got in zip(texts, batch):
        ref = minhash_signature(t)
        if ref is None:
            assert got is None
        else:
            assert np.array_equal(got, ref), t

    live = [s for s in batch if s is not None]
    keys = _fold_bands(np.stack(live))
    refs = [minhash_band_keys(t) for t in texts if t is not None]
    for got, ref in zip(keys, refs):
        assert np.array_equal(got, ref)


def test_lsh_plan_derives_the_flagship_constants():
    """The 32x4 banding is lsh_plan's choice for the flagship's
    128-slot signature at tau=0.7, not a magic number; the S-curve
    algebra matches a direct computation and the selection rule picks
    the largest row count meeting the recall target."""
    from dedupe_algo_spark.functions.minhash import LSH_BANDS, NUM_PERM, lsh_plan

    plan = lsh_plan(NUM_PERM, tau=0.7)
    assert (plan["bands"], plan["rows"]) == (LSH_BANDS, NUM_PERM // LSH_BANDS)
    assert plan["recall_at_tau"] > 0.999
    assert abs(plan["threshold"] - (1 / 32) ** 0.25) < 1e-12

    # the S-curve values match the closed form for every factorization
    for c in plan["candidates"]:
        b, r = c["bands"], c["rows"]
        assert b * r == NUM_PERM
        assert abs(c["recall_at_tau"] - (1 - (1 - 0.7**r) ** b)) < 1e-12
    # selection is the LARGEST r meeting the target: r=8 (16 bands)
    # misses 0.95 at tau=0.7, r=4 clears it
    by_r = {c["rows"]: c for c in plan["candidates"]}
    assert by_r[8]["recall_at_tau"] < 0.95 < by_r[4]["recall_at_tau"]

    # a stricter tau moves the choice to more rows (fewer candidates)
    assert lsh_plan(NUM_PERM, tau=0.9)["rows"] > plan["rows"]

    import pytest

    with pytest.raises(ValueError):
        lsh_plan(0, 0.7)
    with pytest.raises(ValueError):
        lsh_plan(128, 1.0)


def test_canonical_url_idempotent_and_classes(spark):
    """canonical(canonical(u)) == canonical(u) over a broad grid of url
    shapes (schemes/case/www/ports/fragments/trailing slash/query), and
    equivalent spellings collapse to one key."""
    from itertools import product

    from dedupe_algo_spark.functions.urls import canonical_url

    urls = []
    for scheme, www, port, path, tail in product(
        ["http", "HTTPS", "https"],
        ["", "www.", "WWW."],
        ["", ":80", ":443", ":8080"],
        ["", "/", "/a/b", "/a/b/"],
        ["", "?q=1&b=2", "#frag", "?q=1#frag"],
    ):
        urls.append(f"{scheme}://{www}Example.COM{port}{path}{tail}")
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select(
        "url",
        canonical_url(F.col("url")).alias("c1"),
        canonical_url(canonical_url(F.col("url"))).alias("c2"),
    ).collect()
    for r in out:
        assert r.c2 == r.c1, (r.url, r.c1, r.c2)
    # equivalent spellings → identical keys
    got = {r.url: r.c1 for r in out}
    assert (
        got["https://www.Example.COM:443/a/b#frag"]
        == got["HTTPS://Example.COM/a/b/"]
        == "https://example.com/a/b"
    )
    assert got["http://Example.COM:80/"] == "http://example.com"
    assert got["http://WWW.Example.COM:8080/a/b?q=1&b=2"] == "http://example.com:8080/a/b?q=1&b=2"


def test_normalized_for_dedup_idempotent_and_collapses(spark):
    """normalized(normalized(t)) == normalized(t) over a grid of web
    mutations, and the mutations the tier exists to collapse (casing,
    counters, punctuation runs, whitespace) map to one key while real
    content edits stay distinct."""
    from dedupe_algo_spark.functions.hashing import normalized_for_dedup

    texts = [
        "Page 3 of 10 — Hello, World!",
        "page 7 of 99 :: hello world",
        "PAGE 0 OF 00\thello world",
        "Hello   World (page 1 of 2)",
        "a completely different document body",
        "héllo wörld ünïcode 42",
        "HÉLLO WÖRLD ÜNÏCODE 99",
        "", "   ", "!!!", "123",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    out = df.select(
        "t",
        normalized_for_dedup(F.col("t")).alias("n1"),
        normalized_for_dedup(normalized_for_dedup(F.col("t"))).alias("n2"),
    ).collect()
    got = {r.t: r.n1 for r in out}
    for r in out:
        assert r.n2 == r.n1, (r.t, r.n1, r.n2)
    # counter/casing/punct mutations collapse
    assert got["Page 3 of 10 — Hello, World!"] == got["page 7 of 99 :: hello world"]
    assert got["héllo wörld ünïcode 42"] == got["HÉLLO WÖRLD ÜNÏCODE 99"]
    # degenerate inputs normalize cleanly, not to each other
    assert got[""] == got["   "] == got["!!!"] == ""
    assert got["123"] == "000"
    # real content difference survives
    assert got["a completely different document body"] != got["page 7 of 99 :: hello world"]
