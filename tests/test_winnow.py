"""Winnowing fingerprints (operators/winnow.py): the w+k-1 guarantee,
tie rule, density, short-doc edge, plan contract."""

from __future__ import annotations

from dedupe_algo_spark.operators.winnow import winnow_fingerprints
from dedupe_algo_spark.plans import exchange_columns


def _fps(spark, docs, **kw):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = winnow_fingerprints(df, **kw).collect()
    out = {}
    for r in rows:
        out.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    return out


def test_shared_substring_guarantee(spark):
    """Any shared substring of >= w+k-1 tokens must share a fingerprint
    (the paper's correctness property)."""
    k, w = 3, 4
    shared = " ".join(f"common{i}" for i in range(k + w - 1))  # exactly w+k-1
    a = "left side words here " + shared + " tail alpha beta gamma"
    b = "totally different prefix tokens " + shared + " other suffix now"
    c = "no overlap with anything else at all whatsoever in this one"
    out = _fps(spark, [(1, a), (2, b), (3, c)], k=k, w=w)
    shared_fp = {fp for _, fp in out[1]} & {fp for _, fp in out[2]}
    assert shared_fp, "guaranteed fingerprint missing"
    assert not ({fp for _, fp in out[1]} & {fp for _, fp in out[3]})


def test_tie_rule_selects_rightmost(spark):
    """All-equal gram hashes: every window must select its RIGHTMOST
    gram (Schleimer et al. robust winnowing), giving positions
    w..n_grams with one shared hash value."""
    n, k, w = 10, 2, 3
    out = _fps(spark, [(1, " ".join(["x"] * n))], k=k, w=w)
    n_grams = n - k + 1
    positions = sorted(p for p, _ in out[1])
    assert positions == list(range(w, n_grams + 1))
    assert len({fp for _, fp in out[1]}) == 1


def test_density_and_coverage(spark):
    """Fingerprint count is a sample: at most one per window, at least
    one per w consecutive windows (every window selects something)."""
    import random

    rng = random.Random(5)
    text = " ".join(f"t{rng.randint(0, 10**9)}" for _ in range(200))
    k, w = 5, 8
    out = _fps(spark, [(1, text)], k=k, w=w)
    n_windows = (200 - k + 1) - w + 1
    assert n_windows / w <= len(out[1]) <= n_windows


def test_short_docs_emit_nothing(spark):
    k, w = 4, 3
    out = _fps(
        spark,
        [(1, " ".join(["a"] * (k + w - 2))), (2, ""), (3, "one two")],
        k=k,
        w=w,
    )
    assert out == {}


def test_plan_jvm_only_and_text_never_shuffles(spark):
    """No Python anywhere in the plan (higher-order functions are JVM
    expressions — they fall out of whole-stage codegen but never leave
    the executor JVM), and the only shuffle (the final distinct)
    carries just (doc_id, pos, fp) — never text, tokens or gram
    arrays."""
    from dedupe_algo_spark.plans import formatted_plan

    df = spark.createDataFrame(
        [(i, f"some words number {i} keep going on and on") for i in range(20)],
        "doc_id long, text string",
    )
    out = winnow_fingerprints(df)
    plan = formatted_plan(out)
    assert "EvalPython" not in plan, plan  # no Batch/ArrowEvalPython
    moved = exchange_columns(out)  # only the final distinct shuffles
    assert "text" not in moved and "_toks" not in moved and "_g" not in moved


def test_overlap_candidates_guarantee_and_cap(spark):
    from dedupe_algo_spark.operators.winnow import winnow_overlap_candidates

    k, w = 3, 4
    shared = " ".join(f"s{i}" for i in range(k + w - 1))
    docs = [
        (1, "aa bb cc dd ee " + shared),
        (2, shared + " ff gg hh ii jj"),
        (3, "completely unrelated words over here right now okay"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnow_overlap_candidates(df, k=k, w=w).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(3 not in p for p in pairs)

    # a boilerplate substring shared by EVERY doc: the guarantee window
    # inside it selects the same fingerprint in all 30 docs (the full
    # 30*29/2 junk clique uncapped); the posting cap drops that
    # fingerprint. Residual pairs can remain — adjacent windows
    # straddling each doc's unique prefix may ALSO select a boiler gram
    # in a small subset of docs (selection is per-window, so the same
    # gram's posting count differs from its occurrence count) — but the
    # quadratic clique itself is gone.
    boiler = " ".join(f"b{i}" for i in range(k + w - 1))
    many = [(i, f"unique{i}x unique{i}y unique{i}z " + boiler) for i in range(30)]
    df2 = spark.createDataFrame(many, "doc_id long, text string")
    capped = winnow_overlap_candidates(df2, k=k, w=w, max_postings=10)
    uncapped = winnow_overlap_candidates(df2, k=k, w=w, max_postings=1000)
    assert uncapped.count() == 30 * 29 // 2
    assert capped.count() <= 10 * 9 // 2  # no surviving fp exceeds the cap
