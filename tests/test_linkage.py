"""Fellegi–Sunter scoring, EM fitting, and meta-blocking."""

from __future__ import annotations

import itertools

from dedupe_algo_spark.operators.linkage import (
    cbs_edges,
    em_fit,
    expected_pattern_counts,
    fs_pattern_counts,
    fs_score_pairs,
    meta_block,
    token_blocks,
    u_probabilities,
    weighted_edge_pruning,
)


def _people(spark):
    rows = [
        (1, "ann", "smith", "nyc"),
        (2, "ann", "smith", "nyc"),
        (3, "ann", "jones", "sfo"),
        (4, "bob", "smith", None),
        (5, "bob", "jones", "nyc"),
        (6, "cat", "jones", "sfo"),
    ]
    return spark.createDataFrame(
        rows, "id int, first string, last string, city string"
    )


def test_u_probabilities_match_brute_force(spark):
    df = _people(spark)
    u = u_probabilities(df, ["first", "last", "city"])
    n = 6
    # brute force: Σ n_v² / N² over non-null values
    assert u["first"] == (3 * 3 + 2 * 2 + 1) / (n * n)
    assert u["last"] == (3 * 3 + 3 * 3) / (n * n)
    assert u["city"] == (3 * 3 + 2 * 2) / (n * n)


def _pairs(spark):
    df = _people(spark)
    a = df.select(*[df[c].alias("a_" + c) for c in df.columns])
    b = df.select(*[df[c].alias("b_" + c) for c in df.columns])
    return a.crossJoin(b).where("a_id < b_id")


def test_fs_scores_match_manual(spark):
    fields = ["first", "last", "city"]
    m = {"first": 0.95, "last": 0.9, "city": 0.8}
    u = {"first": 0.3, "last": 0.5, "city": 0.25}
    scored = {
        (r["a_id"], r["b_id"]): r
        for r in fs_score_pairs(
            _pairs(spark), fields, m, u, upper=10.0, lower=0.05
        ).collect()
    }
    assert len(scored) == 15
    rows = {
        1: ("ann", "smith", "nyc"),
        2: ("ann", "smith", "nyc"),
        3: ("ann", "jones", "sfo"),
        4: ("bob", "smith", None),
        5: ("bob", "jones", "nyc"),
        6: ("cat", "jones", "sfo"),
    }
    for (i, j), r in scored.items():
        lr = 1.0
        pattern = 0
        for k, f in enumerate(fields):
            va, vb = rows[i][k], rows[j][k]
            g = int(va is not None and vb is not None and va == vb)
            assert r["g_" + f] == g, (i, j, f)
            pattern = pattern * 2 + g
            lr = lr * ((m[f] / u[f]) if g else ((1 - m[f]) / (1 - u[f])))
        assert r["pattern"] == pattern
        assert r["lr"] == lr  # bit-exact: same left-assoc double product
    # the duplicate pair (1,2) agrees everywhere → top ratio, 'match'
    top = scored[(1, 2)]
    assert top["pattern"] == 7
    assert top["decision"] == "match"
    # null city (row 4) never agrees
    assert scored[(1, 4)]["g_city"] == 0


def test_fs_pattern_counts_are_sufficient(spark):
    fields = ["first", "last", "city"]
    m = {f: 0.9 for f in fields}
    u = {f: 0.2 for f in fields}
    scored = fs_score_pairs(_pairs(spark), fields, m, u)
    pats = fs_pattern_counts(scored, fields).collect()
    assert sum(r["n_pairs"] for r in pats) == 15
    assert len(pats) <= 8


def test_em_recovers_planted_parameters():
    m_true, u_true, p_true = [0.92, 0.85, 0.7], [0.2, 0.05, 0.3], 0.08
    pats = expected_pattern_counts(m_true, u_true, p_true, total=2_000_000)
    m, u, p = em_fit(pats, 3, n_iter=200)
    for got, want in zip(m + u + [p], m_true + u_true + [p_true]):
        assert abs(got - want) < 0.02, (m, u, p)


def _corpus(spark):
    rows = [
        (1, "red fox jumps"),
        (2, "red fox runs"),
        (3, "blue fox jumps"),
        (4, "green turtle sleeps"),
        (5, "the the the"),  # 'the' dedups to one token
    ]
    return spark.createDataFrame(rows, "id int, text string")


def test_token_blocks_purge_singletons_and_giants(spark):
    df = _corpus(spark)
    blocks = token_blocks(df, "id", "text", max_block=2)
    got = {(r["token"], r["_id"]) for r in blocks.collect()}
    # 'fox' appears in 3 docs > max_block=2 → purged; 'jumps' and 'red'
    # appear twice → kept; singletons ('runs', 'turtle', 'the', ...) → purged
    assert {t for t, _ in got} == {"jumps", "red"}
    assert ("red", 1) in got and ("red", 2) in got


def test_cbs_edges_match_brute_force(spark):
    df = _corpus(spark)
    blocks = token_blocks(df, "id", "text", max_block=10)
    edges = {(r["id_a"], r["id_b"]): (r["cbs"], r["js"]) for r in cbs_edges(blocks).collect()}
    # brute force in python
    docs = {i: set(t.split(" ")) for i, t in [r for r in df.collect()]}
    sizes = {}
    for tok in set(itertools.chain(*docs.values())):
        members = [i for i, s in docs.items() if tok in s]
        sizes[tok] = members
    kept_tokens = {t for t, ms in sizes.items() if 2 <= len(ms) <= 10}
    blocksets = {
        i: {t for t in s if t in kept_tokens} for i, s in docs.items()
    }
    want = {}
    for i, j in itertools.combinations(sorted(docs), 2):
        common = blocksets[i] & blocksets[j]
        if common:
            cbs = len(common)
            js = cbs / (len(blocksets[i]) + len(blocksets[j]) - cbs)
            want[(i, j)] = (cbs, js)
    assert edges == want


def test_wep_keeps_at_or_above_mean_exactly(spark):
    edges = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 2), (2, 3, 1)], "id_a int, id_b int, cbs long"
    )
    # mean = 2 → weight==2 is KEPT (≥, integer-exact comparison)
    kept = {(r["id_a"], r["id_b"]) for r in weighted_edge_pruning(edges).collect()}
    assert kept == {(1, 2), (1, 3)}


def test_meta_block_end_to_end(spark):
    out = meta_block(_corpus(spark), "id", "text", max_block=10)
    rows = out.collect()
    assert rows, "expected retained edges"
    # strongest edges (tied): 1-2 share {red, fox}; 1-3 share {fox, jumps}
    by_pair = {(r["id_a"], r["id_b"]): r["cbs"] for r in rows}
    assert by_pair[(1, 2)] == 2 and by_pair[(1, 3)] == 2
    # 2-3 share only 'fox' (cbs 1 < mean) → pruned by WEP
    assert (2, 3) not in by_pair
    assert set(out.columns) == {"id_a", "id_b", "cbs", "js"}


def test_canopy_centers_are_t2_min_id_records(spark):
    from dedupe_algo_spark.operators.linkage import canopy_assign

    rows = [(1, 100), (2, 101), (3, 108), (4, 130), (5, 131)]
    df = spark.createDataFrame(rows, "id int, n int")
    got = {
        (r["id"], r["canopy"])
        for r in canopy_assign(df, "id", "n", t1=8, t2=2).collect()
    }
    # centers: 1 (nothing smaller within 2), 3 (|108-101|=7 > 2),
    # 4 (nothing smaller within 2); 2 blocked by 1, 5 blocked by 4.
    # assignments within t1=8: 2→1 (Δ1), 2→3 (Δ7), 1→3 (Δ8), 3→1 (Δ8),
    # 5→4 (Δ1); centers self-assign.
    want = {
        (1, 1), (3, 3), (4, 4),      # center self rows
        (2, 1), (2, 3),              # 2 in both overlapping canopies
        (1, 3), (3, 1),              # centers inside each other's t1
        (5, 4),
    }
    assert got == want


def test_canopy_total_coverage_and_singleton(spark):
    from dedupe_algo_spark.operators.linkage import canopy_assign

    rows = [(1, 0), (2, 1000), (3, 1001)]
    df = spark.createDataFrame(rows, "id int, n int")
    out = canopy_assign(df, "id", "n", t1=8, t2=2).collect()
    ids = {r["id"] for r in out}
    assert ids == {1, 2, 3}  # every record lands in some canopy
    got = {(r["id"], r["canopy"]) for r in out}
    assert (1, 1) in got  # isolated record = its own singleton canopy


def test_canopy_partitioning_invariant(spark):
    from dedupe_algo_spark.operators.linkage import canopy_assign

    rows = [(i, (i * 17) % 50) for i in range(1, 40)]
    df = spark.createDataFrame(rows, "id int, n int")
    a = {(r["id"], r["canopy"]) for r in canopy_assign(df.repartition(1), "id", "n").collect()}
    b = {(r["id"], r["canopy"]) for r in canopy_assign(df.repartition(7), "id", "n").collect()}
    assert a == b


def test_blocking_quality_metrics_exact(spark):
    from dedupe_algo_spark.operators.linkage import blocking_quality

    cand = spark.createDataFrame(
        [(1, 2), (3, 1), (4, 5), (2, 6)], "id_a int, id_b int"
    )
    truth = spark.createDataFrame(
        [(2, 1), (5, 4), (7, 8)], "id_a int, id_b int"
    )
    r = blocking_quality(cand, truth, n_records=8).collect()[0]
    assert (r["n_cand"], r["n_truth"], r["n_hit"]) == (4, 3, 2)
    assert r["pair_completeness"] == 2 / 3
    assert r["pairs_quality"] == 2 / 4
    assert r["reduction_ratio"] == 1.0 - 4 / 28


def test_bcubed_matches_hand_computation(spark):
    from dedupe_algo_spark.operators.linkage import bcubed_per_record

    # pred clusters: {1,2,3}, {4,5}; truth: {1,2}, {3,4}, {5}
    rows = [
        (1, "a", "x"), (2, "a", "x"), (3, "a", "y"),
        (4, "b", "y"), (5, "b", "z"),
    ]
    df = spark.createDataFrame(rows, "id int, cluster string, truth string")
    got = {r["id"]: r for r in bcubed_per_record(df).collect()}
    want = {  # (overlap, csize, tsize)
        1: (2, 3, 2), 2: (2, 3, 2), 3: (1, 3, 2),
        4: (1, 2, 2), 5: (1, 2, 1),
    }
    for i, (o, c, t) in want.items():
        r = got[i]
        assert (r["overlap"], r["csize"], r["tsize"]) == (o, c, t)
        assert r["b3_precision"] == o / c
        assert r["b3_recall"] == o / t


def test_frequency_lr_rare_agreement_outweighs_common(spark):
    from dedupe_algo_spark.operators.linkage import (
        agreement_vector,
        fs_frequency_lr,
    )

    # 10 records: value 'rare' appears once-per-side, 'common' 8 times
    rows = [(1, "rare", "rare", 1), (2, "common", "common", 8)]
    pairs = spark.createDataFrame(
        rows, "pid int, a_v string, b_v string, nv long"
    ).select("*", *agreement_vector(["v"]))
    lr = fs_frequency_lr(
        ["v"], {"v": 0.9}, {"v": 0.5}, n_records=10, freq_cols={"v": "nv"}
    )
    got = {r["pid"]: r["lr"] for r in pairs.select("pid", lr.alias("lr")).collect()}
    # manual: w = m / (nv²/N²)
    assert got[1] == 0.9 / ((1 * 1) / 100)
    assert got[2] == 0.9 / ((8 * 8) / 100)
    assert got[1] > got[2]  # rare agreement is stronger evidence


def test_pr_curve_hand_counts(spark):
    from dedupe_algo_spark.operators.linkage import pr_curve

    scored = spark.createDataFrame(
        [
            (1, 2, 0.95),  # true
            (3, 4, 0.85),  # true
            (5, 6, 0.90),  # false positive at t<=0.9
            (8, 7, 0.40),  # true, reversed orientation on purpose
        ],
        "id_a bigint, id_b bigint, score double",
    )
    truth = spark.createDataFrame(
        [(1, 2), (3, 4), (7, 8), (9, 10)], "id_a bigint, id_b bigint"
    )  # (9,10) never scored → fn everywhere
    out = {
        r.threshold: r
        for r in pr_curve(scored, truth, [0.5, 0.9, 0.99]).collect()
    }
    r = out[0.9]
    assert (r.tp, r.fp, r.fn) == (1, 1, 3)
    assert r.precision == 0.5 and r.recall == 0.25
    r = out[0.5]
    assert (r.tp, r.fp, r.fn) == (2, 1, 2)
    r = out[0.99]
    assert (r.tp, r.fp, r.fn) == (0, 0, 4)
    assert r.precision == 1.0  # vacuous cut: nothing predicted
    assert r.f1 == 0.0
