"""Physical-plan property tests: pushdown, pruning, codegen, broadcast.

These encode the scale-readiness claims: a plan that reads all columns
for a 2-column projection, or evaluates the min-length filter after the
scan, would silently regress 100TB behavior while every value-level test
stays green.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dedupe_algo_spark.plans import (
    exchange_columns,
    has_broadcast_join,
    has_whole_stage_codegen,
    pushed_filters,
    scan_columns,
)

SF_DIR = "/root/testdata/sf0.001"


def test_min_length_filter_is_pushed_to_scan(spark, tmp_path):
    from dedupe_algo_spark.synth import synth_pages

    path = str(tmp_path / "pages")
    synth_pages(spark, 200).write.parquet(path)
    pages = spark.read.parquet(path)
    from dedupe_algo_spark.operators.dedup import exact_dup_assignments

    df = exact_dup_assignments(pages)
    # length(text) >= N itself can't push, but the implied IsNotNull does;
    # the projection must prune html (the widest column) from the scan.
    cols = scan_columns(df)
    assert "html" not in cols, cols
    assert "lang" not in cols, cols
    assert {"url", "text"} <= cols


def test_simple_predicate_pushdown(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.where(F.col("l_quantity") > 30).select("l_orderkey")
    pf = pushed_filters(df)
    assert "GreaterThan(l_quantity" in pf, pf
    assert scan_columns(df) == {"l_orderkey", "l_quantity"}


def test_hash_projection_stays_in_codegen(spark, pages_1k):
    # The map-side hash projection (the hot path) must be inside
    # whole-stage codegen. (The full cascade's plan is AQE-wrapped, which
    # hides codegen spans until execution, so assert on the projection.)
    from dedupe_algo_spark.functions.hashing import sha256_col

    df = pages_1k.select("url", sha256_col(F.col("text")).alias("h"))
    assert has_whole_stage_codegen(df)


def test_exact_grouping_exchange_carries_slim_meta(spark):
    # The exact-grouping window is the one shuffle before the band
    # self-join: it moves the grouping key, url and (near path) the band
    # keys, never text and no second hash. Fresh pages, so no plan
    # cached by another test is substituted into this one.
    from dedupe_algo_spark.operators.dedup import assign_exact, page_meta
    from dedupe_algo_spark.plans import exchange_column_sets

    pages = spark.createDataFrame(
        [(f"u{i}", f"page {i % 7} alpha beta gamma") for i in range(40)],
        "url string, text string",
    )
    meta = {"url", "text_len", "content_sha256"}
    assert exchange_column_sets(assign_exact(page_meta(pages))) == [
        meta | {"bands"}
    ]
    assert exchange_column_sets(
        assign_exact(page_meta(pages, with_signature=False))
    ) == [meta]


def test_bucket_table_never_shuffles_text(spark, pages_1k):
    # the text-never-shuffles invariant for the standalone bucket_table
    # (the flagship pipeline uses bucket_table_from_bands on band-key
    # columns computed map-side in page_meta): every Exchange
    # below the candidate self-join must carry only slim
    # (bucket_key, url) rows — all signature work is map-side.
    from dedupe_algo_spark.operators.candidates import bucket_table, candidate_pairs

    pairs = candidate_pairs(bucket_table(pages_1k.select("url", "text")))
    moved = exchange_columns(pairs)
    assert "text" not in moved, moved
    assert "sig" not in moved, moved
    assert "bands" not in moved, moved


def test_small_dims_broadcast(spark):
    # small dimension sides must broadcast, not shuffle (J4's
    # longest-prefix theta join over the tiny system-nodes dim)
    from dedupe_algo_spark.queries import q_prefix_theta_join

    assert has_broadcast_join(q_prefix_theta_join(spark, SF_DIR))


def test_selection_join_broadcasts(spark):
    # A9/J2: the deletion selection joins the corpus as a broadcast
    from dedupe_algo_spark.queries import QUERIES

    assert has_broadcast_join(QUERIES["deletion_impact"](spark, SF_DIR))


def test_pack_sequences_shares_the_shuffle_exchange(spark, pages_1k):
    # the packing window must REUSE corpus_shuffle's shard exchange
    # (same partitioning key), and page text must never enter it —
    # the whole shuffle+pack chain costs ONE slim exchange
    from dedupe_algo_spark.operators.chunking import TOKEN_SPLIT, pack_sequences
    from dedupe_algo_spark.operators.sampling import corpus_shuffle
    from dedupe_algo_spark.plans import formatted_plan

    # text stays IN the input: the assertion below is only meaningful
    # if column pruning (not the test) is what keeps it out of the
    # shuffle once the count is precomputed
    with_n = pages_1k.select(
        F.col("url").alias("doc_id"),
        "text",
        F.size(
            F.filter(F.split("text", TOKEN_SPLIT), lambda t: t != F.lit(""))
        ).alias("_n"),
    )
    ordered = corpus_shuffle(with_n, key_col="doc_id", num_shards=8)
    packed = pack_sequences(ordered, seq_len=64, id_col="doc_id", n_col="_n")
    plan = formatted_plan(packed)
    n_exchanges = sum(
        1 for ln in plan.splitlines() if ") Exchange" in ln
    )
    assert n_exchanges == 1, plan
    assert "text" not in exchange_columns(packed)


def test_confirm_slice_crosses_one_exchange(spark):
    # confirm_pairs rides the one-pass melt/pivot join: the slice's
    # token-hash array must cross exactly ONE shuffle (the slice side
    # of the url join). A double join moves it in two exchange children
    # (as _ta and _tb) and re-shuffles _ta through the second join.
    # Auto-broadcast is off so the tiny slice plans as it does at scale.
    from dedupe_algo_spark.operators.scoring import confirm_pairs
    from dedupe_algo_spark.plans import exchange_column_sets

    pages = spark.createDataFrame(
        [("u%d" % i, "tok%d a b c d" % i) for i in range(50)],
        "url string, text string",
    )
    pairs = spark.createDataFrame(
        [("u1", "u2"), ("u3", "u4")], "url_a string, url_b string"
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        per_exchange = exchange_column_sets(confirm_pairs(pairs, pages, 0.0))
    finally:
        spark.conf.set(key, old)
    token_exchanges = sum(1 for cols in per_exchange if {"_v", "_ta", "_tb"} & cols)
    assert token_exchanges == 1, per_exchange


def test_default_confirm_and_meta_scan_run_no_python(spark):
    # The Jaccard confirm and the exact tier's hash projection are
    # built-in expressions end to end: no Arrow/Batch EvalPython node
    # may appear in their plans.
    from dedupe_algo_spark.operators.dedup import page_meta
    from dedupe_algo_spark.operators.scoring import confirm_pairs
    from dedupe_algo_spark.plans import formatted_plan

    pages = spark.createDataFrame(
        [("u1", "alpha beta gamma delta"), ("u2", "alpha beta gamma omega")],
        "url string, text string",
    )
    pairs = spark.createDataFrame([("u1", "u2")], "url_a string, url_b string")
    plan = formatted_plan(confirm_pairs(pairs, pages, 0.8))
    assert "EvalPython" not in plan, plan
    plan = formatted_plan(page_meta(pages, with_signature=False))
    assert "EvalPython" not in plan, plan
