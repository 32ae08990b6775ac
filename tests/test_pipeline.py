"""End-to-end golden test: planted ground truth → pairwise F1 ≥ 0.99
(BASELINE.json north_rule) + determinism and resume invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedupe_algo_spark.pipeline import dedup_pipeline, pairwise_f1


@pytest.fixture(scope="module")
def result(pages_1k):
    res = dedup_pipeline(pages_1k)
    res.clusters.cache().count()
    yield res
    res.clusters.unpersist()
    res.unpersist()


def test_pairwise_f1_gate(result, labels_1k):
    m = pairwise_f1(result.clusters, labels_1k)
    assert m["f1"] >= 0.99, m
    assert m["precision"] >= 0.99, m
    assert m["recall"] >= 0.99, m


def test_tracker_registers_each_frame_once(result):
    # the default audit hook persists page_meta on the same tracker the
    # pipeline then hands it to: it must be cached and registered once
    frames = result.tracker.frames
    assert frames and len({id(f) for f in frames}) == len(frames)


def test_exact_only_pipeline_matches_exact_labels(pages_1k, labels_1k):
    res = dedup_pipeline(pages_1k, include_near=False)
    m = pairwise_f1(res.clusters, labels_1k.where(F.col("kind") != "near"))
    res.unpersist()
    assert m["f1"] >= 0.99, m


def test_row_order_permutation_invariance(spark, pages_1k, result):
    shuffled = pages_1k.orderBy(F.rand(seed=123))
    res2 = dedup_pipeline(shuffled)
    a = result.clusters.orderBy("url").toPandas()
    b = res2.clusters.orderBy("url").toPandas()
    res2.unpersist()
    assert a.equals(b)


def test_every_clustered_url_is_input_url(pages_1k, result):
    extra = result.clusters.join(pages_1k.select("url"), "url", "left_anti")
    assert extra.count() == 0


def test_adding_nondup_rows_never_splits_clusters(spark, pages_1k, result):
    from dedupe_algo_spark.synth import synth_pages

    # append pages from a disjoint index range (deterministic, non-dup
    # against the first 1k by construction of per-index randomness)
    more = synth_pages(spark, 1300).where(
        F.col("url").substr(-10, 10).cast("long") >= 1200
    )
    res2 = dedup_pipeline(pages_1k.unionByName(more))
    base = result.clusters.select("url", "cluster_id")
    new = res2.clusters.select("url", F.col("cluster_id").alias("cid2"))
    j = base.join(new, "url", "inner").toPandas()
    res2.unpersist()
    # same-cluster relations among original urls must be preserved
    import pandas as pd

    g1 = j.groupby("cluster_id")["url"].apply(frozenset)
    g2 = j.groupby("cid2")["url"].apply(frozenset)
    assert set(g1) == set(g2)


def test_checkpoint_resume_equals_cold_run(spark, pages_1k, tmp_path):
    """jobs/dedup_job.py --checkpoint-dir: every stage commits on the cold
    run, and a re-run over the same directory resumes all of them."""
    from dedupe_algo_spark.runner import CheckpointedRun

    wd = str(tmp_path / "run1")

    def run():
        ckpt = CheckpointedRun(spark, wd)
        result = dedup_pipeline(pages_1k, stage=ckpt.stage)
        pdf = result.clusters.orderBy("url").toPandas()
        result.unpersist()
        return pdf, ckpt

    cold_pdf, run1 = run()
    assert run1.computed and not run1.resumed

    warm_pdf, run2 = run()
    assert cold_pdf.equals(warm_pdf)
    assert run2.resumed == run1.computed and not run2.computed

    # one audit flush per computed stage, each matching a direct
    # per-partition count of the committed output
    audit = run1.audit.read().toPandas()
    assert set(audit["stage"]) == set(run1.computed)
    _assert_audit_shape(audit)
    assert audit.groupby("stage")["committed_at"].nunique().eq(1).all()
    for name in run1.computed:
        got = audit[audit["stage"] == name]
        assert _lineage(got) == _direct_counts(spark.read.parquet(run1._stage_path(name)))


def _lineage(rows) -> list[tuple[int, int]]:
    return sorted(zip(rows["partition_id"], rows["row_count"]))


def _direct_counts(df) -> list[tuple[int, int]]:
    return sorted(
        (r["pid"], r["count"])
        for r in df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    )


def _assert_audit_shape(audit) -> None:
    assert audit["run_id"].nunique() == 1
    assert (audit["row_count"] >= 0).all() and (audit["elapsed_ms"] >= 0).all()
    assert audit["block_id"].isna().all() and audit["pair_count"].isna().all()


def test_default_run_writes_audit_lineage(spark, pages_1k, tmp_path, monkeypatch):
    """north_rule: lineage is NOT opt-in — a plain dedup_pipeline run
    (no checkpoint dir, no explicit hook) must leave per-stage audit
    rows: one flush (one run_id, one committed_at), each stage's rows
    equal to a direct spark_partition_id() count of its output, and
    driver-known stages as one partition_id -1 row."""
    from dedupe_algo_spark.sources.audit import AuditLog, audit_stage_hook
    from dedupe_algo_spark.tracking import PersistTracker

    audit_dir = str(tmp_path / "audit")
    monkeypatch.setenv("DEDUPE_AUDIT_DIR", audit_dir)
    res = dedup_pipeline(pages_1k)
    res.clusters.count()
    audit = AuditLog(spark, audit_dir).read().toPandas()
    assert {"page_meta", "near_edges", "components"} <= set(audit["stage"])
    _assert_audit_shape(audit)
    assert audit["committed_at"].nunique() == 1
    res.unpersist()

    # the default hook's rows, checked against each stage's output
    monkeypatch.setenv("DEDUPE_AUDIT_DIR", str(tmp_path / "a2"))
    tracker = PersistTracker()
    hook = audit_stage_hook(spark, tracker)
    outputs = {}

    def stage(name, fn):
        outputs[name] = hook(name, fn)
        return outputs[name]

    stage.flush = hook.flush
    res = dedup_pipeline(pages_1k, stage=stage)
    res.clusters.count()
    audit = hook.audit.read().toPandas()
    assert set(audit["stage"]) == set(outputs)
    for name, df in outputs.items():
        known = getattr(df, "_dedupe_known_rows", None)
        want = [(-1, known)] if known is not None else _direct_counts(df)
        assert _lineage(audit[audit["stage"] == name]) == want, name
    assert getattr(outputs["components"], "_dedupe_known_rows", None) is not None
    res.unpersist()
    tracker.release()


def test_warm_runs_reuse_generated_code(spark, pages_1k):
    """Every warm run in a session reuses the classes the earlier runs
    generated: none of its plans (audit flush included) may inline a
    per-run value, and the codegen cache must hold the working set."""
    jvm = spark.sparkContext._jvm
    compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE

    def run() -> None:
        res = dedup_pipeline(pages_1k)
        res.clusters.toPandas()
        res.unpersist()

    run()
    run()
    before = compiled().getCount()
    run()
    assert compiled().getCount() - before == 0


def test_unpersist_releases_all_pipeline_blocks(spark, pages_1k):
    """VERDICT round-2 item 5: after consuming the result and calling
    unpersist(), no pipeline-created persisted RDDs (caches OR CC
    localCheckpoint blocks) may remain in the block manager."""
    from dedupe_algo_spark.tracking import persistent_rdd_ids

    pages_1k.count()  # fixture cache materialized before the snapshot
    before = persistent_rdd_ids(spark)
    res = dedup_pipeline(pages_1k)
    assert res.clusters.count() > 0
    assert res.edges.count() >= 0
    assert persistent_rdd_ids(spark) - before  # pipeline did persist things
    res.unpersist()
    assert persistent_rdd_ids(spark) - before == set()


def test_normalized_exact_key_merges_cheap_mutations(spark, pages_1k):
    """exact_key="normalized" pulls casing/punctuation/counter mutations
    into the EXACT tier (match_kind='exact' without any near tier),
    while raw mode leaves them unclustered at include_near=False; and on
    mutation-free input the two modes produce identical clusters (raw
    clusters never split under normalization)."""
    from pyspark.sql import Row

    base = "the quick brown fox jumped over the lazy dog " * 6
    mut = [
        ("https://m.example.com/a", base),
        ("https://m.example.com/b", base.upper()),
        ("https://m.example.com/c", base.replace(" ", " ... ") + "!!!"),
    ]
    extra = spark.createDataFrame(
        [
            Row(
                url=u,
                warc_ts=__import__("datetime").datetime(2026, 1, 1),
                html=b"",
                text=t,
                lang="en",
            )
            for u, t in mut
        ],
        pages_1k.schema,
    )

    def clusters(pages, exact_key):
        res = dedup_pipeline(pages, include_near=False, exact_key=exact_key)
        pdf = res.clusters.orderBy("url").toPandas()
        res.unpersist()
        return pdf

    pages = pages_1k.unionByName(extra)
    raw = clusters(pages, "raw")
    norm = clusters(pages, "normalized")
    muts = {u for u, _ in mut}
    assert not raw["url"].isin(muts).any()
    got = norm[norm["url"].isin(muts)]
    assert set(got["url"]) == muts
    assert got["cluster_id"].nunique() == 1
    assert (got["match_kind"] == "exact").all()
    # coarsening-only: on the mutation-free corpus both modes agree
    a = clusters(pages_1k, "raw")
    b = clusters(pages_1k, "normalized")
    assert a[["url", "cluster_id"]].equals(b[["url", "cluster_id"]])


def test_traced_pipeline_matches_dedup_pipeline(
    spark, pages_1k, result, tmp_path, monkeypatch
):
    """The benchmark's traced run (perfbench/layertrace.py) rebuilds
    ``dedup_pipeline`` layer by layer from the package's public
    functions, so a rename or signature change there must fail here,
    not only under ``perfbench/run.py --trace 1``. Its clusters equal
    the pipeline's, with and without a (fresh) memo."""
    import os

    import pandas as pd

    from dedupe_algo_spark.sources.memo import HashMemo

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.syspath_prepend(os.path.join(root, "perfbench"))
    import layertrace

    def ordered(pdf):
        cols = ["url", "cluster_id", "match_kind"]
        return pdf[cols].sort_values("url").reset_index(drop=True)

    want = ordered(result.clusters.toPandas())
    sc = spark.sparkContext
    try:
        for memo in (None, HashMemo(spark, str(tmp_path / "memo"))):
            got, _, tracker = layertrace.traced_pipeline(
                spark, pages_1k, layertrace.Tracer(spark, 0), memo=memo
            )
            tracker.release()
            pd.testing.assert_frame_equal(ordered(got), want)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
