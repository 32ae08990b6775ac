"""Incremental-ingest job (jobs/incremental_job.py): index build +
batch probe split unseen / exact / near correctly."""

from __future__ import annotations

import pytest

from jobs.incremental_job import build_index, probe_batch


def _text(seed: int, n: int = 50) -> str:
    return " ".join(f"w{seed}i{(j * 5) % 61}" for j in range(n))


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    corpus = spark.createDataFrame(
        [(f"https://seen/{i}", _text(i)) for i in range(40)],
        "url string, text string",
    )
    loc = str(tmp_path_factory.mktemp("incjob") / "seen")
    build_index(spark, corpus, "inc_job_idx", loc, buckets=4)
    yield "inc_job_idx"
    for t in ("inc_job_idx_hashes", "inc_job_idx_bands", "inc_job_idx_text"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_probe_splits_batch(spark, index):
    near_toks = _text(9).split()
    near_toks[0], near_toks[1] = "edited1", "edited2"
    batch = spark.createDataFrame(
        [
            ("https://new/exact", _text(5)),
            ("https://new/near", " ".join(near_toks)),
            ("https://new/novel", " ".join(f"nv{j}z{j}" for j in range(50))),
        ],
        "url string, text string",
    )
    unseen, exact, near = probe_batch(spark, batch, index)

    assert [(r["url"], r["corpus_url"]) for r in exact.collect()] == [
        ("https://new/exact", "https://seen/5")
    ]
    hits = {r["url"]: (r["corpus_url"], r["score"]) for r in near.collect()}
    # the exact copy is also a perfect near-dup; the near copy scores
    # below 1.0 but above the threshold; the novel page hits nothing
    assert hits["https://new/exact"] == ("https://seen/5", 1.0)
    nc, ns = hits["https://new/near"]
    assert nc == "https://seen/9" and 0.8 <= ns < 1.0
    assert [r["url"] for r in unseen.collect()] == ["https://new/novel"]
    # unseen keeps the batch schema (accept-and-append contract)
    assert set(unseen.columns) == {"url", "text"}


def test_probe_reregisters_index_from_location(spark, tmp_path):
    """A probe session without the writer's catalog (separate
    spark-submit, in-memory catalog) re-declares the external bucketed
    tables from --location — and the re-registered tables still plan
    with their bucket metadata (zero corpus-side Exchange)."""
    corpus = spark.createDataFrame(
        [(f"https://seen/{i}", _text(i)) for i in range(30)],
        "url string, text string",
    )
    loc = str(tmp_path / "seen")
    build_index(spark, corpus, "inc_rereg_idx", loc, buckets=4)
    # the index keys on the pipeline's content hash, digest for digest
    from dedupe_algo_spark.operators.dedup import page_meta

    indexed = spark.read.parquet(f"{loc}_hashes").collect()
    meta = page_meta(corpus, min_len=0, with_signature=False).collect()
    assert {(r["url"], r["content_sha256"]) for r in indexed} == {
        (r["url"], r["content_sha256"]) for r in meta
    }
    # simulate the fresh session: catalog forgets, files remain
    for t in ("inc_rereg_idx_hashes", "inc_rereg_idx_bands", "inc_rereg_idx_text"):
        spark.sql(f"DROP TABLE {t}")

    batch = spark.createDataFrame(
        [("https://new/exact", _text(4))], "url string, text string"
    )
    try:
        unseen, exact, near = probe_batch(
            spark, batch, "inc_rereg_idx", location=loc, buckets=4
        )
        assert exact.collect()[0]["corpus_url"] == "https://seen/4"
        assert near.collect()[0]["score"] == 1.0
        assert unseen.count() == 0
        from dedupe_algo_spark.plans import formatted_plan
        from dedupe_algo_spark.sources.bucketed import read_near_index

        bands, _ = read_near_index(spark, "inc_rereg_idx")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            assert "Bucketed: true" in formatted_plan(
                bands.join(bands.withColumnRenamed("url", "u2"), "bucket_key")
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        for t in (
            "inc_rereg_idx_hashes",
            "inc_rereg_idx_bands",
            "inc_rereg_idx_text",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_unseen_dedups_within_batch(spark, index):
    """A batch carrying the same novel content under two urls accepts
    only one row (min url), so the corpus never admits an intra-batch
    duplicate."""
    novel = " ".join(f"fresh{j}tok{j * 13 % 29}" for j in range(50))
    batch = spark.createDataFrame(
        [("https://new/b-copy", novel), ("https://new/a-copy", novel)],
        "url string, text string",
    )
    unseen, exact, near = probe_batch(spark, batch, index)
    assert exact.count() == 0 and near.count() == 0
    assert [r["url"] for r in unseen.collect()] == ["https://new/a-copy"]


def test_merge_entities_end_to_end(spark, index, tmp_path):
    """probe hits → merge subcommand logic: batch urls join their
    corpus entities; prior clusters untouched by the batch survive
    unchanged; a first-run (empty prior) seeds entities from hits."""
    from jobs.incremental_job import merge_entities

    near_toks = _text(9).split()
    near_toks[0], near_toks[1] = "edited1", "edited2"
    batch = spark.createDataFrame(
        [
            ("https://new/exact", _text(5)),
            ("https://new/near", " ".join(near_toks)),
        ],
        "url string, text string",
    )
    unseen, exact, near = probe_batch(spark, batch, index)
    hits = str(tmp_path / "hits")
    exact.write.mode("overwrite").parquet(f"{hits}/exact")
    near.write.mode("overwrite").parquet(f"{hits}/near")

    prior = spark.createDataFrame(
        [
            ("https://seen/5", "https://old/alias5"),
            ("https://old/alias5", "https://old/alias5"),
            ("https://seen/30", "https://other/keep"),
            ("https://other/keep", "https://other/keep"),
        ],
        "url string, component string",
    )
    got = {
        (r.url, r.component)
        for r in merge_entities(spark, prior, hits).collect()
    }
    # untouched prior cluster intact
    assert ("https://seen/30", "https://other/keep") in got
    assert ("https://other/keep", "https://other/keep") in got
    # the exact hit joins seen/5's existing entity (min-url label)
    lab5 = {c for (u, c) in got if u == "https://new/exact"}
    assert lab5 == {"https://new/exact"} or lab5 == {"https://old/alias5"}
    lab = lab5.pop()
    members5 = {u for (u, c) in got if c == lab}
    assert {
        "https://new/exact", "https://seen/5", "https://old/alias5"
    } <= members5
    # the near hit seeds a fresh 2-entity with its corpus twin
    assert ("https://seen/9", "https://new/near") in got

    # first run: empty prior, hits alone seed the entity table
    empty = spark.createDataFrame([], "url string, component string")
    fresh = {
        (r.url, r.component)
        for r in merge_entities(spark, empty, hits).collect()
    }
    assert ("https://seen/5", "https://new/exact") in fresh
    assert ("https://seen/9", "https://new/near") in fresh


def test_screen_batch_unindexed_corpus(spark):
    """screen: exact-tier bloom-gated split against an ad-hoc corpus —
    identical verdicts to a plain anti-join, plus the within-batch
    content dedup of the accept contract."""
    from jobs.incremental_job import screen_batch

    corpus = spark.createDataFrame(
        [(f"https://seen/{i}", _text(i)) for i in range(40)],
        "url string, text string",
    )
    batch = spark.createDataFrame(
        [
            ("https://new/exact", _text(5)),
            ("https://new/novel-a", _text(901)),
            ("https://new/novel-b", _text(901)),  # same novel content
            ("https://new/other", _text(902)),
        ],
        "url string, text string",
    )
    unseen, seen, bloom = screen_batch(spark, batch, corpus, fpp=0.01)
    assert [(r["url"], r["corpus_url"]) for r in seen.collect()] == [
        ("https://new/exact", "https://seen/5")
    ]
    # novel content admitted once (min url), batch schema preserved
    assert sorted(r["url"] for r in unseen.collect()) == [
        "https://new/novel-a",
        "https://new/other",
    ]
    assert set(unseen.columns) == {"url", "text"}
    assert bloom.m > 0 and bloom.fpp_estimate < 0.5
