"""Structured Streaming analogs: progress windows + incremental ingest."""

from __future__ import annotations

import json

from dedupe_algo_spark.streaming import (
    ingest_pages_stream,
    progress_stream,
    run_to_memory,
)


def test_progress_stream_windows(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    rows = [
        {"ts": "2026-01-01 00:00:01", "run_id": "r1", "stage": "hash", "n": 5},
        {"ts": "2026-01-01 00:00:03", "run_id": "r1", "stage": "hash", "n": 7},
        {"ts": "2026-01-01 00:00:15", "run_id": "r1", "stage": "score", "n": 2},
    ]
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows))
    out = progress_stream(spark, str(src))
    run_to_memory(out, "progress_t", output_mode="complete")
    pdf = spark.sql("select * from progress_t").toPandas()
    got = {(r["stage"]): r["rows_done"] for _, r in pdf.iterrows()}
    assert got == {"hash": 12, "score": 2}


def test_dedup_pages_stream_first_seen(spark, tmp_path):
    """Stateful streaming exact dedup (applyInPandasWithState): each
    distinct content hash is emitted exactly once across micro-batches,
    and the keeper is the deterministic min (warc_ts, url)."""
    import pandas as pd

    from dedupe_algo_spark.streaming import dedup_pages_stream

    src = tmp_path / "pages"
    src.mkdir()
    from dedupe_algo_spark.synth import synth_pages

    pages = synth_pages(spark, 200).cache()
    # deterministic 60%/60% split with a 20%-bucket overlap: overlapping
    # urls arrive in BOTH waves = cross-batch duplicates. Each wave lands
    # as ONE flat file so maxFilesPerTrigger=1 makes one micro-batch per
    # wave (wave1 copied first → older mtime → first batch).
    import glob
    import shutil
    import time

    for i, pred in ((1, "pmod(xxhash64(url), 10) < 6"),
                    (2, "pmod(xxhash64(url), 10) >= 4")):
        d = tmp_path / f"w{i}"
        pages.where(pred).coalesce(1).write.parquet(str(d), mode="overwrite")
        shutil.copy(glob.glob(str(d / "part-*.parquet"))[0],
                    str(src / f"wave{i}.parquet"))
        time.sleep(1.1)  # file-source batch order is by mtime
    out = dedup_pages_stream(
        spark, str(src), options={"maxFilesPerTrigger": "1"}
    )
    run_to_memory(out, "dedup_stream_t", output_mode="append")
    got = spark.sql("select * from dedup_stream_t").toPandas()

    # ground truth from the batch side: one keeper per distinct hash
    batch = (
        pages.selectExpr(
            "url", "warc_ts", "sha2(text, 256) as content_sha256"
        )
        .toPandas()
        .sort_values(["warc_ts", "url"])
        .groupby("content_sha256", as_index=False)
        .first()
    )
    assert len(got) == len(batch)  # exactly once per distinct hash
    assert got["content_sha256"].is_unique

    # every emitted keeper is a genuine (url, hash) row of the input
    full = pages.selectExpr(
        "url", "sha2(text, 256) as content_sha256"
    ).toPandas()
    pairs = set(map(tuple, full[["url", "content_sha256"]].values))
    assert all(
        (u, h) in pairs for u, h in got[["url", "content_sha256"]].values
    )

    # for hashes whose rows all arrive in one micro-batch, the keeper is
    # the deterministic global min (warc_ts, url); a hash spanning both
    # waves keeps the FIRST batch's local min (first-arrival wins), so
    # compare only the single-wave hashes
    w1 = set(pd.read_parquet(str(src / "wave1.parquet"))["url"])
    w2 = set(pd.read_parquet(str(src / "wave2.parquet"))["url"])
    by_hash = full.groupby("content_sha256")["url"].agg(set)
    single_wave = by_hash[
        by_hash.apply(lambda us: us <= w1 or us.isdisjoint(w1) and us <= w2)
    ].index
    merged = got.merge(batch, on="content_sha256", suffixes=("_s", "_b"))
    one = merged[merged["content_sha256"].isin(single_wave)]
    assert len(one) > 0
    assert (one["url_s"] == one["url_b"]).all()
    spark.catalog.dropTempView("dedup_stream_t")


def test_dedup_stream_job_resumes_from_checkpoint(spark, tmp_path):
    """north_rule resume contract on the streaming face: a second job
    run against the same checkpoint suppresses every hash the first run
    committed — the output union is exactly-once per distinct hash."""
    import pandas as pd

    from jobs.dedup_stream_job import run_stream

    from dedupe_algo_spark.synth import synth_pages

    src = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    pages = synth_pages(spark, 150).cache()

    # run 1: 60% of pages land, job drains the backlog and exits
    pages.where("pmod(xxhash64(url), 10) < 6").coalesce(1).write.parquet(
        str(src / "w1"), mode="overwrite"
    )
    run_stream(spark, str(src / "w*"), str(out), str(ckpt)).awaitTermination(120)
    first = pd.read_parquet(str(out))
    assert len(first) > 0 and first["content_sha256"].is_unique

    # run 2 (same checkpoint): an overlapping 60% lands — re-submitted
    # job must emit ONLY hashes the first run never committed
    pages.where("pmod(xxhash64(url), 10) >= 4").coalesce(1).write.parquet(
        str(src / "w2"), mode="overwrite"
    )
    run_stream(spark, str(src / "w*"), str(out), str(ckpt)).awaitTermination(120)
    both = pd.read_parquet(str(out))
    assert both["content_sha256"].is_unique  # no re-emission, ever
    # union covers every distinct hash in the input
    n_distinct = (
        pages.selectExpr("sha2(text, 256) as h").distinct().count()
    )
    assert len(both) == n_distinct


def test_ingest_pages_stream_hashes(spark, tmp_path):
    from dedupe_algo_spark.synth import synth_pages

    src = tmp_path / "pages"
    synth_pages(spark, 100).write.parquet(str(src))
    out = ingest_pages_stream(spark, str(src))
    run_to_memory(out, "ingest_t")
    pdf = spark.sql("select * from ingest_t").toPandas()
    assert len(pdf) == 100
    assert pdf["content_sha256"].notna().all()
    # streaming hash identical to batch hash for the same rows
    from pyspark.sql import functions as F

    from dedupe_algo_spark.functions.hashing import sha256_col

    batch = (
        spark.read.parquet(str(src))
        .select("url", sha256_col(F.col("text")).alias("h"))
        .toPandas()
        .set_index("url")["h"]
    )
    for _, r in pdf.iterrows():
        assert batch[r["url"]] == r["content_sha256"]


def test_near_dup_stream_probes_bucketed_index(spark, tmp_path):
    """Stream-vs-seen-corpus near dedup: micro-batches of new pages
    probe the bucketed LSH index; hits append with their score, the
    checkpoint suppresses reprocessing of already-seen files, and a
    resumed run picks up only newly landed files."""
    import pandas as pd
    from pyspark.sql import functions as F

    from dedupe_algo_spark.sources.bucketed import write_near_index
    from dedupe_algo_spark.streaming import near_dup_stream

    def _text(seed):
        return " ".join(f"tok{seed}x{j * 7 % 53}" for j in range(50))

    corpus = spark.createDataFrame(
        [(f"https://seen/{i}", _text(i)) for i in range(20)],
        "url string, text string",
    )
    write_near_index(corpus, "near_stream_idx", buckets=4,
                     path=str(tmp_path / "idx"))
    try:
        src, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
        src.mkdir()

        def _pages(rows, dest):
            df = spark.createDataFrame(
                rows, "url string, text string"
            ).select(
                "url",
                F.lit("2026-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
                F.lit(b"").alias("html"),
                "text",
                F.lit("en").alias("lang"),
            )
            df.coalesce(1).write.parquet(str(dest), mode="overwrite")

        near = _text(7).split()
        near[-1] = "changed999"
        _pages(
            [("https://new/dup", _text(3)),
             ("https://new/near", " ".join(near)),
             ("https://new/novel", " ".join(f"zz{j}q{j}" for j in range(50)))],
            src / "w1",
        )
        near_dup_stream(
            spark, str(src / "w*"), str(out), str(ckpt), "near_stream_idx"
        ).awaitTermination(120)
        first = pd.read_parquet(str(out))
        got = dict(zip(first["batch_url"], first["corpus_url"]))
        assert got == {
            "https://new/dup": "https://seen/3",
            "https://new/near": "https://seen/7",
        }
        assert (first["score"] >= 0.8).all()

        # resume: a second wave lands; only IT is processed
        _pages([("https://new/dup2", _text(11))], src / "w2")
        near_dup_stream(
            spark, str(src / "w*"), str(out), str(ckpt), "near_stream_idx"
        ).awaitTermination(120)
        both = pd.read_parquet(str(out))
        assert len(both) == 3  # no re-emission of wave-1 hits
        assert set(both["batch_url"]) == {
            "https://new/dup", "https://new/near", "https://new/dup2"
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS near_stream_idx_bands")
        spark.sql("DROP TABLE IF EXISTS near_stream_idx_text")
