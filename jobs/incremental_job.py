"""spark-submit entry point for INCREMENTAL ingest against a seen-corpus.

Four subcommands:

    # one-time (or periodic) index build from the accepted corpus
    spark-submit --master <master> --py-files dedupe_algo_spark.zip \
        jobs/incremental_job.py index \
        --corpus /path/to/accepted_pages_parquet \
        --name seen --location /path/to/warehouse/seen \
        [--buckets 64]

    # per-batch probe: split a new batch into unseen / exact-dup /
    # near-dup against the index, without ever shuffling the corpus
    spark-submit --master <master> --py-files dedupe_algo_spark.zip \
        jobs/incremental_job.py probe \
        --batch /path/to/new_batch_parquet \
        --name seen --location /path/to/warehouse/seen \
        --output /path/to/probe_out \
        [--buckets 64] [--threshold 0.8] [--min-matches 2] [--min-len 10]

    # exact-tier screen against an UN-indexed ad-hoc corpus (no prior
    # `index` run): bloom-gated, exact output (see screen_batch)
    spark-submit --master <master> --py-files dedupe_algo_spark.zip \
        jobs/incremental_job.py screen \
        --batch /path/to/new_batch_parquet --corpus /path/to/corpus \
        --output /path/to/screen_out [--bloom-fpp 1e-3] [--min-len 10]

    # per-batch entity maintenance: fold the probe's exact+near hits
    # into the entity table, recomputing only the touched clusters
    spark-submit --master <master> --py-files dedupe_algo_spark.zip \
        jobs/incremental_job.py merge \
        --assignments /path/to/entities  --hits /path/to/probe_out \
        --output /path/to/entities_v2    # omit --assignments on run 1

``index`` materializes THREE Hive-bucketed tables (sources/bucketed.py):
``{name}_hashes`` (content_sha256-keyed exact tier), and the near-dup
pair ``{name}_bands`` / ``{name}_text``. ``probe`` then writes

    {output}/unseen/     batch rows whose sha256 the corpus lacks AND
                         that near-duplicate nothing seen, deduped
                         WITHIN the batch to one row per content hash
                         (min url) — the rows to accept + append to
                         the corpus (run dedup_job over them first if
                         within-batch NEAR dedup is also required)
    {output}/exact/      (url, corpus_url) exact-content hits
    {output}/near/       (url, corpus_url, score) near-dup hits

and prints one JSON lineage line. Every corpus-side join is
exchange-free by layout: only the batch moves (tests/test_bucketed.py
asserts the plan shapes; this job is the deployment wrapper).

Reference parity: this is the reference's cache-driven re-scan
(lib.rs:83-107 — skip files whose (path, size, mtime) the cache knows)
lifted to the 10^12-row operating mode where "the cache" cannot be
re-shuffled per run.
"""

from __future__ import annotations

import argparse
import json


def build_index(spark, corpus, name: str, location: str, buckets: int = 64) -> None:
    from pyspark.sql import functions as F

    from dedupe_algo_spark.functions.hashing import sha256_col
    from dedupe_algo_spark.sources.bucketed import write_bucketed, write_near_index

    hashes = corpus.select(sha256_col(F.col("text")).alias("content_sha256"), "url")
    write_bucketed(
        hashes,
        f"{name}_hashes",
        key="content_sha256",
        buckets=buckets,
        path=f"{location}_hashes",
    )
    write_near_index(
        corpus.select("url", "text"), name, buckets=buckets, path=location
    )


def probe_batch(
    spark,
    batch,
    name: str,
    threshold: float = 0.80,
    min_matches: int = 2,
    location: str | None = None,
    buckets: int = 64,
):
    """→ (unseen, exact, near) DataFrames. ``unseen`` keeps the batch's
    full schema; exact/near are slim hit tables. Pass ``location`` (the
    ``index`` run's --location) to re-register the index tables when
    probing from a fresh session without a shared catalog."""
    from pyspark.sql import functions as F

    from dedupe_algo_spark.functions.hashing import sha256_col
    from dedupe_algo_spark.sources.bucketed import (
        incremental_near_dupes,
        read_bucketed,
        read_near_index,
        register_bucketed,
        register_near_index,
    )

    if location is not None:
        register_bucketed(
            spark,
            f"{name}_hashes",
            f"{location}_hashes",
            key="content_sha256",
            buckets=buckets,
            schema="content_sha256 string, url string",
        )
        register_near_index(spark, name, location, buckets=buckets)
    hashes = read_bucketed(spark, f"{name}_hashes")
    bands, corpus_text = read_near_index(spark, name)

    # hashed and near each feed two of the three outputs — persist so
    # the sha256 scan and the (expensive) MinHash probe run once, not
    # once per consumer (same PersistTracker discipline as prepare())
    hashed = batch.withColumn("content_sha256", sha256_col(F.col("text"))).persist()
    exact = hashed.join(
        hashes.select("content_sha256", F.col("url").alias("corpus_url")),
        "content_sha256",
    ).select("url", "corpus_url")
    near = incremental_near_dupes(
        batch, bands, corpus_text, threshold=threshold, min_matches=min_matches
    ).select(
        F.col("batch_url").alias("url"), F.col("corpus_url"), F.col("score")
    ).persist()
    # accept = not exact-seen AND not near-seen AND first of its content
    # WITHIN the batch (min url per sha256 — without this, a batch
    # carrying the same novel page under two urls would append BOTH to
    # the corpus, permanently admitting the duplicate the index exists
    # to prevent). Near-duplicates WITHIN the batch are out of scope
    # here by design: run the main dedup_pipeline over the accepted
    # unseen rows before committing them (jobs/dedup_job.py) — this job
    # owns the batch-vs-corpus question only.
    from pyspark.sql import Window

    first_of_content = F.row_number().over(
        Window.partitionBy("content_sha256").orderBy("url")
    )
    unseen = (
        hashed.join(hashes.select("content_sha256"), "content_sha256", "left_anti")
        .withColumn("_rn", first_of_content)
        .where(F.col("_rn") == 1)
        .drop("_rn", "content_sha256")
        .join(near.select("url"), "url", "left_anti")
    )
    return unseen, exact, near


def screen_batch(spark, batch, corpus, fpp: float = 1e-3):
    """→ (unseen, seen, bloom): exact-tier batch-vs-corpus screen when
    NO index exists (ad-hoc snapshots, foreign tables — the un-bucketed
    case ``probe`` can't serve without an ``index`` run first).

    A Bloom filter over the batch's content hashes
    (operators/membership.py) gates the corpus scan before the join, so
    corpus-side bytes in motion are ``overlap + fpp*|corpus|`` instead
    of ``|corpus|`` — the result is EXACT (no false negatives + trailing
    exact joins). ``unseen`` keeps the batch schema deduped to one row
    per content hash (min url, same accept-and-append contract as
    ``probe``); ``seen`` is the (url, corpus_url) exact-hit table. The
    near tier genuinely needs the LSH index — build one (``index``) for
    near-dup screening.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dedupe_algo_spark.functions.hashing import sha256_col
    from dedupe_algo_spark.operators.membership import build_key_bloom

    hashed = batch.withColumn("content_sha256", sha256_col(F.col("text"))).persist()
    bloom = build_key_bloom(hashed, "content_sha256", fpp=fpp)
    gated = bloom.gate(
        corpus.select(
            sha256_col(F.col("text")).alias("content_sha256"),
            F.col("url").alias("corpus_url"),
        ),
        "content_sha256",
    ).persist()
    seen = hashed.join(gated, "content_sha256").select("url", "corpus_url")
    first_of_content = F.row_number().over(
        Window.partitionBy("content_sha256").orderBy("url")
    )
    unseen = (
        hashed.join(gated.select("content_sha256"), "content_sha256", "left_anti")
        .withColumn("_rn", first_of_content)
        .where(F.col("_rn") == 1)
        .drop("_rn", "content_sha256")
    )
    return unseen, seen, bloom


def merge_entities(spark, assignments, hits_dir: str):
    """→ updated (url, component): fold a probe run's exact + near hit
    tables (each a (url, corpus_url[, score]) edge list under
    ``{hits_dir}/exact`` and ``{hits_dir}/near``) into the prior
    entity assignment with :func:`~dedupe_algo_spark.operators.cluster
    .merge_clusters` — only the clusters the batch touches are
    recomputed, the historical graph is never revisited. Pass an
    EMPTY assignments frame on the first run; every batch edge then
    simply seeds new entities."""
    from pyspark.sql import functions as F

    from dedupe_algo_spark.operators.cluster import merge_clusters

    exact = spark.read.parquet(f"{hits_dir}/exact").select("url", "corpus_url")
    near = spark.read.parquet(f"{hits_dir}/near").select("url", "corpus_url")
    edges = exact.unionByName(near).select(
        F.col("url").alias("src"), F.col("corpus_url").alias("dst")
    )
    return merge_clusters(assignments, edges)


def main() -> None:
    p = argparse.ArgumentParser(description="incremental ingest vs seen-corpus")
    sub = p.add_subparsers(dest="cmd", required=True)
    pi = sub.add_parser("index")
    pi.add_argument("--corpus", required=True)
    pi.add_argument("--name", required=True)
    pi.add_argument("--location", required=True)
    pi.add_argument("--buckets", type=int, default=64)
    pp = sub.add_parser("probe")
    pp.add_argument("--batch", required=True)
    pp.add_argument("--name", required=True)
    pp.add_argument("--output", required=True)
    pp.add_argument(
        "--location",
        help="the index run's --location (re-registers the external "
        "bucketed tables when no shared catalog carries them)",
    )
    pp.add_argument("--buckets", type=int, default=64)
    pp.add_argument("--threshold", type=float, default=0.80)
    pp.add_argument("--min-matches", type=int, default=2)
    pp.add_argument("--min-len", type=int, default=10)
    ps = sub.add_parser(
        "screen",
        help="exact-tier bloom-gated screen against an UN-indexed corpus",
    )
    ps.add_argument("--batch", required=True)
    ps.add_argument("--corpus", required=True, help="ad-hoc corpus parquet")
    ps.add_argument("--output", required=True)
    ps.add_argument("--bloom-fpp", type=float, default=1e-3)
    ps.add_argument("--min-len", type=int, default=10)
    pm = sub.add_parser(
        "merge",
        help="fold a probe run's exact+near hits into the entity table",
    )
    pm.add_argument(
        "--assignments",
        help="prior (url, component) parquet; omit on the first run",
    )
    pm.add_argument("--hits", required=True, help="a probe run's --output dir")
    pm.add_argument("--output", required=True)
    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.getOrCreate()
    if args.cmd == "index":
        corpus = spark.read.parquet(args.corpus)
        build_index(spark, corpus, args.name, args.location, args.buckets)
        print(json.dumps({"indexed": corpus.count(), "name": args.name}))
    elif args.cmd == "merge":
        if args.assignments:
            prior = spark.read.parquet(args.assignments)
        else:
            prior = spark.createDataFrame([], "url string, component string")
        updated = merge_entities(spark, prior, args.hits)
        updated.write.mode("overwrite").parquet(args.output)
        print(
            json.dumps(
                {
                    "prior": prior.count(),
                    "entities_rows": spark.read.parquet(args.output).count(),
                }
            )
        )
    elif args.cmd == "screen":
        batch = spark.read.parquet(args.batch).where(
            F.length("text") >= args.min_len
        )
        corpus = spark.read.parquet(args.corpus)
        unseen, seen, bloom = screen_batch(spark, batch, corpus, args.bloom_fpp)
        unseen.write.mode("overwrite").parquet(f"{args.output}/unseen")
        seen.write.mode("overwrite").parquet(f"{args.output}/seen")
        print(
            json.dumps(
                {
                    "batch": batch.count(),
                    "unseen": spark.read.parquet(f"{args.output}/unseen").count(),
                    "seen_hits": spark.read.parquet(f"{args.output}/seen").count(),
                    "bloom_bits": bloom.m,
                    "bloom_hashes": bloom.k,
                    "bloom_fpp_estimate": round(bloom.fpp_estimate, 8),
                }
            )
        )
    else:
        batch = spark.read.parquet(args.batch).where(
            F.length("text") >= args.min_len
        )
        unseen, exact, near = probe_batch(
            spark,
            batch,
            args.name,
            threshold=args.threshold,
            min_matches=args.min_matches,
            location=args.location,
            buckets=args.buckets,
        )
        unseen.write.mode("overwrite").parquet(f"{args.output}/unseen")
        exact.write.mode("overwrite").parquet(f"{args.output}/exact")
        near.write.mode("overwrite").parquet(f"{args.output}/near")
        out = {
            "batch": batch.count(),
            "unseen": spark.read.parquet(f"{args.output}/unseen").count(),
            "exact_hits": spark.read.parquet(f"{args.output}/exact").count(),
            "near_hits": spark.read.parquet(f"{args.output}/near").count(),
        }
        print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
