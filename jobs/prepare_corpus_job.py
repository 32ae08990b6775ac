"""spark-submit entry point for end-to-end training-corpus preparation.

Chains the full training-data pipeline this package implements, in the
order a production crawl-to-corpus run applies it — each stage only
consuming what the previous one kept, each stage's surviving row count
reported as lineage:

    1. URL dedup        keep the newest snapshot per canonical url
                        (zero-content dedup — cheapest cut first)
    1b. C4 hygiene      optional (--c4): line cut + page verdicts per
                        Raffel et al. 2020, text rewritten in place
    2. quality gate     Gopher repetition caps (exact-integer verdicts)
    3. PII redaction    email/IPv4/phone → class sentinels (codegen)
    4. content dedup    exact + near (hash cascade → MinHash/LSH →
                        confirm → connected components); keep one
                        representative per cluster (min url — the same
                        keeper rule the reference's UI defaults to)
    4b. domain cap      optional (--domain-cap K): keep at most K pages
                        per registered domain (exact two-phase salted
                        top-k by md5 order — megadomain-safe)
    5. decontamination  drop docs sharing an n-gram with --eval docs
    6. mixing           deterministic per-language sampling rates
                        (explicit --rates or --alpha token-share
                        derivation), optional exact per-language token
                        budgets (--token-budgets en=5e9,de=1e9), +
                        hash-range train/valid/test split
    7. export shuffle   optional (--shuffle-shards S): rerun-stable
                        pseudo-random (shard, pos) training order; the
                        writer emits each shard's rows position-sorted
    8. sequence packing optional (--pack-seq-len L): write the
                        concat-and-chunk packing map (<output>_packmap)
                        cutting each (split, shard) token stream into
                        fixed L-token training blocks

Run on any cluster as:

    spark-submit --master <master> --py-files dedupe_algo_spark.zip \
        jobs/prepare_corpus_job.py \
        --input /path/to/pages_parquet --output /path/to/corpus_out \
        [--input-format parquet|warc]  (warc: a dir of crawl segments) \
        [--eval /path/to/eval_parquet] [--contam-ngram 13] \
        [--rates en=1.0,de=0.5 | --alpha 0.3] [--default-rate 1.0] \
        [--train 0.98 --valid 0.01 --test 0.01] [--seed 42] \
        [--synth N]   (generate N synthetic pages instead of --input)

Input schema (input_hint): url:string, warc_ts:timestamp, html:binary,
text:string, lang:string. Output: the kept rows with redacted text,
``sample_weight`` and ``split`` columns, partitioned by split. A JSON
lineage line ({stage: rows_kept}) prints to stdout; per-stage audit
rows additionally flow to the default-on audit table.

Lineage cost: each stage boundary that is consumed again downstream is
persisted before its count, so counting reads block-manager blocks
instead of re-running the upstream stages; every persist is released
as soon as its last consumer has run.
"""

from __future__ import annotations

import argparse
import json


def _parse_rates(spec: str) -> dict[str, float]:
    if not spec:
        return {}
    out = {}
    for part in spec.split(","):
        k, v = part.split("=")
        out[k.strip()] = float(v)
    return out


def prepare(
    spark,
    pages,
    eval_docs=None,
    contam_ngram: int = 13,
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    fractions: dict[str, float] | None = None,
    seed: int = 42,
    threshold: float = 0.8,
    c4: bool = False,
    c4_min_words: int = 3,
    c4_min_sentences: int = 5,
    c4_blocklist: tuple[str, ...] = (),
    alpha: float | None = None,
    domain_cap_k: int | None = None,
    shuffle_shards: int | None = None,
    token_budgets: dict[str, int] | None = None,
    robots_rules=None,
    robots_agent: str = "*",
    link_rank: bool = False,
    keep_html: bool = True,
):
    """Run the six-stage preparation over a pages DataFrame. Returns
    (mixed DataFrame ready to write, lineage dict of per-stage counts,
    release callable). The heavy intermediates are unpersisted inside;
    the final kept set stays persisted because ``mixed`` is a lazy
    narrow view of it — call ``release()`` once the output is
    committed."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dedupe_algo_spark.functions.urls import canonical_url
    from dedupe_algo_spark.operators.decontam import decontaminate
    from dedupe_algo_spark.operators.pii import redact_pii
    from dedupe_algo_spark.operators.repetition import (
        repetition_filter,
        repetition_signals,
    )
    from dedupe_algo_spark.operators.sampling import (
        deterministic_split,
        stratified_sample,
    )
    from dedupe_algo_spark.pipeline import dedup_pipeline

    lineage: dict[str, int] = {"input": pages.count()}

    # The WORKING SET is SLIM: no stage below computes on html (every
    # signal, filter, hash, and dedup runs on url/text/meta), so html
    # must not ride the stage caches, windows, or shuffles — at 4M
    # pages the html-bearing persists exceeded one box's heap and disk
    # (31 GB columnar cache spilled, then execution memory starved),
    # and at 10^12 rows the same shape multiplies EVERY exchange by
    # the dead payload. html stays in the never-cached source relation
    # and rejoins on (url, warc_ts) — the capture identity — only
    # where it is consumed: the link-rank extractor (semi-join
    # carve-out) and the final export (``keep_html``). Exact-duplicate
    # (url, warc_ts) captures are assumed identical (the capture-key
    # contract); each copy would contribute once.
    src = pages
    has_html = "html" in pages.columns
    if has_html:
        pages = pages.drop("html")

    # 0. optional robots.txt gate (RFC 9309): drop urls the crawl
    # policy disallows — the cheapest cut (broadcast rules, zero page
    # exchange), applied before anything touches text
    if robots_rules is not None:
        from dedupe_algo_spark.operators.robots import robots_filter

        pages = robots_filter(pages, robots_rules, agent=robots_agent)
        lineage["robots"] = pages.select("url").count()

    # 1. URL dedup: newest snapshot per canonical url; warc_ts ties
    # break on raw url for determinism. One shuffle on the slim key.
    w = Window.partitionBy("_canon").orderBy(
        F.col("warc_ts").desc(), F.col("url").asc()
    )
    pages = (
        pages.withColumn("_canon", canonical_url(F.col("url")))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_canon", "_rn")
    )
    # slim recount (url + warc_ts only — column pruning keeps the
    # window pass cheap) so url-dedup and quality-gate attribute
    # separately in the lineage
    lineage["url_dedup"] = pages.select("url").count()

    # 1b. optional C4 lexical hygiene (Raffel et al. 2020): line cut +
    # page verdicts as ONE narrow codegen map (passthrough mode — no
    # self-join), text rewritten in place so every later stage (Gopher
    # signals, hashes, signatures) judges the cleaned bytes. Off by
    # default: C4's terminal-punctuation rule assumes prose pages.
    if c4:
        from dedupe_algo_spark.operators.c4 import c4_clean

        pages = (
            c4_clean(
                pages,
                id_col="url",
                text_col="text",
                min_words=c4_min_words,
                min_sentences=c4_min_sentences,
                blocklist=c4_blocklist,
                passthrough=True,
            )
            .where("keep_doc")
            .withColumn("text", F.col("kept_text"))
            .drop(
                "n_lines",
                "n_kept",
                "n_sentences",
                "has_lorem",
                "has_brace",
                "has_blocked",
                "keep_doc",
                "kept_text",
            )
        )
        lineage["c4_clean"] = pages.select("url").count()

    # 2. Gopher repetition gate (keep verdicts are exact-integer).
    keep = repetition_filter(
        repetition_signals(pages, id_col="url", text_col="text"),
        id_col="url",
    ).where("keep").select("url")
    pages = pages.join(keep, "url", "left_semi")

    # 3. PII redaction — REPLACES text downstream, so hashes and
    # signatures dedup the redacted bytes users will actually train on
    red = redact_pii(pages, id_col="url", text_col="text")
    pages = pages.drop("text").join(
        red.select("url", F.col("redacted_text").alias("text")), "url"
    )
    # consumed by the dedup pipeline AND twice by the keeper joins
    pages = pages.persist()
    lineage["quality_gate"] = pages.select("url").count()

    # 4. content dedup → keep the min-url representative per cluster
    result = dedup_pipeline(pages, threshold=threshold)
    reps = (
        result.clusters.groupBy("cluster_id")
        .agg(F.min("url").alias("url"))
        .select("url")
    )
    clustered = result.clusters.select("url").distinct()
    kept = (
        pages.join(clustered, "url", "left_anti")
        .unionByName(pages.join(reps, "url", "left_semi"))
        .persist()
    )
    lineage["content_dedup"] = kept.count()
    result.unpersist()
    pages.unpersist()

    # 4b. optional per-domain cap (RefinedWeb/FineWeb curation): at most
    # K pages per registered domain, the K smallest by md5(url:seed) —
    # an unbiased rerun-stable within-domain sample, exact two-phase
    # salted top-k so no task ever holds a whole megadomain
    if domain_cap_k is not None:
        from dedupe_algo_spark.functions.urls import registered_domain
        from dedupe_algo_spark.operators.sampling import domain_cap

        capped = domain_cap(
            kept.withColumn("_dom", registered_domain(F.col("url"))),
            k=domain_cap_k,
            domain_col="_dom",
            key_col="url",
            seed=seed + 3,
        ).drop("_dom").persist()
        lineage["domain_cap"] = capped.count()
        kept.unpersist()
        kept = capped

    # 5. decontamination against the eval corpus (optional)
    final = kept
    if eval_docs is not None:
        final = decontaminate(
            kept, eval_docs, n=contam_ngram, id_col="url", text_col="text"
        ).persist()
        lineage["decontam"] = final.count()
        kept.unpersist()

    # 6. mixing: deterministic sample + split (pure narrow filters).
    # alpha= derives the rates from the surviving corpus itself: α-
    # sampling boosts (operators/sampling.mixture_weights) normalized
    # by the max boost, because a hash-threshold sampler can only
    # DOWNsample — the highest-boost (lowest-resource) language keeps
    # rate 1.0 and everything else scales down proportionally, which
    # preserves the α-distribution's stratum ratios exactly.
    if alpha is not None:
        from dedupe_algo_spark.operators.sampling import mixture_weights

        w = mixture_weights(final, stratum_col="lang", alpha=alpha).collect()
        # degenerate corpora (empty, or all-zero-token strata -> boost 0
        # by mixture_weights' contract) fall back to explicit/default
        # rates instead of dividing by a zero max
        top = max((r["boost"] for r in w), default=0.0)
        if top > 0:
            rates = {r["lang"]: r["boost"] / top for r in w}
            lineage["alpha_rates"] = {
                r["lang"]: round(rates[r["lang"]], 4) for r in w
            }
    mixed = stratified_sample(
        final,
        rates or {},
        default_rate=default_rate,
        stratum_col="lang",
        key_col="url",
        seed=seed,
    )
    # exact per-language token caps after rate sampling: rates shape
    # the mix proportionally, budgets pin absolute token mass (the
    # unit the training run is actually provisioned in)
    if token_budgets:
        from dedupe_algo_spark.operators.sampling import token_budget_sample

        mixed = token_budget_sample(
            mixed,
            token_budgets,
            stratum_col="lang",
            key_col="url",
            seed=seed + 4,
        )
    mixed = deterministic_split(
        mixed,
        fractions or {"train": 0.98, "valid": 0.01, "test": 0.01},
        key_col="url",
        seed=seed + 1,
    )
    # 6b. optional link-graph quality column: damped PageRank over the
    # SURVIVING pages' host graph (codegen href extraction), attached
    # as `host_rank` for the trainer to weight with — deliberately a
    # new column, not a sample_weight rewrite: rank is a quality
    # signal, not a sampling decision, and conflating them would bake
    # one policy into the corpus. Hosts with no link presence get the
    # teleport floor via a left join + min-rank fill.
    if link_rank:
        from dedupe_algo_spark.functions.urls import host_of
        from dedupe_algo_spark.operators.linkgraph import host_edges, pagerank
        from dedupe_algo_spark.operators.scoring import BROADCAST_URL_LIMIT

        if not has_html:
            raise ValueError("--link-rank needs an html column in the input")
        # html is read through a semi-join carve-out against the kept
        # capture keys, so the extractor scans only surviving pages and
        # html never enters an exchange (slim keys broadcast when the
        # last lineage count — an upper bound on |mixed| with zero
        # extra jobs — allows it)
        kept_keys = mixed.select("url", "warc_ts")
        upper = lineage.get(
            "decontam",
            lineage.get("domain_cap", lineage["content_dedup"]),
        )
        if upper <= BROADCAST_URL_LIMIT:
            kept_keys = F.broadcast(kept_keys)
        kept_src = src.join(kept_keys, ["url", "warc_ts"], "left_semi")
        # dedup_key: a capture key duplicated in the raw input (merged
        # dumps) must not double-count its outlinks — host_edges
        # collapses on the slim extracted projection, html unexchanged
        edges = host_edges(
            kept_src.where(F.col("html").isNotNull()),
            dedup_key=["url", "warc_ts"],
        )
        ranks = pagerank(
            edges.withColumnRenamed("src_host", "src").withColumnRenamed(
                "dst_host", "dst"
            ),
            iterations=10,
            weight_col="n_links",
        ).withColumnRenamed("node", "_rhost")
        floor = ranks.agg(F.min("pagerank")).first()[0] or 0.0
        mixed = (
            mixed.withColumn("_host", host_of(F.col("url")))
            .join(F.broadcast(ranks), F.col("_host") == F.col("_rhost"), "left")
            .withColumn("host_rank", F.coalesce("pagerank", F.lit(floor)))
            .drop("_host", "_rhost", "pagerank")
        )

    # 7. optional training-order export shuffle: rerun-stable
    # pseudo-random (shard, pos) total order. One exchange on shard;
    # the caller's writer should emit shard-partitioned files with rows
    # position-sorted (main() below repartitions by shard and sorts
    # within partitions so each output file IS a training-order run).
    if shuffle_shards is not None:
        from dedupe_algo_spark.operators.sampling import corpus_shuffle

        mixed = corpus_shuffle(
            mixed, key_col="url", seed=seed + 2, num_shards=shuffle_shards
        )
    if keep_html and has_html:
        # export-time html reattach: the one place the payload moves —
        # a single join on the capture key against the never-cached
        # source, with the html slice made UNIQUE per capture key
        # first (max(html) — deterministic) so a duplicated input
        # capture cannot fan the deduplicated corpus back out to two
        # rows. The max(html) groupBy is the one html exchange in the
        # job and exists only on this convenience path;
        # ``keep_html=False`` (--drop-html) skips it entirely: the
        # at-scale export shape, where html stays in the source store
        # addressable by (url, warc_ts).
        html_slice = (
            src.select("url", "warc_ts", "html")
            .groupBy("url", "warc_ts")
            .agg(F.max("html").alias("html"))
        )
        mixed = mixed.join(html_slice, ["url", "warc_ts"], "left")
    return mixed, lineage, lambda: final.unpersist()


def pack_map(mixed, seq_len: int, sep_tokens: int = 1):
    """Stage 8 (``--pack-seq-len``): the concat-and-chunk packing map
    for the export writer — which tokens of which document land in
    which fixed-length training block (GPT-style concatenation with
    one EOS slot per document). Packing is per (split, shard): a block
    must never straddle a split boundary, so the two columns are fused
    into one narrow window key and the whole map still costs ONE hash
    exchange (it runs over the re-read committed output).
    → (url, split, shard, block, doc_start, block_off, n_toks)."""
    from pyspark.sql import functions as F

    from dedupe_algo_spark.operators.chunking import pack_sequences

    tagged = mixed.withColumn(
        "_ps", F.concat_ws("/", F.col("split"), F.col("shard"))
    )
    packed = pack_sequences(
        tagged,
        seq_len=seq_len,
        sep_tokens=sep_tokens,
        id_col="url",
        shard_col="_ps",
        pos_col="pos",
    )
    return packed.select(
        "url",
        F.substring_index("shard", "/", 1).alias("split"),
        F.substring_index("shard", "/", -1).cast("int").alias("shard"),
        "block",
        "doc_start",
        "block_off",
        "n_toks",
    )


def main() -> None:
    p = argparse.ArgumentParser(description="end-to-end corpus preparation")
    p.add_argument("--input")
    p.add_argument(
        "--input-format",
        choices=["parquet", "warc", "wet"],
        default="parquet",
        help="'warc': read --input as a directory of .warc[.gz] segments "
        "(binaryFile → sources/warc.pages_from_warc)",
    )
    p.add_argument("--synth", type=int, default=0)
    p.add_argument("--output", required=True)
    p.add_argument("--eval", dest="eval_path")
    p.add_argument(
        "--robots",
        default=None,
        help="parquet of (host, body) robots.txt captures: drop urls the "
        "crawl policy disallows before any other stage (RFC 9309)",
    )
    p.add_argument("--robots-agent", default="*")
    p.add_argument(
        "--drop-html",
        action="store_true",
        help="leave html out of the export (the at-scale shape: html "
        "stays in the source store addressable by (url, warc_ts)); "
        "without it html rejoins the kept rows at write time",
    )
    p.add_argument(
        "--link-rank",
        action="store_true",
        help="attach a host_rank column: damped PageRank over the "
        "surviving pages' host link graph (href extraction from html)",
    )
    p.add_argument("--contam-ngram", type=int, default=13)
    p.add_argument("--rates", default="")
    p.add_argument(
        "--alpha",
        type=float,
        default=None,
        help="derive per-language sampling rates from the corpus's own "
        "token shares via alpha-sampling (overrides --rates)",
    )
    p.add_argument("--default-rate", type=float, default=1.0)
    p.add_argument("--train", type=float, default=0.98)
    p.add_argument("--valid", type=float, default=0.01)
    p.add_argument("--test", type=float, default=0.01)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument(
        "--c4",
        action="store_true",
        help="apply C4 lexical hygiene (line cut + page verdicts) "
        "before the quality gate",
    )
    p.add_argument("--c4-min-words", type=int, default=3)
    p.add_argument("--c4-min-sentences", type=int, default=5)
    p.add_argument(
        "--c4-blocklist",
        default="",
        help="comma-separated phrases that drop a page outright",
    )
    p.add_argument(
        "--domain-cap",
        type=int,
        default=None,
        help="keep at most K pages per registered domain after dedup "
        "(unbiased hash-order sample, megadomain-safe two-phase top-k)",
    )
    p.add_argument(
        "--shuffle-shards",
        type=int,
        default=None,
        help="append a rerun-stable pseudo-random training order "
        "(shard, pos) and write each shard position-sorted",
    )
    p.add_argument(
        "--token-budgets",
        default="",
        help="exact per-language token caps after rate sampling, e.g. "
        "en=5000000000,de=1000000000; unlisted languages pass whole",
    )
    p.add_argument(
        "--pack-seq-len",
        type=int,
        default=None,
        help="also write <output>_packmap: the concat-and-chunk "
        "packing map cutting each (split, shard) token stream into "
        "fixed blocks of this many tokens (requires --shuffle-shards)",
    )
    args = p.parse_args()
    if bool(args.input) == bool(args.synth):
        p.error("exactly one of --input / --synth required")
    if args.pack_seq_len is not None and not args.shuffle_shards:
        p.error("--pack-seq-len requires --shuffle-shards")
    if args.pack_seq_len is not None and args.pack_seq_len <= 0:
        p.error("--pack-seq-len must be positive")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.getOrCreate()
    if args.synth:
        from dedupe_algo_spark.synth import synth_pages

        pages = synth_pages(spark, args.synth)
    else:
        from dedupe_algo_spark.sources.warc import load_pages

        pages = load_pages(spark, args.input, args.input_format)
    eval_docs = (
        spark.read.parquet(args.eval_path) if args.eval_path else None
    )
    robots_rules = None
    if args.robots:
        from dedupe_algo_spark.operators.robots import parse_robots

        robots_rules = parse_robots(spark.read.parquet(args.robots))
    mixed, lineage, release = prepare(
        spark,
        pages,
        eval_docs=eval_docs,
        contam_ngram=args.contam_ngram,
        rates=_parse_rates(args.rates),
        default_rate=args.default_rate,
        fractions={"train": args.train, "valid": args.valid, "test": args.test},
        seed=args.seed,
        threshold=args.threshold,
        c4=args.c4,
        c4_min_words=args.c4_min_words,
        c4_min_sentences=args.c4_min_sentences,
        c4_blocklist=tuple(
            w.strip() for w in args.c4_blocklist.split(",") if w.strip()
        ),
        alpha=args.alpha,
        domain_cap_k=args.domain_cap,
        shuffle_shards=args.shuffle_shards,
        token_budgets={
            k: int(float(v)) for k, v in _parse_rates(args.token_budgets).items()
        }
        or None,
        robots_rules=robots_rules,
        robots_agent=args.robots_agent,
        link_rank=args.link_rank,
        keep_html=not args.drop_html,
    )
    writer = mixed
    if args.shuffle_shards:
        # one file group per (split, shard); rows inside each file are in
        # training order, so a trainer streams files by (shard, pos)
        writer = mixed.repartition(args.shuffle_shards, "shard").sortWithinPartitions(
            "shard", "pos"
        )
    writer.write.mode("overwrite").partitionBy("split").parquet(args.output)
    release()
    out = spark.read.parquet(args.output)
    lineage["output"] = out.count()
    for s in ("train", "valid", "test"):
        lineage[f"output_{s}"] = out.where(F.col("split") == s).count()
    if args.pack_seq_len is not None:
        pm = pack_map(out, seq_len=args.pack_seq_len)
        pm.write.mode("overwrite").partitionBy("split").parquet(
            args.output + "_packmap"
        )
        stats = (
            spark.read.parquet(args.output + "_packmap")
            .agg(
                F.count(F.lit(1)).alias("segments"),
                F.count_distinct("split", "shard", "block").alias("blocks"),
            )
            .collect()[0]
        )
        lineage["pack_segments"] = stats["segments"]
        lineage["pack_blocks"] = stats["blocks"]
    print(json.dumps({"lineage": lineage}))
    spark.stop()


if __name__ == "__main__":
    main()
