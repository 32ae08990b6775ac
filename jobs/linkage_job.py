"""spark-submit entry point for EM-calibrated probabilistic linkage.

The full Fellegi–Sunter record-linkage DAG, end to end:

    blocking (multi-rule union) → comparison vectors → EM parameter fit
    over γ-pattern counts → likelihood-ratio scoring → match edges →
    large-star/small-star transitive clustering → (id, entity_id)

Run on any cluster as:

    spark-submit --master <master> \
        --py-files dedupe_algo_spark.zip \
        jobs/linkage_job.py \
        --input /path/to/records_parquet \
        --output /path/to/entities_out \
        --id-col doc_id \
        --fields lang,source,n_chars \
        --rules "lang,n_chars;source" \
        [--upper 100] [--lower 1] [--em-iter 50]

Architecture notes (why this shape survives 10^12 records):
- blocking never enumerates the cross product: each rule is its own
  self-equi-join and cross-rule dedup is a codegen first-match
  predicate (operators/blocking.py:multi_rule_pairs). The blocked
  pairs carry both records' fields, so scoring reads them with no
  join back by id (which would multiply pairs on a repeated id).
- EM sees only the γ-pattern COUNT table (≤2^k rows, one partial-agg
  groupBy) — the driver loop's cost is independent of pair count
  (operators/linkage.py:em_fit).
- u is initialized from the data (Σn_v²/N² per field — one scalar
  aggregate each) so EM starts near the truth for the non-match class.
- scoring is pure whole-stage codegen (CASE-weight product); match
  edges feed the SAME checkpointed CC operator the dedup cascade uses.
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def link(
    spark: SparkSession,
    records: DataFrame,
    id_col: str,
    fields: list[str],
    rules: list[list[str]],
    upper: float = 100.0,
    lower: float = 1.0,
    em_iter: int = 50,
    m0: float = 0.9,
) -> tuple[DataFrame, DataFrame, dict, "callable"]:
    """Run the full probabilistic-linkage DAG. Returns
    (scored_pairs, entity_assignments, fitted_params, release) —
    call ``release()`` after consuming the outputs to drop the
    persisted blocked-pair γ table."""
    from dedupe_algo_spark.operators.blocking import multi_rule_pairs
    from dedupe_algo_spark.operators.cluster import connected_components
    from dedupe_algo_spark.operators.linkage import (
        em_fit,
        fs_pattern_counts,
        fs_score_pairs,
        u_probabilities,
    )

    cols = list(dict.fromkeys([id_col, *fields, *(c for r in rules for c in r)]))
    slim = records.select(*cols)

    # the blocked pairs carry both records' fields (a_<f>/b_<f>)
    pairs = multi_rule_pairs(slim, id_col, rules)

    u0 = u_probabilities(slim, fields)
    m_init = {f: m0 for f in fields}

    # One pass to γ-vectors + pattern counts (the thresholds don't
    # matter yet — only the γ columns feed EM), persisted so the
    # scoring pass below reuses the blocked join instead of repeating it
    gammas = fs_score_pairs(pairs, fields, m_init, u0, upper, lower).persist()
    pats = [
        (tuple(r["g_" + f] for f in fields), r["n_pairs"])
        for r in fs_pattern_counts(gammas, fields).collect()
    ]
    m_fit, u_fit, p_fit = em_fit(
        pats,
        len(fields),
        m0=m0,
        u0=sum(u0.values()) / max(len(u0), 1) or 0.1,
        n_iter=em_iter,
    )
    m = dict(zip(fields, m_fit))
    u = dict(zip(fields, u_fit))

    # Re-score from the persisted γ columns directly (no second join):
    from dedupe_algo_spark.operators.linkage import fs_likelihood_ratio

    lr = fs_likelihood_ratio(fields, m, u)
    scored = gammas.select(
        "id_a",
        "id_b",
        "rule",
        *["g_" + f for f in fields],
        lr.alias("lr"),
        F.when(lr >= F.lit(upper), F.lit("match"))
        .when(lr >= F.lit(lower), F.lit("possible"))
        .otherwise(F.lit("nonmatch"))
        .alias("decision"),
    )

    edges = scored.where(F.col("decision") == "match").select(
        F.col("id_a").cast("string"), F.col("id_b").cast("string")
    )
    entities = connected_components(edges).withColumnsRenamed(
        {"url": "id", "component": "entity_id"}
    )
    params = {
        "m": m,
        "u": u,
        "p": p_fit,
        "u_data": u0,
        "n_patterns": len(pats),
        "n_pairs": int(sum(c for _, c in pats)),
    }
    return scored, entities, params, lambda: gammas.unpersist()


def main() -> None:
    p = argparse.ArgumentParser(description="EM-calibrated probabilistic linkage")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--fields", default=None, help="comma-separated compare fields")
    p.add_argument(
        "--rules",
        default=None,
        help="semicolon-separated blocking rules, each comma-separated keys",
    )
    p.add_argument(
        "--pages-mode",
        action="store_true",
        help="input is a Common-Crawl-style pages table (url, warc_ts, "
        "html, text, lang): derive the standard linkage fields "
        "(id=url, lang, n=length(text), p16/p48 text prefixes) and "
        "default to --fields lang,p16,p48 --rules n",
    )
    p.add_argument("--upper", type=float, default=100.0)
    p.add_argument("--lower", type=float, default=1.0)
    p.add_argument("--em-iter", type=int, default=50)
    args = p.parse_args()

    spark = SparkSession.builder.appName("probabilistic-linkage").getOrCreate()
    records = spark.read.parquet(args.input)
    if args.pages_mode:
        records = records.select(
            F.col("url").alias("id"),
            "lang",
            F.length("text").alias("n"),
            F.substring("text", 1, 16).alias("p16"),
            F.substring("text", 1, 48).alias("p48"),
        )
        args.id_col = "id"
        args.fields = args.fields or "lang,p16,p48"
        args.rules = args.rules or "n"
    if not args.fields or not args.rules:
        p.error("--fields and --rules are required without --pages-mode")
    fields = [f for f in args.fields.split(",") if f]
    rules = [[k for k in r.split(",") if k] for r in args.rules.split(";") if r]
    scored, entities, params, release = link(
        spark,
        records,
        args.id_col,
        fields,
        rules,
        upper=args.upper,
        lower=args.lower,
        em_iter=args.em_iter,
    )
    scored.write.mode("overwrite").parquet(args.output + "/scored_pairs")
    entities.write.mode("overwrite").parquet(args.output + "/entities")
    release()
    print({"params": params})
    spark.stop()


if __name__ == "__main__":
    main()
