"""End-to-end EM-calibrated probabilistic linkage (jobs/linkage_job.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from jobs.linkage_job import link


def test_linkage_job_end_to_end(spark):
    """Blocking → γ vectors → EM fit → scoring → CC entities on 600
    synthetic pages. The planted exact copies must (a) drive the fitted
    m for the strong prefix fields high and (b) all land in one entity
    per copy group."""
    from dedupe_algo_spark.synth import synth_pages

    pages = synth_pages(spark, 600).cache()
    recs = pages.select(
        F.col("url").alias("id"),
        "lang",
        F.length("text").alias("n"),
        F.substring("text", 1, 16).alias("p16"),
        F.substring("text", 1, 48).alias("p48"),
    )
    scored, entities, params, release = link(
        spark, recs, "id", ["lang", "p16", "p48"], [["n"]], upper=1000.0
    )
    ent = {r["id"]: r["entity_id"] for r in entities.collect()}
    decisions = scored.groupBy("decision").count().collect()
    release()

    # the match class exists (planted copies) → EM pushes the strong
    # fields' m toward 1
    assert params["m"]["p48"] > 0.9, params
    assert params["m"]["p16"] > 0.9, params
    # p = match prevalence WITHIN blocked pairs: exact-length blocking
    # is so selective on this corpus that most candidates are matches
    assert 0.5 < params["p"] < 1.0, params
    assert params["n_pairs"] > 0 and params["n_patterns"] <= 8

    # recall on planted exact copies: identical text ⇒ one entity
    pdf = pages.select("url", "text").toPandas()
    pages.unpersist()
    groups = pdf.groupby("text")["url"].apply(list)
    n_groups = 0
    for urls in groups:
        if len(urls) >= 2:
            n_groups += 1
            es = {ent.get(u) for u in urls}
            assert len(es) == 1 and None not in es, urls
    assert n_groups > 0  # the fixture really planted copies

    # all three decision classes are reachable on this data
    kinds = {r["decision"] for r in decisions}
    assert "match" in kinds and "nonmatch" in kinds


def test_repeated_id_scores_each_blocked_pair_once(spark):
    """A repeated id (``--pages-mode`` ids are urls, which crawls
    repeat) must not multiply pairs: link() scores exactly the rows
    multi_rule_pairs blocks, so EM counts each blocked pair once."""
    from dedupe_algo_spark.operators.blocking import multi_rule_pairs

    recs = spark.createDataFrame(
        [("u1", "en", "aa"), ("u1", "en", "ab"), ("u2", "en", "aa"), ("u3", "de", "zz")],
        "id string, lang string, p string",
    )
    assert multi_rule_pairs(recs, "id", [["lang"]]).count() == 2
    scored, _, params, release = link(spark, recs, "id", ["p"], [["lang"]])
    got = sorted((r["id_a"], r["id_b"], r["g_p"]) for r in scored.collect())
    release()
    assert got == [("u1", "u2", 0), ("u1", "u2", 1)]
    assert params["n_pairs"] == 2
