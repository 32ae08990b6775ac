"""Cluster-integrity audit (operators/integrity.py)."""

from dedupe_algo_spark.operators.integrity import keeper_audit


def _tables(spark):
    pages = spark.createDataFrame(
        [
            ("a", "alpha beta gamma delta"),
            ("b", "alpha beta gamma delta epsilon"),  # near-copy of a
            ("c", "totally unrelated words here"),  # chain-only member
            ("d", "singleton text"),
        ],
        "url string, text string",
    )
    assigns = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("c", "c1"), ("d", "c2")],
        "url string, cluster_id string",
    )
    return assigns, pages


def test_keeper_audit_flags_chain_only_members(spark):
    assigns, pages = _tables(spark)
    out = {
        r.url: r
        for r in keeper_audit(assigns, pages, threshold=0.5).collect()
    }
    # keeper "a" itself and singleton "d" are not audited
    assert set(out) == {"b", "c"}
    assert out["b"].keeper == "a" and out["c"].keeper == "a"
    assert out["b"].score == 4 / 5 and not out["b"].flagged
    assert out["c"].score == 0.0 and out["c"].flagged


def test_keeper_audit_text_never_shuffles(spark, tmp_path):
    """Scale claim: the id-join moves token arrays, never the text
    column (tokenize-at-scan)."""
    from dedupe_algo_spark.plans import exchange_columns

    assigns, pages = _tables(spark)
    p = str(tmp_path / "pages")
    a = str(tmp_path / "assigns")
    pages.write.parquet(p)
    assigns.write.parquet(a)
    out = keeper_audit(
        spark.read.parquet(a), spark.read.parquet(p), threshold=0.5
    )
    assert "text" not in exchange_columns(out)
