"""Line-level boilerplate dedup (CCNet-style)."""

from __future__ import annotations

from dedupe_algo_spark.operators.lines import (
    duplicate_line_stats,
    remove_duplicate_lines,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_shared_footer_flagged_everywhere(spark):
    """A footer line shared by 3 docs is flagged at each site with the
    right distinct-doc count; unique lines are untouched."""
    docs = _docs(
        spark,
        [
            (1, "my unique story\nCopyright 2024 Example Corp"),
            (2, "another body\nCopyright 2024 Example Corp\ntrailing bit"),
            (3, "Copyright 2024 Example Corp"),
            (4, "nothing shared here"),
        ],
    )
    out = duplicate_line_stats(docs).toPandas()
    got = sorted(map(tuple, out[["doc_id", "line_no"]].values))
    assert got == [(1, 1), (2, 1), (3, 0)]
    assert (out["n_docs"] == 3).all()
    # digit runs collapse to 0 in the key
    assert set(out["line_key"]) == {"copyright 0 example corp"}


def test_normalization_merges_case_and_digits(spark):
    """'Page 12 of 99' and 'page 3 of 4' are the same boilerplate line
    after CCNet normalization (lowercase, digit runs → 0)."""
    docs = _docs(spark, [(1, "body a\nPage 12 of 99"), (2, "page 3 of 4")])
    out = duplicate_line_stats(docs).toPandas()
    assert len(out) == 2
    assert set(out["line_key"]) == {"page 0 of 0"}


def test_within_doc_repeat_not_boilerplate(spark):
    """min_docs counts DISTINCT docs — a line repeated inside one doc
    only is not flagged; blank lines never count."""
    docs = _docs(
        spark, [(1, "same line\n\nsame line"), (2, "other\n   \nother2")]
    )
    assert duplicate_line_stats(docs).count() == 0


def test_remove_rewrites_and_preserves_order(spark):
    docs = _docs(
        spark,
        [
            (1, "first body line\nSHARED FOOTER\nlast body line"),
            (2, "shared footer"),
            (3, "untouched\ndoc"),
        ],
    )
    out = (
        remove_duplicate_lines(docs)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[1, "kept_text"] == "first body line\nlast body line"
    assert (out.loc[1, "n_lines"], out.loc[1, "n_removed"]) == (3, 1)
    assert out.loc[2, "kept_text"] == ""
    assert out.loc[3, "kept_text"] == "untouched\ndoc"
    assert out.loc[3, "n_removed"] == 0


def test_paragraph_unit_cuts_shared_paragraphs(spark):
    """unit='paragraph' (CCNet's actual unit): a footer PARAGRAPH
    shared by >= min_docs docs is cut whole, multi-line body paragraphs
    survive intact, and the rewrite joins with a canonical blank
    line."""
    footer = "Follow us on social media.\nAll rights reserved."
    docs = spark.createDataFrame(
        [
            (1, f"Unique body one.\nStill paragraph one.\n\n{footer}"),
            (2, f"Another body here.\n\n{footer}"),
            (3, f"Third document text.\n\n\n{footer}"),  # 3 blank-split
            (4, "No footer in this one.\n\nJust two paragraphs."),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_lines(docs, min_docs=3, unit="paragraph").collect()
    }
    assert out[1]["kept_text"] == "Unique body one.\nStill paragraph one."
    assert out[1]["n_lines"] == 2 and out[1]["n_removed"] == 1
    assert out[2]["kept_text"] == "Another body here."
    assert out[3]["kept_text"] == "Third document text."  # \n{2,} one split
    assert out[4]["n_removed"] == 0
    assert out[4]["kept_text"] == "No footer in this one.\n\nJust two paragraphs."
