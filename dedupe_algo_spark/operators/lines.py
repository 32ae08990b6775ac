"""Line/paragraph-level boilerplate dedup (CCNet-style unit hashing).

Web pages share far more LINES than whole documents: navigation bars,
cookie banners, footers, and license blurbs repeat across millions of
urls while the surrounding page is unique. The public treatment is
CCNet (Wenzek et al., LREC 2020), which hashes each paragraph and
drops paragraphs whose hash repeats across the shard, and Dolma /
RefinedWeb, which do the same per line — both dials ship here via
``unit=`` ("line" splits on newline; "paragraph" on blank-line runs,
rewriting with a canonical blank line). Document-level dedup (the
hash cascade in ``operators/dedup.py``) cannot see this — two pages
with the same footer and different bodies are not near-duplicates.

Spark-native shape (same scale contract as ``operators/spans.py``):
the corpus explodes to slim ``(id, line_no, key)`` triples — the text
column itself NEVER shuffles — the frequency aggregate gets map-side
partial combine on the line key, and the surviving frequent-line set
joins back against a second codegen scan of the input. The rewrite
then runs entirely inside whole-stage codegen (filter + concat_ws on
the split array). The shuffle key is the normalized line string,
exactly reproducible by the DuckDB oracle.

Reference parity: dedupe-algo's cascade compares whole files only
(src-tauri/src/scanner.rs); line-level dedup is part of the web-scale
generalization mandated by BASELINE.json's north_star (training-data
pipeline operators beyond the reference's own surface).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _norm(line: Column) -> Column:
    """CCNet-style line normalization: trim + lowercase + collapse every
    digit run to ``0``. Kept to algebra both Spark and DuckDB evaluate
    identically (no Unicode case folding surprises beyond ``lower``)."""
    return F.regexp_replace(F.lower(F.trim(line)), r"[0-9]+", "0")


# unit dials: CCNet hashes PARAGRAPHS, Dolma/RefinedWeb hash LINES —
# same algorithm, different split. Paragraph mode splits on blank-line
# runs and rewrites with a canonical double-newline joiner.
UNITS = {"line": ("\n", "\n"), "paragraph": (r"\n{2,}", "\n\n")}


def duplicate_line_stats(
    docs: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    unit: str = "line",
) -> DataFrame:
    """→ (``id_col``, line_no, line_key, n_docs): every site of a
    normalized line that occurs in ≥ ``min_docs`` distinct documents.
    ``line_no`` is the 0-based position of the line in its document;
    ``line_key`` is the normalized line text; ``n_docs`` its
    distinct-document frequency.

    Plan shape: one explode to (id, line_no, key) — tokens of text per
    row, never the document — one groupBy(key) with partial
    aggregation, one join back to the exploded sites. Empty lines
    (blank after normalization) are never counted as boilerplate.
    """
    sep, _ = UNITS[unit]
    sites = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("line_no", "_raw"),
    ).select(
        id_col, "line_no", _norm(F.col("_raw")).alias("line_key")
    ).where(F.col("line_key") != "")
    freq = (
        sites.groupBy("line_key")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )
    return sites.join(freq, "line_key").select(
        id_col, "line_no", "line_key", "n_docs"
    )


def remove_duplicate_lines(
    docs: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    unit: str = "line",
) -> DataFrame:
    """CCNet's line cut: rewrite each document with every line whose
    normalized form appears in ≥ ``min_docs`` distinct documents
    removed (blank lines are preserved — they carry no signal and
    keeping them makes the rewrite a pure per-line verdict).

    → (``id_col``, n_lines, n_removed, kept_text): ``kept_text`` joins
    the surviving lines with ``\\n`` in original order.

    Scale shape on top of :func:`duplicate_line_stats`: the frequent
    normalized-line set (already ≤ distinct-lines, post-filter — the
    SMALL side at web scale, since boilerplate is by definition a
    small set of high-frequency strings) aggregates to one array and
    broadcasts via a left join on nothing heavier than the doc id;
    the per-document line filter then runs map-side inside codegen.
    Documents with no flagged line pass through the left join
    untouched.
    """
    sep, joiner = UNITS[unit]
    flagged = (
        duplicate_line_stats(
            docs, min_docs=min_docs, id_col=id_col, text_col=text_col, unit=unit
        )
        .groupBy(id_col)
        .agg(F.collect_set("line_no").alias("_drop"))
    )
    lines = F.split(F.col(text_col), sep)
    drop = F.coalesce(F.col("_drop"), F.array().cast("array<int>"))
    kept = F.filter(lines, lambda ln, i: ~F.array_contains(drop, i))
    return docs.join(flagged, id_col, "left").select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        (F.size(lines) - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(joiner, kept).alias("kept_text"),
    )
