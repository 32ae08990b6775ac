"""Query registry — every SURVEY.md §2 operator demonstrated over the
driver's parquet tables, each with a DuckDB oracle-SQL twin.

Conventions (driver contract, __spark_entry__.py):
* every callable takes (spark, sf_dir) and returns a DataFrame;
* every computed column is aliased identically in the Spark plan and
  the oracle SQL;
* doubles are rounded on BOTH sides (engine-order float drift would
  break the value hash);
* timestamps leave as formatted strings for the same reason.

The dedup-specific UDF stages (MinHash, fingerprints, media) are
registered without oracles — the driver records rows-only checks; their
real correctness gate is tests/ against planted ground truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.text import (
    STOPWORDS,
    lang_id_heuristic,
    punct_ratio,
    quality_score,
    token_count,
    word_tokens,
    ws_tokens,
)
from .operators import views
from .operators.ann import brute_force_topk, cosine_sim
from .sources.tables import load_table

# Committed snapshot the DuckDB snapshot-oracles read — resolved from
# this module's location at import time so the oracles work from any
# checkout root, not just /root/repo (byte-identity between snapshot
# and live generator is pinned by test_synth).
import os as _os

SNAPSHOT_2K = _os.path.abspath(
    _os.path.join(_os.path.dirname(__file__), "..", "fixtures", "pages_2000.parquet")
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _twin_corpus(spark: SparkSession, sf_dir: str, n_tokens: int):
    """The planted-twin corpus: documents with doc_id < 100 ∪ a twin of
    each at doc_id + 10000 whose text is its first ``n_tokens``
    whitespace tokens. → (corpus (doc_id, text), pairs (id_a, id_b):
    each base doc with its own twin)."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 100)
    twin_id = (F.col("doc_id") + 10000).alias("doc_id")
    first = F.slice(ws_tokens(F.col("text")), 1, n_tokens)
    twins = docs.select(twin_id, F.concat_ws(" ", first).alias("text"))
    pairs = docs.select(F.col("doc_id").alias("id_a"), twin_id.alias("id_b"))
    return docs.select("doc_id", "text").unionByName(twins), pairs


# ---------------------------------------------------------------------------
# Dedup cascade over `documents` (n_chars = the reference's `size` key)
# ---------------------------------------------------------------------------

def q_size_clusters(spark, sf_dir):
    """A1 — pass-1 hash-agg: group by size, keep groups ≥2 (lib.rs:54-64)."""
    return (
        _docs(spark, sf_dir)
        .groupBy("n_chars")
        .agg(F.count(F.lit(1)).alias("n_members"), F.min("doc_id").alias("min_doc_id"))
        .where(F.col("n_members") >= 2)
    )


SQL_SIZE_CLUSTERS = """
SELECT n_chars, COUNT(*) AS n_members, MIN(doc_id) AS min_doc_id
FROM documents GROUP BY n_chars HAVING COUNT(*) >= 2
"""


def q_singleton_prune(spark, sf_dir):
    """F7 — singleton-group discard via window count (lib.rs:61-64)."""
    from .operators.blocking import prune_singleton_blocks

    return prune_singleton_blocks(
        _docs(spark, sf_dir).select("doc_id", "n_chars"), key="n_chars"
    )


SQL_SINGLETON_PRUNE = """
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars, COUNT(*) OVER (PARTITION BY n_chars) AS _n
  FROM documents
) WHERE _n >= 2
"""


def q_exact_hash_clusters(spark, sf_dir):
    """A3 — pass-3 grouping by (size, content hash) (lib.rs:155-160)."""
    return (
        _docs(spark, sf_dir)
        .select("n_chars", F.md5(F.col("text").cast("binary")).alias("content_hash"), "doc_id")
        .groupBy("n_chars", "content_hash")
        .agg(F.count(F.lit(1)).alias("n_members"), F.min("doc_id").alias("min_doc_id"))
        .where(F.col("n_members") >= 2)
    )


SQL_EXACT_HASH_CLUSTERS = """
SELECT n_chars, md5(text) AS content_hash, COUNT(*) AS n_members, MIN(doc_id) AS min_doc_id
FROM documents GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


def q_keeper_ranking(spark, sf_dir):
    """W1/W2 — keeper ranking within size clusters, oldest-first with
    deterministic tie-break (useStore.ts:97-114)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", F.col("doc_id").cast("string").alias("_path")
    )
    from .operators.blocking import prune_singleton_blocks

    clusters = prune_singleton_blocks(docs, key="n_chars")
    ranked = views.keeper_ranking(
        clusters, cluster_col="n_chars", ts_col="doc_id", keep="oldest", path_col="_path"
    )
    return ranked.select("doc_id", "n_chars", "keeper_rank", "is_duplicate")


SQL_KEEPER_RANKING = """
SELECT doc_id, n_chars,
       ROW_NUMBER() OVER (PARTITION BY n_chars ORDER BY doc_id) AS keeper_rank,
       ROW_NUMBER() OVER (PARTITION BY n_chars ORDER BY doc_id) > 1 AS is_duplicate
FROM (
  SELECT doc_id, n_chars, COUNT(*) OVER (PARTITION BY n_chars) AS _n FROM documents
) WHERE _n >= 2
"""


def q_reclaimable(spark, sf_dir):
    """A4 — reclaimable space Σ size×(n−1) (ResultsView.tsx:101-108)."""
    clusters = q_singleton_prune(spark, sf_dir).withColumn(
        "cluster_id", F.col("n_chars")
    )
    return views.reclaimable_space(clusters, size_col="n_chars")


SQL_RECLAIMABLE = """
SELECT CAST(SUM(n_chars * (n - 1)) AS BIGINT) AS reclaimable_bytes FROM (
  SELECT n_chars, COUNT(*) AS n FROM documents GROUP BY 1 HAVING COUNT(*) >= 2
)
"""


def q_group_search(spark, sf_dir):
    """F8/W3 — keep whole cluster if ANY member matches the query
    (ResultsView.tsx:52-62)."""
    clusters = q_singleton_prune_full(spark, sf_dir)
    found = views.group_search(
        clusters, "spark", cluster_col="n_chars", path_col="text"
    )
    return found.select("doc_id", "n_chars")


def q_singleton_prune_full(spark, sf_dir):
    from .operators.blocking import prune_singleton_blocks

    return prune_singleton_blocks(
        _docs(spark, sf_dir).select("doc_id", "n_chars", "text"), key="n_chars"
    )


SQL_GROUP_SEARCH = """
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
         MAX(CASE WHEN contains(lower(text), 'spark') THEN 1 ELSE 0 END)
             OVER (PARTITION BY n_chars) AS hit
  FROM (
    SELECT doc_id, n_chars, text, COUNT(*) OVER (PARTITION BY n_chars) AS _n
    FROM documents
  ) WHERE _n >= 2
) WHERE hit = 1
"""


def q_category_rollup(spark, sf_dir):
    """A6 — per-language rollup, size desc (dataTransform.ts:21-59)."""
    return views.category_rollup(
        _docs(spark, sf_dir), category=F.col("lang"), size_col="n_chars"
    )


SQL_CATEGORY_ROLLUP = """
SELECT lang AS category, COUNT(*) AS n_files, CAST(SUM(n_chars) AS BIGINT) AS total_size
FROM documents GROUP BY lang ORDER BY total_size DESC, category
"""


def q_folder_rollup(spark, sf_dir):
    """A7 — two-level folder (source) rollup (dataTransform.ts:61-95)."""
    docs = _docs(spark, sf_dir).withColumn("cluster_id", F.col("n_chars"))
    return views.folder_rollup(
        docs, folder_col=F.col("source"), size_col="n_chars"
    )


SQL_FOLDER_ROLLUP = """
SELECT source AS folder, CAST(SUM(set_size) AS BIGINT) AS total_size, COUNT(*) AS n_dup_sets
FROM (
  SELECT source, n_chars, CAST(SUM(n_chars) AS BIGINT) AS set_size
  FROM documents GROUP BY source, n_chars HAVING COUNT(*) >= 2
) GROUP BY source ORDER BY total_size DESC, folder
"""


def q_dirname_rollup(spark, sf_dir):
    """A7 + C4 — folder rollup over a *derived* dirname (the reference
    groups by ``dirname(path)``, dataTransform.ts:61-67): paths are built
    from (source, lang, doc_id), then the named basename/dirname helpers
    split them back."""
    from .operators.filters import basename, dirname

    docs = _docs(spark, sf_dir).select(
        F.concat_ws(
            "/", "source", "lang", F.col("doc_id").cast("string")
        ).alias("path"),
        "n_chars",
    )
    return (
        docs.select(
            dirname(F.col("path")).alias("folder"),
            basename(F.col("path")).alias("leaf"),
            "n_chars",
        )
        .groupBy("folder")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_chars").alias("total_size"),
            F.max("leaf").alias("max_leaf"),
        )
    )


SQL_DIRNAME_ROLLUP = """
WITH t AS (
  SELECT source || '/' || lang || '/' || CAST(doc_id AS VARCHAR) AS path, n_chars
  FROM documents
)
SELECT regexp_replace(path, '/[^/]*$', '') AS folder,
       COUNT(*) AS n_files,
       CAST(SUM(n_chars) AS BIGINT) AS total_size,
       MAX(regexp_extract(path, '([^/]*)$', 1)) AS max_leaf
FROM t GROUP BY 1
"""


def q_cube_rollup(spark, sf_dir):
    """A7 generalized — grouping sets over (lang, source): the cube the
    reference's two-level folder view approximates (SURVEY §2.3 notes A7
    is grouping-sets-shaped)."""
    return (
        _docs(spark, sf_dir)
        .cube("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_size"))
    )


SQL_CUBE_ROLLUP = """
SELECT lang, source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_size
FROM documents GROUP BY CUBE (lang, source)
"""


def q_region_revenue(spark, sf_dir):
    """TPC-H Q5-flavored 5-way join: revenue by region — exercises join
    reordering + broadcast of the small dims."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


SQL_REGION_REVENUE = """
SELECT r_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_cache_validity_join(spark, sf_dir):
    """J1 — memo validity join: reuse hash only when stored size matches
    (lib.rs:97-105). Synthetic memo: even doc_ids, stale unless id%4==0."""
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars", "text")
    memo = docs.where(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        (
            F.col("n_chars")
            + F.when(F.col("doc_id") % 4 == 0, F.lit(0)).otherwise(F.lit(1))
        ).alias("stored_len"),
        F.md5(F.col("text").cast("binary")).alias("stored_hash"),
    )
    j = docs.join(memo, "doc_id", "left")
    return j.select(
        "doc_id",
        F.when(F.col("stored_len") == F.col("n_chars"), F.col("stored_hash")).alias(
            "reused_hash"
        ),
        (F.col("stored_len") == F.col("n_chars")).alias("cache_hit"),
    ).withColumn("cache_hit", F.coalesce(F.col("cache_hit"), F.lit(False)))


SQL_CACHE_VALIDITY_JOIN = """
WITH memo AS (
  SELECT doc_id,
         n_chars + (CASE WHEN doc_id % 4 = 0 THEN 0 ELSE 1 END) AS stored_len,
         md5(text) AS stored_hash
  FROM documents WHERE doc_id % 2 = 0
)
SELECT d.doc_id,
       CASE WHEN m.stored_len = d.n_chars THEN m.stored_hash END AS reused_hash,
       COALESCE(m.stored_len = d.n_chars, FALSE) AS cache_hit
FROM documents d LEFT JOIN memo m USING (doc_id)
"""


def q_prefix_theta_join(spark, sf_dir):
    """J4 — longest-prefix theta join (lib.rs:320-324), sources vs a tiny
    mount dimension (broadcast)."""
    paths = _docs(spark, sf_dir).select(F.col("source").alias("path")).distinct()
    mounts = spark.createDataFrame(
        [("src", "base"), ("src1", "extended")], "mount_point string, name string"
    )
    out = views.longest_prefix_join(paths, mounts)
    return out.select(F.col("path").alias("source"), F.col("name").alias("mount_name"))


SQL_PREFIX_THETA_JOIN = """
WITH mounts(mount_point, name) AS (VALUES ('src', 'base'), ('src1', 'extended')),
paths AS (SELECT DISTINCT source FROM documents),
j AS (
  SELECT source, name,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY LENGTH(mount_point) DESC, mount_point) AS rn
  FROM paths JOIN mounts ON source LIKE mount_point || '%'
)
SELECT source, name AS mount_name FROM j WHERE rn = 1
"""


def q_partial_hash_clusters(spark, sf_dir):
    """A2/C1 — pass-2 grouping by (size, partial head+tail hash)
    (lib.rs:110-115; window semantics scanner.rs:21-48: first 16KB, plus
    last 16KB when content exceeds 32KB). The driver's documents have no
    byte-identical texts, so two long variants per doc are synthesized —
    same head and tail, one middle char mutated — and the grouping must
    collide them on the partial hash while the full hash still separates
    them (the reference's pass-2→pass-3 refinement, proven in one query)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.repeat(F.substring("text", 1, 50), 1000).alias("base")
    )
    mutated = F.concat(
        F.substring("base", 1, 20000),
        F.lit("X"),
        F.substring("base", 20002, 2_000_000),
    )
    variants = docs.select("doc_id", F.col("base").alias("vtext")).unionByName(
        docs.select("doc_id", mutated.alias("vtext"))
    )
    text = F.col("vtext")
    n = F.length(text)
    window = F.when(
        n > 32768,
        F.concat(F.substring(text, 1, 16384), F.substring(text, -16384, 16384)),
    ).otherwise(text)
    partial = F.when(n > 0, F.md5(window.cast("binary")))
    return (
        variants.select(
            n.alias("v_len"),
            partial.alias("partial_hash"),
            F.md5(text.cast("binary")).alias("full_hash"),
            "doc_id",
        )
        .groupBy("v_len", "partial_hash")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("full_hash").alias("n_full"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .where(F.col("n_members") >= 2)
    )


SQL_PARTIAL_HASH_CLUSTERS = """
WITH base AS (
  SELECT doc_id, repeat(substr(text, 1, 50), 1000) AS base FROM documents
), variants AS (
  SELECT doc_id, base AS vtext FROM base
  UNION ALL
  SELECT doc_id, substr(base, 1, 20000) || 'X' || substr(base, 20002, 2000000)
  FROM base
), hashed AS (
  SELECT doc_id, LENGTH(vtext) AS v_len,
         CASE WHEN LENGTH(vtext) > 0 THEN md5(
           CASE WHEN LENGTH(vtext) > 32768
                THEN substr(vtext, 1, 16384) ||
                     substr(vtext, LENGTH(vtext) - 16383, 16384)
                ELSE vtext END) END AS partial_hash,
         md5(vtext) AS full_hash
  FROM variants
)
SELECT v_len, partial_hash, COUNT(*) AS n_members,
       COUNT(DISTINCT full_hash) AS n_full, MIN(doc_id) AS min_doc_id
FROM hashed GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


def q_line_parse(spark, sf_dir):
    """S6/C12/A11 — whitespace-tokenized line parse with numeric casts
    and percent math (lib.rs:263-302, ScanQueueView.tsx:182): lines are
    synthesized from documents so the oracle sees identical input."""
    docs = _docs(spark, sf_dir)
    lines = docs.select(
        "doc_id",
        F.concat_ws(
            " ", F.col("source"), F.col("n_chars").cast("string"),
            F.col("doc_id").cast("string"),
        ).alias("line"),
    )
    toks = ws_tokens(F.col("line"))
    return lines.select(
        "doc_id",
        F.element_at(toks, 1).alias("name"),
        (F.element_at(toks, 2).cast("long") * 1024).alias("total_space"),
        F.element_at(toks, 3).cast("long").alias("used"),
    ).withColumn(
        "pct_used",
        F.when(F.col("total_space") == 0, F.lit(0)).otherwise(
            F.round(F.col("used") / F.col("total_space") * 100).cast("int")
        ),
    )


SQL_LINE_PARSE = r"""
WITH lines AS (
  SELECT doc_id, concat_ws(' ', source, CAST(n_chars AS VARCHAR),
                           CAST(doc_id AS VARCHAR)) AS line
  FROM documents
), t AS (
  SELECT doc_id, string_split_regex(TRIM(line), '\s+') AS toks FROM lines
)
SELECT doc_id,
       list_element(toks, 1) AS name,
       CAST(list_element(toks, 2) AS BIGINT) * 1024 AS total_space,
       CAST(list_element(toks, 3) AS BIGINT) AS used,
       CASE WHEN CAST(list_element(toks, 2) AS BIGINT) * 1024 = 0 THEN 0
            ELSE CAST(ROUND(CAST(list_element(toks, 3) AS BIGINT)
                 / (CAST(list_element(toks, 2) AS BIGINT) * 1024.0) * 100)
                 AS INT) END AS pct_used
FROM t
"""


def q_deletion_impact(spark, sf_dir):
    """A9/J2 — deletion impact summary: selected keys joined back to the
    corpus, per-category counts + total size (DeleteConfirmation.tsx:23-58)."""
    selection = spark.range(0, 500, 5).select(F.col("id").alias("doc_id"))
    return (
        _docs(spark, sf_dir)
        .join(F.broadcast(selection), "doc_id", "inner")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum("n_chars").alias("total_size"),
        )
    )


SQL_DELETION_IMPACT = """
SELECT lang, COUNT(*) AS n_selected, CAST(SUM(n_chars) AS BIGINT) AS total_size
FROM documents WHERE doc_id % 5 = 0 AND doc_id < 500 GROUP BY lang
"""


def q_post_delete_refilter(spark, sf_dir):
    """J5+F7 — after deleting a selection, anti-join it out and re-apply
    the ≥2-member cluster filter (useStore.ts:116-127)."""
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    deleted = docs.where(F.col("doc_id") % 3 == 0).select("doc_id")
    remaining = docs.join(F.broadcast(deleted), "doc_id", "left_anti")
    return (
        remaining.groupBy("n_chars")
        .agg(F.count(F.lit(1)).alias("n_members"), F.min("doc_id").alias("min_doc_id"))
        .where(F.col("n_members") >= 2)
    )


SQL_POST_DELETE_REFILTER = """
SELECT n_chars, COUNT(*) AS n_members, MIN(doc_id) AS min_doc_id
FROM documents WHERE doc_id % 3 <> 0
GROUP BY n_chars HAVING COUNT(*) >= 2
"""


def q_listing_order(spark, sf_dir):
    """O5 — dirs-first, case-insensitive-name ordering materialized as a
    rank (lib.rs:476-483); synthetic listing from distinct sources."""
    entries = (
        _docs(spark, sf_dir)
        .select(F.col("source").alias("name"))
        .distinct()
        .withColumn("is_dir", F.length("name") % 2 == 0)
    )
    w = Window.orderBy(F.desc("is_dir"), F.lower("name"), F.col("name"))
    return entries.withColumn("rn", F.row_number().over(w))


SQL_LISTING_ORDER = """
SELECT name, is_dir,
       ROW_NUMBER() OVER (ORDER BY is_dir DESC, LOWER(name), name) AS rn
FROM (SELECT DISTINCT source AS name, LENGTH(source) % 2 = 0 AS is_dir
      FROM documents)
"""


def q_size_format(spark, sf_dir):
    """C5/C6/C14 — human-size ladder (utils.ts:8-14), size-class
    classifier (dataTransform.ts:30-44 shape), epoch→date (C6)."""
    n = F.col("n_chars")
    # Explicit ROUND(x, 2) before formatting: Spark's format_string uses
    # Java HALF_UP but DuckDB printf rounds half-to-even, so a bare
    # printf('%.2f', 1152/1024.0) diverges ('1.13' vs '1.12'). Both
    # engines' ROUND(...,2) round half away from zero for positives, and
    # the rounded double is never a formatting tie.
    size_h = (
        F.when(n == 0, F.lit("0 Bytes"))
        .when(n < 1024, F.concat(F.format_string("%.2f", n.cast("double")), F.lit(" Bytes")))
        .when(n < 1024**2, F.concat(F.format_string("%.2f", F.round(n / 1024.0, 2)), F.lit(" KB")))
        .otherwise(F.concat(F.format_string("%.2f", F.round(n / float(1024**2), 2)), F.lit(" MB")))
    )
    size_class = (
        F.when(n < 500, "tiny")
        .when(n < 2000, "small")
        .when(n < 8000, "medium")
        .otherwise("large")
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        size_h.alias("size_h"),
        size_class.alias("size_class"),
        F.date_format(
            F.from_unixtime(F.col("doc_id") + 1_600_000_000), "yyyy-MM-dd"
        ).alias("as_of_date"),
    )


SQL_SIZE_FORMAT = """
SELECT doc_id,
       CASE WHEN n_chars = 0 THEN '0 Bytes'
            WHEN n_chars < 1024 THEN printf('%.2f', CAST(n_chars AS DOUBLE)) || ' Bytes'
            WHEN n_chars < 1048576 THEN printf('%.2f', ROUND(n_chars / 1024.0, 2)) || ' KB'
            ELSE printf('%.2f', ROUND(n_chars / 1048576.0, 2)) || ' MB' END AS size_h,
       CASE WHEN n_chars < 500 THEN 'tiny'
            WHEN n_chars < 2000 THEN 'small'
            WHEN n_chars < 8000 THEN 'medium'
            ELSE 'large' END AS size_class,
       strftime(to_timestamp(doc_id + 1600000000) AT TIME ZONE 'UTC',
                '%Y-%m-%d') AS as_of_date
FROM documents
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def q_recursive_prefix_size(spark, sf_dir):
    """A8 — recursive folder size: Σ size under a path prefix
    (lib.rs:337-348). Prefix 'src1' covers src1, src10..src19."""
    return (
        _docs(spark, sf_dir)
        .where(F.col("source").startswith("src1"))
        .agg(F.sum("n_chars").alias("total_size"), F.count(F.lit(1)).alias("n_files"))
    )


SQL_RECURSIVE_PREFIX_SIZE = """
SELECT CAST(SUM(n_chars) AS BIGINT) AS total_size, COUNT(*) AS n_files
FROM documents WHERE source LIKE 'src1%'
"""


def q_count_distinct_langs(spark, sf_dir):
    """A10 — count-distinct ('n groups' badge, ResultsView.tsx:182)."""
    return _docs(spark, sf_dir).agg(
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )


SQL_COUNT_DISTINCT_LANGS = """
SELECT COUNT(DISTINCT lang) AS n_langs, COUNT(DISTINCT source) AS n_sources
FROM documents
"""


def q_except_users(spark, sf_dir):
    """U3 — except: users who clicked but never purchased
    (useStore.ts:87-89 deselect semantics)."""
    events = load_table(spark, sf_dir, "events")
    clickers = events.where(F.col("event_type") == "click").select("user_id")
    buyers = events.where(F.col("event_type") == "purchase").select("user_id")
    return clickers.subtract(buyers)  # EXCEPT (distinct) semantics


SQL_EXCEPT_USERS = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'purchase'
"""


def q_selected_size(spark, sf_dir):
    """A5 — selected-size sum over a selection set via broadcast join
    (ResultsView.tsx:110-123)."""
    selection = spark.range(0, 100, 7).select(F.col("id").alias("doc_id"))
    return (
        _docs(spark, sf_dir)
        .join(F.broadcast(selection), "doc_id", "inner")
        .agg(
            F.sum("n_chars").alias("selected_size"),
            F.count(F.lit(1)).alias("n_selected"),
        )
    )


SQL_SELECTED_SIZE = """
SELECT CAST(SUM(n_chars) AS BIGINT) AS selected_size, COUNT(*) AS n_selected
FROM documents WHERE doc_id % 7 = 0 AND doc_id < 100
"""


def q_token_count(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )


SQL_TOKEN_COUNT = """
SELECT doc_id,
       CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(TRIM(text), '\\s+')) END AS n_tokens
FROM documents
"""


def q_bpe_token_count(spark, sf_dir):
    """BPE-ish regex pre-tokenizer count (letters/digits/punct runs)."""
    return _docs(spark, sf_dir).select(
        "doc_id", F.size(word_tokens(F.col("text"))).cast("long").alias("n_bpe_tokens")
    )


SQL_BPE_TOKEN_COUNT = r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_tokens
FROM documents
"""


def q_quality(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        quality_score(F.col("text")).alias("quality"),
    )


_SW_EN_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"

SQL_QUALITY = f"""
WITH t AS (
  SELECT doc_id, text,
         LENGTH(text) AS n,
         LENGTH(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS n_clean,
         regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         CASE WHEN n = 0 THEN 0.0 ELSE (n - n_clean) / CAST(n AS DOUBLE) END AS pr,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE len(list_filter(toks, x -> list_contains({_SW_EN_SQL}, x)))
                   / CAST(len(toks) AS DOUBLE) END AS swr,
         n
  FROM t
)
SELECT doc_id,
       ROUND(pr, 6) AS punct_ratio,
       ROUND(LEAST(n / 2000.0, 1.0)
             * GREATEST(0.0, 1.0 - pr * 4.0)
             * (0.5 + 0.5 * LEAST(swr * 5.0, 1.0)), 6) AS quality
FROM s
"""


def q_lang_id(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", lang_id_heuristic(F.col("text")).alias("lang_guess")
    )


def _sw_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


SQL_LANG_ID = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS toks FROM documents
), s AS (
  SELECT doc_id,
         len(list_filter(toks, x -> list_contains({_sw_sql('de')}, x))) AS de,
         len(list_filter(toks, x -> list_contains({_sw_sql('en')}, x))) AS en,
         len(list_filter(toks, x -> list_contains({_sw_sql('es')}, x))) AS es,
         len(list_filter(toks, x -> list_contains({_sw_sql('fr')}, x))) AS fr
  FROM t
)
SELECT doc_id,
  CASE WHEN de > 0 AND de >= en AND de >= es AND de >= fr THEN 'de'
       WHEN en > 0 AND en >= de AND en >= es AND en >= fr THEN 'en'
       WHEN es > 0 AND es >= de AND es >= en AND es >= fr THEN 'es'
       WHEN fr > 0 AND fr >= de AND fr >= en AND fr >= es THEN 'fr'
       ELSE 'und' END AS lang_guess
FROM s
"""


# ---------------------------------------------------------------------------
# Relational coverage over TPC-H-ish tables
# ---------------------------------------------------------------------------

def q_semi_join(spark, sf_dir):
    """J3 — customers having orders (left semi)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


SQL_SEMI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_anti_join(spark, sf_dir):
    """J5 — customers with no orders (left anti)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_union_distinct(spark, sf_dir):
    """U1/U2 — union-distinct of two event populations."""
    events = load_table(spark, sf_dir, "events")
    a = events.where(F.col("event_type") == "click").select("user_id")
    b = events.where(F.col("event_type") == "purchase").select("user_id")
    return a.union(b).distinct()


SQL_UNION_DISTINCT = """
SELECT user_id FROM events WHERE event_type = 'click'
UNION
SELECT user_id FROM events WHERE event_type = 'purchase'
"""


def q_top_k(spark, sf_dir):
    """O6 — deterministic top-100 (DeleteConfirmation.tsx:56)."""
    li = load_table(spark, sf_dir, "lineitem")
    return views.top_k_preview(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        order=[F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        k=100,
    )


SQL_TOP_K = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100
"""


def q_window_rank_orders(spark, sf_dir):
    """W1 on TPC-H — top order per customer (ranking window)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


SQL_WINDOW_RANK_ORDERS = """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-flavored aggregation cascade (A2/A3 shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_discount") >= 0.02) & (F.col("l_discount") <= 0.08))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       COUNT(*) AS n
FROM lineitem
WHERE l_discount >= 0.02 AND l_discount <= 0.08
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark, sf_dir):
    """TPC-H Q3-flavored join + agg + top-k."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return rev.orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(10)


SQL_TOP_REVENUE_ORDERS = """
SELECT o_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10
"""


def q_events_hourly(spark, sf_dir):
    """Streaming analog in batch: tumbling 1h window × event_type rollup."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


SQL_EVENTS_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Embeddings: similarity search
# ---------------------------------------------------------------------------

def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-5 for 3 query vectors (correctness baseline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return brute_force_topk(emb, queries, k=5).select(
        "query_id", "vec_id", "cosine", "rank"
    )


SQL_EMBEDDING_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
s AS (
  SELECT query_id, e.vec_id,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(qv AS DOUBLE[])), 6) AS cosine
  FROM embeddings e CROSS JOIN q
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rank
  FROM s
)
SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5
"""


def _planted_embeddings(spark, sf_dir, n_base: int = 60, scale: float = 0.1):
    """Base embedding slice ∪ planted near-duplicate twins.

    The driver's embeddings are near-orthogonal random vectors (max
    pairwise cosine ≈ 0.47), so any ≥0.8 similarity check over the raw
    table is vacuously empty. Twin ``vec_id+1000`` of each base vector
    is ``v + 0.1·v_next`` (cosine ≈ 0.995 to its base, ≤ ~0.5 to
    everything else) — elementwise double arithmetic both Spark and the
    DuckDB oracle reproduce bit-for-bit, giving the similarity queries
    a non-empty, exactly-checkable answer set."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < n_base)
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    nxt = base.select(
        (F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("_pert")
    )
    planted = base.join(nxt, "vec_id").select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.zip_with(
            "embedding", "_pert", lambda a, b: a + F.lit(scale) * b
        ).alias("embedding"),
    )
    return base.unionByName(planted)


# Shared by the exhaustive and LSH twins below (LSH at (8 bits, 8
# tables) deterministically finds every planted pair at cosine ≈0.995 —
# per-pair miss probability ≈8e-6 — and the ≥0.8 filter kills every
# false candidate, so both queries have the SAME answer set and the
# exhaustive oracle doubles as an exact LSH-recall gate).
_SQL_PLANTED_PAIRS = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings WHERE vec_id < 60
), planted AS (
  SELECT a.vec_id + 1000 AS vec_id,
         list_transform(range(1, len(a.emb) + 1),
                        i -> a.emb[i] + 0.1 * b.emb[i]) AS emb
  FROM base a JOIN base b ON b.vec_id = a.vec_id + 1
), allv AS (
  SELECT * FROM base UNION ALL SELECT * FROM planted
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cosine
FROM allv a JOIN allv b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 6) >= 0.8
"""


def q_embedding_allpairs_sim(spark, sf_dir):
    """Exact all-pairs cosine ≥0.8 over base ∪ planted near-dup twins —
    the exhaustive twin the LSH path is validated against (59 pairs at
    the driver data, not the 0 rows a raw-table threshold yields)."""
    allv = _planted_embeddings(spark, sf_dir)
    a = allv.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = allv.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_sim(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= 0.8)
    )


SQL_EMBEDDING_ALLPAIRS_SIM = _SQL_PLANTED_PAIRS


# ---------------------------------------------------------------------------
# Rows-only (non-SQL-expressible) — UDF pipelines; correctness gated by
# tests/ against planted ground truth instead of DuckDB.
# ---------------------------------------------------------------------------

def _sf_of(sf_dir: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.001


def _eager(df, release):
    """Materialize a (small, bounded) query result, release the caches
    the computation pinned, and hand back a local-backed DataFrame.
    The harness invokes each query repeatedly in one long-lived session;
    without this, every invocation would leak its pipeline caches into
    the block manager."""
    rows = df.collect()
    release()
    return df.sparkSession.createDataFrame(rows, df.schema)


def q_pages_dedup_clusters(spark, sf_dir):
    """Flagship: full exact+near dedup on the synthetic pages table
    (size scaled to the sf of the given directory). Rows-only by
    design (the answer depends on sf); its complete value-level twin
    at the committed-snapshot size is ``pages_dedup_clusters_2k``, and
    ``dedup_cluster_stats`` pins the planted truth at 10× that size."""
    from .pipeline import dedup_pipeline
    from .synth import synth_pages

    n = max(500, int(200_000 * _sf_of(sf_dir) / 0.1))
    pages = synth_pages(spark, n)
    res = dedup_pipeline(pages)
    return _eager(res.clusters, res.unpersist)


def q_dedup_cluster_stats(spark, sf_dir):
    """Derived deterministic check for the flagship rows-only query:
    the full pipeline at a FIXED n=20,000 pages (independent of sf_dir,
    so the precomputed oracle constants hold at any scale dir), rolled
    up to per-match-kind url/cluster counts. The synthetic corpus
    plants exactly 1,000 exact clusters (3,206 member urls) and 1,000
    near clusters (3,000 urls) at this n; the pipeline is deterministic
    and permutation-invariant (pinned by test_pipeline), so these
    counts are exact planted truth, not a tolerance band."""
    from .pipeline import dedup_pipeline
    from .synth import synth_pages

    res = dedup_pipeline(synth_pages(spark, 20_000))
    stats = res.clusters.groupBy("match_kind").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    )
    return _eager(stats, res.unpersist)


SQL_DEDUP_CLUSTER_STATS = """
SELECT * FROM (VALUES
  ('exact', CAST(3206 AS BIGINT), CAST(1000 AS BIGINT)),
  ('near',  CAST(3000 AS BIGINT), CAST(1000 AS BIGINT))
) AS t(match_kind, n_urls, n_clusters)
"""


def q_pages_dedup_exact(spark, sf_dir):
    """Direct (non-derived) oracle for the flagship's exact tier: the
    FULL dedup pipeline at a fixed n=2,000 synthetic pages, returning
    its exact-duplicate assignment (url, text_len, content_sha256,
    cluster_size, cluster_id=min url of the (len,sha256) group). The
    DuckDB twin recomputes the grouping from scratch — ``sha256()``
    over a parquet snapshot of the same pages committed at
    fixtures/pages_2000.parquet (byte-identity between the snapshot and
    the live generator is pinned by test_synth) — so hash values,
    grouping, sizes, and representative choice are all checked
    end-to-end, not against precomputed constants."""
    from .pipeline import dedup_pipeline
    from .synth import synth_pages

    res = dedup_pipeline(synth_pages(spark, 2_000))
    return _eager(res.exact, res.unpersist)


HTML_SNAPSHOT = _os.path.abspath(
    _os.path.join(_os.path.dirname(__file__), "..", "fixtures", "pages_html_300.parquet")
)


def q_html_extract(spark, sf_dir):
    """HTML → text extraction, pure whole-stage codegen (functions/html.py):
    head/script/style/comment strip + tag strip + entity decode over the
    raw ``html: binary`` column (BASELINE input_hint shape).  ``identical``
    proves the north-star byte-identity invariant per url against the
    generator's ground-truth ``text``; the DuckDB twin runs the same
    RE2-safe automaton, so the hashes match bit-for-bit."""
    from .functions.html import extract_html_text

    df = spark.read.parquet(HTML_SNAPSHOT)
    ext = extract_html_text(F.col("html"))
    return df.select(
        F.col("url"),
        F.sha2(ext, 256).alias("extract_sha256"),
        F.length(ext).alias("extract_len"),
        (ext == F.col("text")).alias("identical"),
    )


SQL_HTML_EXTRACT = f"""
WITH e AS (
  SELECT url, text,
    replace(replace(replace(replace(replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        decode(html),
        '(?is)<head(\\s[^>]*)?>.*?</head\\s*>', '', 'g'),
        '(?is)<script(\\s[^>]*)?>.*?</script\\s*>', '', 'g'),
        '(?is)<style(\\s[^>]*)?>.*?</style\\s*>', '', 'g'),
        '(?s)<!--.*?-->', '', 'g'),
        '(?s)<[^>]*>', '', 'g'),
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' ')
      AS almost
  FROM read_parquet('{HTML_SNAPSHOT}')
)
SELECT url,
       sha256(replace(almost, '&amp;', '&')) AS extract_sha256,
       length(replace(almost, '&amp;', '&')) AS extract_len,
       replace(almost, '&amp;', '&') = text AS identical
FROM e
"""


def q_warc_ingest(spark, sf_dir):
    """WARC container round-trip (sources/warc.py): pack the HTML
    fixture into spec-shaped ``.warc.gz`` blobs (one gzip member per
    record, Common Crawl layout), then run the distributed
    ``mapInPandas`` parser over the blobs and emit one row per HTTP
    response. The oracle recomputes every checked field — url,
    second-resolution epoch, status, content type, body sha256/length —
    straight from the source parquet, so a parser bug anywhere
    (member splitting, header parse, Content-Length slicing, HTTP
    envelope strip, date decode) breaks the hash. ``warc_epoch`` is a
    deterministic function of the row (a carried value, not a clock):
    base epoch + 13·bytes(html) + 7919·len(url)."""
    from .sources.warc import read_warc_records, warc_blobs_from_pages

    pages = spark.read.parquet(HTML_SNAPSHOT).select(
        "url",
        "html",
        (
            F.lit(1735689600)
            + F.length("html") * 13
            + F.length("url") * 7919
        ).alias("ts_epoch"),
    )
    recs = read_warc_records(warc_blobs_from_pages(pages), only_responses=True)
    return recs.select(
        "url",
        "warc_epoch",
        "http_status",
        "content_type",
        F.sha2(F.col("body").cast("string"), 256).alias("html_sha256"),
        F.length("body").alias("n_bytes"),
    )


SQL_WARC_INGEST = f"""
SELECT url,
       1735689600 + 13 * octet_length(html) + 7919 * length(url) AS warc_epoch,
       200 AS http_status,
       'text/html; charset=utf-8' AS content_type,
       sha256(decode(html)) AS html_sha256,
       octet_length(html) AS n_bytes
FROM read_parquet('{HTML_SNAPSHOT}')
"""


def q_warc_revisit_resolve(spark, sf_dir):
    """Cross-crawl revisit resolution (sources/warc.py): crawl 2
    re-captures every fixture page UNCHANGED, so the archive convention
    writes them all as revisit records — digest pointer, zero body.
    The query packs that crawl-2 segment set, parses it, and resolves
    the revisits against crawl 1's pages by payload digest; the oracle
    recomputes the expected result straight from the fixture (body
    inherited bit-for-bit, crawl-2 timestamps). Every checked field
    crosses the writer → parser → digest-join path."""
    import hashlib

    from .sources.warc import build_warc, read_warc_records, resolve_revisits

    prior = spark.read.parquet(HTML_SNAPSHOT).select("url", "html")
    rows = prior.collect()  # 300 fixture pages — driver-side pack is fine

    def dig(b):
        return "sha256:" + hashlib.sha256(bytes(b)).hexdigest()

    revisits = [
        (r.url, 1800000000 + len(r.url), dig(r.html), r.url) for r in rows
    ]
    blob = build_warc([], warcinfo=True, revisits=revisits)
    blobs = spark.createDataFrame(
        [("crawl2-00000.warc.gz", bytearray(blob))],
        "warc_file string, data binary",
    )
    out = resolve_revisits(read_warc_records(blobs), prior)
    return out.select(
        "url",
        "warc_epoch",
        F.sha2(F.col("html").cast("string"), 256).alias("html_sha256"),
        F.length("html").alias("n_bytes"),
    )


SQL_WARC_REVISIT_RESOLVE = f"""
SELECT url,
       1800000000 + length(url) AS warc_epoch,
       sha256(decode(html)) AS html_sha256,
       octet_length(html) AS n_bytes
FROM read_parquet('{HTML_SNAPSHOT}')
"""


def q_sitemap_urls(spark, sf_dir):
    """Sitemap extraction from robots bodies (operators/robots.py):
    one synthesized robots.txt per source host carrying 1 + (k mod 2)
    Sitemap declarations among agent groups and comments; the real
    stateless extractor pulls them, the DuckDB twin re-extracts with
    its own regexp over the same bodies."""
    from .operators.robots import parse_sitemap_urls

    hosts = _docs(spark, sf_dir).select("source").distinct()
    k = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    body = F.concat(
        F.lit("User-agent: *\nDisallow: /private/\n# seeds\nSitemap: https://"),
        "source",
        F.lit(".com/sitemap.xml\n"),
        F.when(
            k % 2 == 1,
            F.concat(
                F.lit("Sitemap: https://"),
                "source",
                F.lit(".com/news.xml\n"),
            ),
        ).otherwise(F.lit("")),
        F.lit("User-agent: evil\nDisallow: /\n"),
    )
    bodies = hosts.select(
        F.concat(F.col("source"), F.lit(".com")).alias("host"),
        body.alias("body"),
    )
    return parse_sitemap_urls(bodies)


SQL_SITEMAP_URLS = r"""
WITH h AS (
  SELECT DISTINCT source,
         CAST(regexp_extract(source, '(\d+)', 1) AS INT) AS k
  FROM documents
)
SELECT source || '.com' AS host,
       'https://' || source || '.com/sitemap.xml' AS sitemap_url FROM h
UNION ALL
SELECT source || '.com',
       'https://' || source || '.com/news.xml' FROM h WHERE k % 2 = 1
"""


def q_wet_ingest(spark, sf_dir):
    """WET (extracted-text) round-trip: pack the fixture's ground-truth
    text as conversion records, parse with the distributed reader, and
    check url / epoch / text hash / char count against the source
    parquet — the *.wet.gz ingestion path most text pipelines use,
    value-checked end to end."""
    from .sources.warc import build_wet

    rows = (
        spark.read.parquet(HTML_SNAPSHOT).select("url", "text").collect()
    )  # 300 fixture pages — driver-side pack is fine
    recs = [(r.url, 1800000000 + len(r.url), r.text) for r in rows]
    # 3 segments so the read path exercises multi-blob parallelism
    blobs = spark.createDataFrame(
        [
            (f"wet-{i:02d}.warc.wet.gz", bytearray(build_wet(recs[i::3])))
            for i in range(3)
        ],
        "warc_file string, data binary",
    )
    from .sources.warc import read_warc_records

    recs_df = read_warc_records(blobs).where("warc_type = 'conversion'")
    text = F.col("body").cast("string")
    return recs_df.select(
        "url",
        "warc_epoch",  # parser-native int — no session-tz dependence
        F.sha2(text, 256).alias("text_sha256"),
        F.length(text).alias("n_chars"),
    )


SQL_WET_INGEST = f"""
SELECT url,
       1800000000 + length(url) AS warc_epoch,
       sha256(text) AS text_sha256,
       length(text) AS n_chars
FROM read_parquet('{HTML_SNAPSHOT}')
"""


def q_host_outlinks(spark, sf_dir):
    """WAT-style link-graph extraction: per-doc html is synthesized
    with two anchor tags whose targets derive from doc arithmetic
    (host k → hosts (5k+1)%16 and (7k+3)%16), the REAL codegen
    extractor (``regexp_extract_all`` over the decoded bytes) pulls the
    hrefs back out, and the (src_host, dst_host) edge counts roll up.
    The DuckDB twin replays the same regexp over the same markup, so a
    wrong capture group, entity slip, or explode bug breaks the hash."""
    from .functions.html import extract_outlinks, link_host

    d = _docs(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") % 16).alias("k"), "text"
    )
    html = F.encode(
        F.concat(
            F.lit("<html><body><p>"),
            F.substring("text", 1, 40),
            F.lit('</p><a href="https://h'),
            (F.col("k") * 5 + 1) % 16,
            F.lit(".example/p/"),
            "doc_id",
            F.lit('">x</a><a class="m" href="https://h'),
            (F.col("k") * 7 + 3) % 16,
            F.lit(".example/q/"),
            "doc_id",
            F.lit('">y</a></body></html>'),
        ),
        "UTF-8",
    )
    links = d.select(
        F.concat(F.lit("h"), "k", F.lit(".example")).alias("src_host"),
        F.explode(extract_outlinks(html)).alias("target"),
    )
    return (
        links.select("src_host", link_host(F.col("target")).alias("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


SQL_HOST_OUTLINKS = """
WITH d AS (
  SELECT doc_id, doc_id % 16 AS k, text FROM documents
), h AS (
  SELECT k,
    '<html><body><p>' || substr(text, 1, 40) ||
    '</p><a href="https://h' || (k * 5 + 1) % 16 || '.example/p/' || doc_id ||
    '">x</a><a class="m" href="https://h' || (k * 7 + 3) % 16 ||
    '.example/q/' || doc_id || '">y</a></body></html>' AS html
  FROM d
), l AS (
  SELECT k, unnest(regexp_extract_all(html, 'href="([^"]+)"', 1)) AS target
  FROM h
)
SELECT 'h' || k || '.example' AS src_host,
       regexp_extract(target, '^https?://([^/]+)', 1) AS dst_host,
       COUNT(*) AS n_links
FROM l GROUP BY 1, 2
"""


def q_host_pagerank3(spark, sf_dir):
    """Three exact power iterations of PageRank over a 16-host
    synthetic link graph, host k → (k²+1)%16 and (3k+2)%16. The graph
    is deliberately NON-regular: k²+1 mod 16 only hits {1,2,5,10} (4
    in-edges each) while (3k+2) is a bijection (1 each), so in-degrees
    are 5 for hosts {1,2,5,10} and 1 elsewhere and the rank vector is
    far from uniform — an operator that skipped iterations, botched
    damping, or returned its initial vector flips the hash (round-4
    ADVICE: the previous (5k+1)/(7k+3) pair were both bijections, so
    uniform 1/16 was a fixed point and the oracle was vacuous). Every
    quantity stays a dyadic rational — N=16, outdeg=2, damping 3/4,
    teleport (1-d)/N = 1/64 — so IEEE doubles are EXACT and the
    distributed sum order cannot perturb a bit: the hash compare
    against DuckDB's chained-CTE replay is byte-stable by
    construction, not by rounding luck. Runs the REAL operator
    (operators/linkgraph.pagerank — checkpointed iterations, dangling
    redistribution), so the oracle pins the operator, not a
    query-local reimplementation; every host has outdegree 2, so the
    dangling term is exactly zero."""
    from .operators.linkgraph import pagerank

    hosts = spark.range(16).select(F.col("id").cast("int").alias("h"))
    edges = hosts.select(
        F.col("h").alias("src"),
        F.explode(
            F.array(
                (F.col("h") * F.col("h") + 1) % 16, (F.col("h") * 3 + 2) % 16
            )
        ).alias("dst"),
    )
    pr = pagerank(edges, iterations=3, damping=0.75)
    return pr.select(
        F.col("node").cast("int").alias("host_id"), "pagerank"
    )


SQL_HOST_PAGERANK3 = """
WITH hosts AS (SELECT unnest(range(0, 16)) AS h),
edges AS (
  SELECT h AS src, (h * h + 1) % 16 AS dst FROM hosts
  UNION ALL
  SELECT h, (h * 3 + 2) % 16 FROM hosts
),
p0 AS (SELECT h, 1.0 / 16 AS pr FROM hosts),
p1 AS (
  SELECT hosts.h, 1.0/64 + 0.75 * COALESCE(SUM(p0.pr / 2), 0) AS pr
  FROM hosts LEFT JOIN edges ON edges.dst = hosts.h
             LEFT JOIN p0 ON p0.h = edges.src
  GROUP BY hosts.h
),
p2 AS (
  SELECT hosts.h, 1.0/64 + 0.75 * COALESCE(SUM(p1.pr / 2), 0) AS pr
  FROM hosts LEFT JOIN edges ON edges.dst = hosts.h
             LEFT JOIN p1 ON p1.h = edges.src
  GROUP BY hosts.h
),
p3 AS (
  SELECT hosts.h, 1.0/64 + 0.75 * COALESCE(SUM(p2.pr / 2), 0) AS pr
  FROM hosts LEFT JOIN edges ON edges.dst = hosts.h
             LEFT JOIN p2 ON p2.h = edges.src
  GROUP BY hosts.h
)
SELECT h AS host_id, pr AS pagerank FROM p3
"""


def q_robots_verdicts(spark, sf_dir):
    """robots.txt crawl-policy gate (operators/robots.py, RFC 9309):
    synthesize one robots body per source host — prefix disallow,
    longer allow carve-out, anchored ``/*.pdf$`` wildcard, plus a
    total-Disallow host (src0) — run the REAL parser + longest-match
    verdict engine over urls derived from doc arithmetic, and let the
    DuckDB twin recompute every verdict with independent CASE logic.
    A parser group bug, wildcard translation bug, or precedence bug
    flips verdicts and breaks the hash."""
    from .operators.robots import parse_robots, robots_verdicts

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    hosts = docs.select("source").distinct()
    body = F.when(
        F.col("source") == "src0",
        F.lit("User-agent: *\nDisallow: /\n"),
    ).otherwise(
        F.lit(
            "User-agent: *\n"
            "Disallow: /private/\n"
            "Allow: /private/public/\n"
            "Disallow: /*.pdf$\n"
        )
    )
    rules = parse_robots(
        hosts.select(
            F.concat(F.col("source"), F.lit(".com")).alias("host"),
            body.alias("body"),
        )
    )
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            "source",
            F.lit(".com"),
            F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("/private/"), "doc_id"))
            .when(
                F.col("doc_id") % 4 == 1,
                F.concat(F.lit("/private/public/"), "doc_id"),
            )
            .when(F.col("doc_id") % 4 == 2, F.concat(F.lit("/doc"), "doc_id", F.lit(".pdf")))
            .otherwise(F.concat(F.lit("/page/"), "doc_id")),
        ).alias("url"),
    )
    return robots_verdicts(pages, rules).select(
        "doc_id", "url", "allowed", "matched_rule"
    )


SQL_ROBOTS_VERDICTS = """
WITH p AS (
  SELECT doc_id, source,
         'https://' || source || '.com' ||
         CASE doc_id % 4
           WHEN 0 THEN '/private/' || doc_id
           WHEN 1 THEN '/private/public/' || doc_id
           WHEN 2 THEN '/doc' || doc_id || '.pdf'
           ELSE '/page/' || doc_id
         END AS url
  FROM documents
)
SELECT doc_id, url,
  CASE
    WHEN source = 'src0' THEN false
    WHEN doc_id % 4 = 0 THEN false            -- /private/ disallow
    WHEN doc_id % 4 = 1 THEN true             -- longer allow carve-out
    WHEN doc_id % 4 = 2 THEN false            -- anchored /*.pdf$
    ELSE true                                 -- no rule matches
  END AS allowed,
  CASE
    WHEN source = 'src0' THEN 'disallow /'
    WHEN doc_id % 4 = 0 THEN 'disallow /private/'
    WHEN doc_id % 4 = 1 THEN 'allow /private/public/'
    WHEN doc_id % 4 = 2 THEN 'disallow /*.pdf$'
    ELSE NULL
  END AS matched_rule
FROM p
"""


SQL_PAGES_DEDUP_EXACT = f"""
WITH m AS (
  SELECT url, length(text) AS text_len, sha256(text) AS content_sha256
  FROM read_parquet('{SNAPSHOT_2K}')
  WHERE length(text) >= 10
)
SELECT url, text_len, content_sha256,
       count(*) OVER w AS cluster_size,
       min(url) OVER w AS cluster_id
FROM m
WINDOW w AS (PARTITION BY text_len, content_sha256)
QUALIFY count(*) OVER w >= 2
"""


def q_minhash_pair_stats(spark, sf_dir):
    """Derived deterministic check for `minhash_dup_pairs`: the same
    MinHash-LSH candidate + exact-Jaccard-confirm pipeline at a FIXED
    n=2,000 pages, reduced to a confirmed-pair score histogram. The
    planted corpus yields exactly 1,461 pairs in the 1.0 bin (exact
    dups + ≤1-edit nears) and 12 in the 0.9 bin; the full pair list is
    the rows-only query, this rollup is its precomputed-truth twin."""
    from .operators.candidates import bucket_table, candidate_pairs
    from .operators.scoring import DEFAULT_THRESHOLD, confirm_pairs
    from .synth import synth_pages

    from .tracking import PersistTracker

    tracker = PersistTracker()
    pages = synth_pages(spark, 2_000).select("url", "text")
    pairs = candidate_pairs(bucket_table(pages))
    stats = (
        confirm_pairs(pairs, pages, DEFAULT_THRESHOLD, tracker=tracker)
        .groupBy(F.round("score", 1).alias("score_bin"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    return _eager(stats, tracker.release)


SQL_MINHASH_PAIR_STATS = """
SELECT * FROM (VALUES
  (CAST(0.9 AS DOUBLE), CAST(12 AS BIGINT)),
  (CAST(1.0 AS DOUBLE), CAST(1461 AS BIGINT))
) AS t(score_bin, n_pairs)
"""


def q_minhash_dup_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs (banding candidates → exact
    token-Jaccard confirm) at a FIXED n=2,000 pages — the size of the
    committed parquet snapshot, so the run is sf-independent and the
    DuckDB twin can recompute the FULL answer: expected pair membership
    from the planted-role index arithmetic (pure function of the url's
    row index — synth.py `_role`) and every score from the snapshot
    texts (distinct-token Jaccard via list_intersect). A single extra,
    missing, or mis-scored pair breaks the hash — this is a complete
    recall+precision+score gate on banding, the hot-bucket path, and
    the confirm tier at once."""
    from .operators.candidates import bucket_table, candidate_pairs
    from .operators.scoring import DEFAULT_THRESHOLD, confirm_pairs
    from .synth import synth_pages

    from .tracking import PersistTracker

    tracker = PersistTracker()
    pages = synth_pages(spark, 2_000).select("url", "text")
    pairs = candidate_pairs(bucket_table(pages))
    out = confirm_pairs(pairs, pages, DEFAULT_THRESHOLD, tracker=tracker).select(
        "url_a", "url_b", F.round("score", 4).alias("score")
    )
    return _eager(out, tracker.release)


# Planted-role index arithmetic shared by the two snapshot oracles
# below: the synthetic corpus is a pure function of the row index
# (synth.py `_role`), and every url ends in the 10-digit index — so
# expected duplicate-group membership is derivable in SQL from the url
# alone. Group key = donor row index; NULL = must not cluster (base
# rows, distractors, non-dup edge rows).
_SQL_PLANTED_ROLES = f"""
WITH p AS (
  SELECT url, text, CAST(substr(url, length(url) - 9, 10) AS BIGINT) AS i
  FROM read_parquet('{SNAPSHOT_2K}')
), g AS (
  SELECT url, text, i,
    CASE
      WHEN i % 100 >= 90 THEN (i // 100) * 100 + 5 + (i % 100 - 90) % 5
      WHEN i % 100 >= 80 THEN (i // 100) * 100 + (i % 100 - 80) % 5
      WHEN i % 100 = 69 AND (i // 100) % 4 = 3 THEN (i // 100) * 100
      WHEN (i // 100) % 50 = 0 AND i % 100 BETWEEN 30 AND 68
        THEN (i // 100) * 100
      WHEN i % 100 < 10 THEN i
      ELSE NULL END AS grp,
    CASE WHEN i % 100 >= 90 OR (i % 100 BETWEEN 5 AND 9) THEN 'near'
         ELSE 'exact' END AS match_kind
  FROM p
)
"""

SQL_MINHASH_DUP_PAIRS = _SQL_PLANTED_ROLES + """
, t AS (
  SELECT url, grp, list_distinct(string_split(text, ' ')) AS toks
  FROM g WHERE grp IS NOT NULL
)
SELECT a.url AS url_a, b.url AS url_b,
       ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS score
FROM t a JOIN t b ON a.grp = b.grp AND a.url < b.url
"""


def q_pages_dedup_clusters_2k(spark, sf_dir):
    """The COMPLETE flagship (exact tier + MinHash near tier + CC +
    match_kind) at the committed-snapshot size n=2,000 — the value-level
    twin of the sf-scaled rows-only flagship above. The DuckDB oracle
    re-derives every output row from the planted-role index arithmetic:
    membership (banding recall + confirm precision + CC transitivity),
    cluster_id (min-url representative election through exact-group
    collapse AND near-component closure), and per-url match_kind
    (exact-group size ≥ 2 vs near singleton). Any clustering defect —
    a merged pair of planted groups, a missed copy, a wrong
    representative — breaks the hash."""
    from .pipeline import dedup_pipeline
    from .synth import synth_pages

    res = dedup_pipeline(synth_pages(spark, 2_000))
    return _eager(res.clusters, res.unpersist)


SQL_PAGES_DEDUP_CLUSTERS_2K = _SQL_PLANTED_ROLES + """
SELECT url, MIN(url) OVER (PARTITION BY grp) AS cluster_id, match_kind
FROM g WHERE grp IS NOT NULL
"""


def q_simhash_signatures(spark, sf_dir):
    """SimHash signatures + band keys on documents (UDF path; the dual
    polynomial token hash is modular arithmetic, so the full signature —
    majorities, packing, banding — has an exact DuckDB oracle)."""
    from .functions.simhash import simhash64_udf, simhash_bands

    docs = _docs(spark, sf_dir)
    sh = docs.select("doc_id", simhash64_udf(F.col("text")).alias("simhash"))
    return sh.select("doc_id", "simhash", F.explode(simhash_bands(F.col("simhash"))).alias("band"))


# Shared DuckDB re-derivation of the full 64-bit SimHash (dual 31-bit
# polynomial token hash → per-bit majority → packing → signed view);
# both the signature/band oracle and the hamming-distance oracle below
# compose on the `signed` CTE.
_SQL_SIMHASH_CHAIN = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents
), th AS (
  SELECT doc_id,
         list_reduce(list_prepend(CAST(0 AS HUGEINT), cs),
                     (a, b) -> (a * 1000003 + b) % 4294967291) * 4294967296
         + list_reduce(list_prepend(CAST(0 AS HUGEINT), cs),
                       (a, b) -> (a * 1000033 + b) % 4294967279) AS h
  FROM (
    SELECT doc_id, list_transform(range(1, length(tok) + 1),
                                  i -> CAST(ord(substr(tok, i, 1)) AS HUGEINT)) AS cs
    FROM toks WHERE tok <> ''
  )
), bits AS (
  SELECT doc_id, unnest(range(0, 64)) AS b, h FROM th
), maj AS (
  SELECT doc_id, b,
         CASE WHEN 2 * SUM((h // CAST(power(2, b) AS HUGEINT)) % 2) >= COUNT(*)
              THEN 1 ELSE 0 END AS bit
  FROM bits GROUP BY doc_id, b
), packed AS (
  SELECT doc_id, SUM(bit * CAST(power(2, b) AS HUGEINT)) AS u64
  FROM maj GROUP BY doc_id
), signed AS (
  SELECT d.doc_id,
         COALESCE(p.u64, 0) AS u64,
         CAST(CASE WHEN COALESCE(p.u64, 0) >= 9223372036854775808
                   THEN COALESCE(p.u64, 0) - 18446744073709551616
                   ELSE COALESCE(p.u64, 0) END AS BIGINT) AS simhash
  FROM documents d LEFT JOIN packed p ON d.doc_id = p.doc_id
)
"""

SQL_SIMHASH_SIGNATURES = _SQL_SIMHASH_CHAIN + """
SELECT doc_id, simhash,
       's' || CAST(k AS VARCHAR) || ':' ||
       CAST((u64 // CAST(power(2, k * 16) AS HUGEINT)) % 65536 AS VARCHAR) AS band
FROM signed CROSS JOIN (SELECT unnest(range(0, 4)) AS k) ks
"""


def q_simhash_hamming(spark, sf_dir):
    """SimHash near-duplicate DISTANCES (the dedup primitive the bands
    accelerate): hamming distance between consecutive documents'
    64-bit signatures, flagged at the k≤3 near-dup radius of Manku,
    Jain & Das Sarma, "Detecting near-duplicates for web crawling"
    (WWW 2007, public). Distance is JVM ``bit_count(a XOR b)`` over the
    pandas-UDF signatures; the oracle re-derives the full signature
    chain AND the xor/popcount in DuckDB, so signature packing, the
    signed round-trip, and the distance math are all hash-checked."""
    from .functions.simhash import hamming64, simhash64_udf

    docs = _docs(spark, sf_dir)
    sh = docs.select("doc_id", simhash64_udf(F.col("text")).alias("simhash"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("_ha"))
    b = sh.select((F.col("doc_id") - 1).alias("doc_a"), F.col("simhash").alias("_hb"))
    ham = hamming64(F.col("_ha"), F.col("_hb")).cast("int")
    return a.join(b, "doc_a").select(
        "doc_a",
        (F.col("doc_a") + 1).alias("doc_b"),
        ham.alias("hamming"),
        (ham <= 3).alias("near"),
    )


SQL_SIMHASH_HAMMING = _SQL_SIMHASH_CHAIN + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming,
       (bit_count(xor(a.simhash, b.simhash)) <= 3) AS near
FROM signed a JOIN signed b ON b.doc_id = a.doc_id + 1
"""


def q_simhash_candidates(spark, sf_dir):
    """SimHash band blocking END-TO-END (the flagship blocks on MinHash
    bands only; this is the alternative key, checked on its own): each
    doc's ``simhash64`` splits into 4×16-bit string band keys, exploded
    on the scan partitions into (bucket_key, url) rows (text never
    shuffles), feeding the window-pruned, hot-bucket-capped
    ``candidate_pairs`` self-join. The oracle re-derives the signature
    chain, the banding, the 2..cap bucket-size gate, and the distinct
    pair join in DuckDB, so the whole blocking tier — not just the hash
    kernel — is hash-checked. candidate_pairs orients pairs
    lexicographically on the string key; both sides re-orient
    numerically with least/greatest."""
    from .functions.simhash import simhash64_udf, simhash_bands
    from .operators.candidates import candidate_pairs

    docs = _docs(spark, sf_dir)
    pairs = candidate_pairs(
        docs.select(
            F.explode(simhash_bands(simhash64_udf(F.col("text")))).alias("bucket_key"),
            F.col("doc_id").cast("string").alias("url"),
        )
    )
    a = F.col("url_a").cast("long")
    b = F.col("url_b").cast("long")
    return pairs.select(
        F.least(a, b).alias("doc_a"), F.greatest(a, b).alias("doc_b")
    )


SQL_SIMHASH_CANDIDATES = _SQL_SIMHASH_CHAIN + """
, bands AS (
  -- NULL-text docs are excluded to match the Spark side exactly: there
  -- simhash64_udf(NULL) -> NULL, concat folds the band keys to NULL,
  -- and a NULL bucket_key never equi-joins -- so such docs produce no
  -- pairs. The chain's signed CTE COALESCEs missing hashes to 0, which
  -- would instead band a NULL-text doc with the empty-text docs.
  SELECT s.doc_id,
         's' || CAST(k AS VARCHAR) || ':' ||
         CAST((u64 // CAST(power(2, k * 16) AS HUGEINT)) % 65536 AS VARCHAR)
         AS bucket_key
  FROM signed s
  JOIN documents d ON d.doc_id = s.doc_id AND d.text IS NOT NULL
  CROSS JOIN (SELECT unnest(range(0, 4)) AS k) ks
), sized AS (
  SELECT doc_id, bucket_key,
         COUNT(*) OVER (PARTITION BY bucket_key) AS n
  FROM bands
), ok AS (
  SELECT doc_id, bucket_key FROM sized WHERE n BETWEEN 2 AND 2000
)
SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
                GREATEST(a.doc_id, b.doc_id) AS doc_b
FROM ok a JOIN ok b
  ON a.bucket_key = b.bucket_key AND a.doc_id < b.doc_id
"""


def q_cheap_block_key(spark, sf_dir):
    """The north_star's OTHER pass-1 keys end-to-end: ``block_key`` =
    text length log2-bucket + eTLD+1 registered domain (blocking.py:25,
    the reference's group-by-size lib.rs:54-58 made content+origin
    aware), then the F7 singleton-block prune. The documents table has
    no url, so one is derived as a pure function of (source, doc_id) —
    varying www prefix and .co.uk/.org/.com suffixes so the public-
    suffix last-3-label branch, the last-2 branch, and the host regex
    are all on the hashed path. The oracle re-derives host extraction,
    label splitting, the suffix table, log2 bucketing, and the window
    prune in DuckDB."""
    from .operators.blocking import block_key, prune_singleton_blocks

    docs = _docs(spark, sf_dir)
    url = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit("https://")).otherwise(
            F.lit("https://www.")
        ),
        F.col("source"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".co.uk"))
        .when(F.col("doc_id") % 3 == 1, F.lit(".org"))
        .otherwise(F.lit(".com")),
        F.lit("/d/"),
        F.col("doc_id").cast("string"),
    )
    keyed = docs.select(
        "doc_id", block_key(F.col("text"), url.alias("url")).alias("block_key")
    )
    return prune_singleton_blocks(keyed)


SQL_CHEAP_BLOCK_KEY = r"""
WITH pages AS (
  SELECT doc_id,
         length(text) AS n,
         (CASE WHEN doc_id % 5 = 0 THEN 'https://' ELSE 'https://www.' END)
         || source
         || (CASE doc_id % 3 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.org'
             ELSE '.com' END)
         || '/d/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), hosts AS (
  SELECT doc_id, n,
         string_split(lower(regexp_extract(
             url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)), '.') AS parts
  FROM pages
), dom AS (
  SELECT doc_id, n,
         CASE
           WHEN len(parts) <= 2 THEN array_to_string(parts, '.')
           WHEN len(parts) >= 3
                AND (parts[-2] || '.' || parts[-1]) IN
                    ('co.uk','ac.uk','gov.uk','com.au','co.jp','co.in',
                     'com.br','co.nz')
             THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
           ELSE parts[-2] || '.' || parts[-1]
         END AS domain
  FROM hosts
), keyed AS (
  -- NULL text: Spark's length(NULL) is NULL, the bucket CASE yields
  -- NULL, and concat_ws SKIPS null args — the key collapses to the
  -- bare domain. DuckDB's || would instead null the whole key (and
  -- its window would pool all NULL keys into one group), so the
  -- NULL-text branch is emulated explicitly.
  SELECT doc_id,
         CASE WHEN n IS NULL THEN domain
              ELSE CAST(CASE WHEN n <= 0 THEN 0
                        ELSE CAST(floor(log2(CAST(n AS DOUBLE))) AS INT)
                   END AS VARCHAR) || '|' || domain
         END AS block_key
  FROM dom
), sized AS (
  SELECT doc_id, block_key,
         COUNT(*) OVER (PARTITION BY block_key) AS _n
  FROM keyed
)
SELECT doc_id, block_key FROM sized WHERE _n >= 2
"""


def q_duplicate_spans(spark, sf_dir):
    """Substring-level dedup (Lee et al., ACL 2022 family): duplicated
    token-5-gram spans across base documents ∪ planted twins (twin =
    the first 7 tokens of its base doc, sharing exactly its leading
    5-gram sites). The oracle re-derives the whole inverted index in
    DuckDB — tokenize, slide, distinct-doc frequency, site join — so
    every flagged (doc, pos, gram, n_docs) row is hash-checked."""
    from .operators.spans import duplicate_ngram_spans

    alld, _ = _twin_corpus(spark, sf_dir, 7)
    return duplicate_ngram_spans(alld, n=5, min_docs=2)


SQL_DUPLICATE_SPANS = r"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
), twins AS (
  SELECT doc_id + 10000 AS doc_id,
         array_to_string(
           list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 7), ' '
         ) AS text
  FROM base
), alld AS (
  SELECT * FROM base UNION ALL SELECT * FROM twins
), toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM alld
), idx AS (
  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS i
  FROM toks
), sites AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         array_to_string(list_slice(t, i, i + 4), ' ') AS gram
  FROM idx
), freq AS (
  SELECT gram, COUNT(DISTINCT doc_id) AS n_docs
  FROM sites GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT s.doc_id, s.pos, s.gram, f.n_docs
FROM sites s JOIN freq f USING (gram)
"""


def q_doc_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint (UDF path; the dual polynomial
    chains are modular arithmetic, reproduced exactly by the oracle)."""
    from .functions.text import fingerprint_udf

    return _docs(spark, sf_dir).select(
        "doc_id", fingerprint_udf(F.col("text")).alias("fingerprint")
    )


SQL_DOC_FINGERPRINT = """
WITH codes AS (
  SELECT doc_id,
         list_transform(range(1, length(text) + 1),
                        i -> CAST(ord(substr(text, i, 1)) AS HUGEINT)) AS cs
  FROM documents
)
SELECT doc_id,
       CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), cs),
                        (a, b) -> (a * 31 + b) % 2147483647) * 2147483648
            + list_reduce(list_prepend(CAST(0 AS HUGEINT), cs),
                          (a, b) -> (a * 131 + b) % 2147483629)
            AS BIGINT) AS fingerprint
FROM codes
"""


def q_jaro_winkler(spark, sf_dir):
    """Batched Jaro-Winkler over consecutive-doc pairs (the
    fielded-record similarity north_star names). The pandas UDF mirrors
    DuckDB's rapidfuzz-derived ``jaro_winkler_similarity`` bit-for-bit
    (classic window, integer transposition division, boost gated at
    jaro>0.7 — tools/jw_parity.py fuzzes 30k adversarial pairs), so the
    oracle hash matches on raw doubles with no rounding."""
    from .functions.similarity import pair_jaro_winkler_udf

    t = _docs(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, 80).alias("t")
    )
    a = t.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta"))
    b = t.select(
        (F.col("doc_id") - F.lit(1)).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.col("t").alias("tb"),
    )
    return a.join(b, "doc_a").select(
        "doc_a",
        "doc_b",
        pair_jaro_winkler_udf(F.col("ta"), F.col("tb")).alias("jw_sim"),
    )


SQL_JARO_WINKLER = """
WITH t AS (SELECT doc_id, substr(text, 1, 80) AS t FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       jaro_winkler_similarity(a.t, b.t) AS jw_sim
FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
"""


def q_levenshtein_sim(spark, sf_dir):
    """Levenshtein similarity (1 − dist/maxlen on 80-char prefixes) over
    the same consecutive-doc pairs, computed by the JVM built-in
    (``levenshtein_sim_col``), so each oracle row pins builtin ==
    DuckDB. Distances are integers, so the double division is
    bit-identical across engines."""
    from .functions.similarity import levenshtein_sim_col

    t = _docs(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, 80).alias("t")
    )
    a = t.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta"))
    b = t.select(
        (F.col("doc_id") - F.lit(1)).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.col("t").alias("tb"),
    )
    return a.join(b, "doc_a").select(
        "doc_a",
        "doc_b",
        levenshtein_sim_col(F.col("ta"), F.col("tb"), cap=80).alias("lev_sim"),
    )


SQL_LEVENSHTEIN_SIM = """
WITH t AS (SELECT doc_id, substr(text, 1, 80) AS t FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       1.0 - levenshtein(a.t, b.t)
             / CAST(greatest(length(a.t), length(b.t)) AS DOUBLE) AS lev_sim
FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
"""


def q_damerau_sim(spark, sf_dir):
    """Damerau–Levenshtein similarity (1 − dist/maxlen, 80-char
    prefixes) over the same consecutive-doc pairs as ``levenshtein_sim``
    — the transposition-aware variant (full Lowrance–Wagner, matching
    DuckDB's ``damerau_levenshtein`` exactly; integer distances make the
    double division bit-identical across engines). Also emits plain
    Levenshtein alongside, so every row pins ``damerau ≥ levenshtein``
    against the oracle."""
    from .functions.similarity import levenshtein_sim_col, pair_damerau_sim_udf

    t = _docs(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, 80).alias("t")
    )
    a = t.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta"))
    b = t.select(
        (F.col("doc_id") - F.lit(1)).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.col("t").alias("tb"),
    )
    return a.join(b, "doc_a").select(
        "doc_a",
        "doc_b",
        pair_damerau_sim_udf(F.col("ta"), F.col("tb")).alias("dam_sim"),
        levenshtein_sim_col(F.col("ta"), F.col("tb"), cap=80).alias("lev_sim"),
    )


SQL_DAMERAU_SIM = """
WITH t AS (SELECT doc_id, substr(text, 1, 80) AS t FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       1.0 - damerau_levenshtein(a.t, b.t)
             / CAST(greatest(length(a.t), length(b.t)) AS DOUBLE) AS dam_sim,
       1.0 - levenshtein(a.t, b.t)
             / CAST(greatest(length(a.t), length(b.t)) AS DOUBLE) AS lev_sim
FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
"""


def q_ngram_jaccard(spark, sf_dir):
    """Character 5-gram Jaccard over consecutive-doc pairs (the task
    brief's n-gram-Jaccard dedup family), computed by the pure
    JVM-codegen column form (``ngram_jaccard_col``: transform/sequence/
    substring + array_intersect, the hot-path shape), so each oracle
    row pins builtin == DuckDB. Set sizes are integers; the double
    division is bit-identical."""
    from .functions.similarity import ngram_jaccard_col

    t = _docs(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, 80).alias("t")
    )
    a = t.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta"))
    b = t.select(
        (F.col("doc_id") - F.lit(1)).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.col("t").alias("tb"),
    )
    return a.join(b, "doc_a").select(
        "doc_a",
        "doc_b",
        ngram_jaccard_col(F.col("ta"), F.col("tb")).alias("ngram_jac"),
    )


SQL_NGRAM_JACCARD = """
WITH t AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(1, length(substr(text, 1, 80)) - 4) + 1),
           i -> substr(substr(text, 1, 80), i, 5))) AS g
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         / len(list_distinct(list_concat(a.g, b.g))) AS ngram_jac
FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
"""


def q_embedding_lsh_pairs(spark, sf_dir):
    """LSH-bucketed embedding near-dup pairs (approximate scale path)
    over base ∪ planted twins. Oracle = the exhaustive all-pairs SQL:
    on this data LSH recall is exactly 1.0 and the cosine filter kills
    every false candidate, so a hash-match against the brute-force
    answer set IS the recall check (a missed pair breaks it)."""
    from .operators.ann import embedding_near_dupes

    allv = _planted_embeddings(spark, sf_dir)
    return embedding_near_dupes(allv, threshold=0.8, n_bits=8, n_tables=8)


SQL_EMBEDDING_LSH_PAIRS = _SQL_PLANTED_PAIRS


def q_embedding_ivf_pairs(spark, sf_dir):
    """IVF-indexed embedding near-dup pairs (the data-adaptive scale
    path; Jégou et al. 2011) over base ∪ planted twins. Oracle = the
    same exhaustive all-pairs SQL as the LSH variant: with 2-way
    multi-assignment every planted twin co-locates with its base in at
    least one k-means cell and the cosine confirm kills every false
    candidate, so a hash-match against the brute-force answer set IS
    the recall check. Centroid training is parallelism-invariant
    (hash-ordered bounded sample, seeded init), so the result is stable
    across cluster sizes."""
    from .operators.ann import ivf_near_dupes

    allv = _planted_embeddings(spark, sf_dir)
    return ivf_near_dupes(allv, threshold=0.8, n_cells=8, n_assign=2)


SQL_EMBEDDING_IVF_PAIRS = _SQL_PLANTED_PAIRS


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (pairs → transitive clusters →
    keeper) over base ∪ planted twins, with the min-id keeper policy.
    Pair generation is the IVF path at the exact settings
    ``embedding_ivf_pairs`` proves exhaustive-recall on this data; the
    oracle then re-derives the WHOLE op in SQL — exhaustive cosine
    pairs, transitive closure via a recursive min-label CTE, numeric
    MIN keeper — so pair recall, the CC operator (through the
    zero-padded string round-trip), and the keeper policy are all
    hash-checked end-to-end."""
    from .operators.ann import semantic_dedup

    allv = _planted_embeddings(spark, sf_dir)
    return semantic_dedup(allv, threshold=0.9, n_cells=8, n_assign=2)


SQL_SEMANTIC_DEDUP = """
WITH RECURSIVE base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings WHERE vec_id < 60
), planted AS (
  SELECT a.vec_id + 1000 AS vec_id,
         list_transform(range(1, len(a.emb) + 1),
                        i -> a.emb[i] + 0.1 * b.emb[i]) AS emb
  FROM base a JOIN base b ON b.vec_id = a.vec_id + 1
), allv AS (
  SELECT * FROM base UNION ALL SELECT * FROM planted
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 6) >= 0.9
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(id, lab) AS (
  SELECT vec_id, vec_id FROM allv
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS vec_id, MIN(lab) AS sem_cluster, (id = MIN(lab)) AS keep
FROM reach GROUP BY id
"""


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: binary payloads → mapInPandas features
    (decode stubbed deterministically — no codecs in this container).
    Media rows derive from ``documents`` (payload = UTF-8 text bytes) so
    the 16-bin codepoint histogram has a DuckDB oracle; the feature
    leaves as a scalar CSV string so every output column is hashable."""
    from .multimodal import doc_media, extract_features_csv

    return extract_features_csv(doc_media(_docs(spark, sf_dir)))


SQL_MEDIA_FEATURES = """
WITH chars AS (
  SELECT doc_id, unnest(range(1, length(text) + 1)) AS i, text FROM documents
), codes AS (
  SELECT doc_id, LEAST(ord(substr(text, i, 1)), 255) // 16 AS bin FROM chars
), bins AS (
  SELECT doc_id, bin, COUNT(*) AS c FROM codes GROUP BY 1, 2
), grid AS (
  SELECT doc_id, unnest(range(0, 16)) AS bin FROM documents
), hist AS (
  SELECT g.doc_id, g.bin, COALESCE(b.c, 0) AS c
  FROM grid g LEFT JOIN bins b ON g.doc_id = b.doc_id AND g.bin = b.bin
), feat AS (
  SELECT doc_id, string_agg(CAST(c AS VARCHAR), ',' ORDER BY bin) AS feature_csv
  FROM hist GROUP BY doc_id
)
SELECT d.doc_id AS media_id,
       CASE d.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       f.feature_csv,
       octet_length(encode(d.text)) AS n_bytes
FROM documents d JOIN feat f ON d.doc_id = f.doc_id
"""


def q_rep_signals(spark, sf_dir):
    """Gopher-style repetition quality signals (Rae et al. 2021) —
    exact-integer numerators/denominators per doc, so the DuckDB twin
    reproduces every value bit-for-bit (no float thresholds in the
    checked output). One zero-shuffle Arrow-batched pass over the
    documents (operators/repetition.py)."""
    from .operators.repetition import repetition_signals

    return repetition_signals(_docs(spark, sf_dir))


SQL_REP_SIGNALS = r"""
WITH base AS (
  SELECT doc_id, length(trim(text)) AS n_chars,
         regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents
), stats AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(len(t) - len(list_distinct(t)) AS BIGINT) AS n_dup_tokens
  FROM base
), g2 AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS gram
  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i
        FROM base)
), c2 AS (
  SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2
), top2 AS (
  SELECT doc_id, gram AS top_bigram, cnt AS top_bigram_count
  FROM (SELECT doc_id, gram, cnt,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, gram DESC) AS rn
        FROM c2)
  WHERE rn = 1
), g5 AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 4), ' ') AS gram
  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS i
        FROM base)
), c5 AS (
  SELECT doc_id, gram, COUNT(*) AS cnt FROM g5 GROUP BY 1, 2
), d5 AS (
  SELECT doc_id, SUM(cnt * length(gram)) AS dup_5gram_chars
  FROM c5 WHERE cnt >= 2 GROUP BY doc_id
)
SELECT s.doc_id, s.n_chars, s.n_tokens, s.n_dup_tokens,
       t.top_bigram,
       CAST(COALESCE(t.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
       CAST(COALESCE(d.dup_5gram_chars, 0) AS BIGINT) AS dup_5gram_chars
FROM stats s
LEFT JOIN top2 t USING (doc_id)
LEFT JOIN d5 d USING (doc_id)
"""


def q_rep_filter(spark, sf_dir):
    """Gopher repetition drop-verdict per doc: keep + integer bitmask of
    which caps fired (1 dup-word, 2 top-bigram chars, 4 dup-5-gram
    chars), at the paper's published thresholds. The comparisons happen
    in exact integer×rational arithmetic on both sides."""
    from .operators.repetition import repetition_filter, repetition_signals

    return repetition_filter(repetition_signals(_docs(spark, sf_dir)))


SQL_REP_FILTER = f"""
WITH sig AS ({SQL_REP_SIGNALS}),
mask AS (
  SELECT doc_id,
         (CASE WHEN n_dup_tokens > 0.63 * n_tokens THEN 1 ELSE 0 END)
         + (CASE WHEN COALESCE(top_bigram_count * length(top_bigram), 0)
                      > 0.20 * n_chars THEN 2 ELSE 0 END)
         + (CASE WHEN dup_5gram_chars > 0.15 * n_chars THEN 4 ELSE 0 END)
           AS fail_mask
  FROM sig
)
SELECT doc_id, fail_mask = 0 AS keep, CAST(fail_mask AS INTEGER) AS fail_mask
FROM mask
"""


def q_span_removal(spark, sf_dir):
    """Lee et al.'s substring CUT over the same base∪twin corpus as
    ``duplicate_spans``: every token covered by a cross-doc duplicated
    5-gram is removed; the oracle re-derives the inverted index AND the
    surviving text (order-preserving string_agg) in DuckDB, so the
    rewritten documents are value-checked end-to-end."""
    from .operators.spans import remove_duplicate_spans

    alld, _ = _twin_corpus(spark, sf_dir, 7)
    return remove_duplicate_spans(alld, n=5, min_docs=2)


SQL_SPAN_REMOVAL = r"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
), twins AS (
  SELECT doc_id + 10000 AS doc_id,
         array_to_string(
           list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 7), ' '
         ) AS text
  FROM base
), alld AS (
  SELECT * FROM base UNION ALL SELECT * FROM twins
), toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM alld
), idx AS (
  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS i
  FROM toks
), sites AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         array_to_string(list_slice(t, i, i + 4), ' ') AS gram
  FROM idx
), freq AS (
  SELECT gram FROM sites GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
), covered AS (
  SELECT DISTINCT s.doc_id, CAST(unnest(range(s.pos, s.pos + 5)) AS INTEGER) AS i
  FROM sites s JOIN freq f USING (gram)
), words AS (
  SELECT doc_id, CAST(unnest(range(1, len(t) + 1)) AS INTEGER) AS i, t
  FROM toks
), kept AS (
  SELECT w.doc_id, w.i, w.t[w.i] AS tok
  FROM words w ANTI JOIN covered c ON w.doc_id = c.doc_id AND w.i = c.i
), rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY i) AS kept_text
  FROM kept GROUP BY doc_id
)
SELECT k.doc_id,
       CAST(len(k.t) AS BIGINT) AS n_tokens,
       CAST(len(k.t) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(r.kept_text, '') AS kept_text
FROM toks k LEFT JOIN rebuilt r USING (doc_id)
"""


def q_url_canonical_dedup(spark, sf_dir):
    """URL-level dedup — the cheapest crawl-pipeline dedup key, applied
    BEFORE any content hashing. Four deterministic surface variants of
    every snapshot url (verbatim; HTTPS://WWW. + uppercased host +
    #fragment; trailing slash; explicit :443 default port) collapse to
    one canonical form; the oracle reruns the identical regexp algebra
    in DuckDB over the same committed snapshot."""
    from .functions.urls import canonical_url
    from .synth import synth_pages

    urls = synth_pages(spark, 2_000).select("url")
    host = F.split(F.col("url"), "/")[2]
    rest = F.expr("substring(url, 9 + length(split(url, '/')[2]))")
    variants = (
        urls.select(F.col("url").alias("raw"))
        .unionByName(
            urls.select(
                F.concat(
                    F.lit("HTTPS://WWW."), F.upper(host), rest, F.lit("#frag")
                ).alias("raw")
            )
        )
        .unionByName(urls.select(F.concat("url", F.lit("/")).alias("raw")))
        .unionByName(
            urls.select(
                F.concat(
                    F.lit("https://"), host, F.lit(":443"), rest
                ).alias("raw")
            )
        )
    )
    return (
        variants.groupBy(canonical_url(F.col("raw")).alias("canonical_url"))
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.countDistinct("raw").alias("n_distinct_raw"),
        )
    )


SQL_URL_CANONICAL_DEDUP = rf"""
WITH urls AS (
  SELECT url FROM read_parquet('{SNAPSHOT_2K}')
), variants AS (
  SELECT url AS raw FROM urls
  UNION ALL
  SELECT 'HTTPS://WWW.' || upper(split_part(url, '/', 3))
         || substr(url, 9 + length(split_part(url, '/', 3))) || '#frag'
  FROM urls
  UNION ALL
  SELECT url || '/' FROM urls
  UNION ALL
  SELECT 'https://' || split_part(url, '/', 3) || ':443'
         || substr(url, 9 + length(split_part(url, '/', 3)))
  FROM urls
), canon AS (
  SELECT raw,
         lower(regexp_extract(raw, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
           AS scheme,
         regexp_replace(
           lower(regexp_extract(raw, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)),
           '^www\.', '') AS host,
         regexp_extract(raw, '^[^/?#]*://[^/:?#]+:(\d+)', 1) AS port,
         regexp_replace(
           regexp_extract(raw, '^[^/?#]*://[^/?#]*(/[^?#]*)', 1), '/$', '')
           AS path,
         regexp_extract(raw, '^[^?#]*(\?[^#]*)', 1) AS query
  FROM variants
), built AS (
  SELECT raw,
         scheme || '://' || host
         || (CASE WHEN (scheme = 'http' AND port = '80')
                    OR (scheme = 'https' AND port = '443')
                    OR port = '' THEN ''
                  ELSE ':' || port END)
         || path || query AS canonical_url
  FROM canon
)
SELECT canonical_url, COUNT(*) AS n_variants,
       COUNT(DISTINCT raw) AS n_distinct_raw
FROM built GROUP BY canonical_url
"""


def q_line_dedup(spark, sf_dir):
    """CCNet-style line-level boilerplate removal over a multi-line
    corpus derived from ``documents``: every doc gets its body plus one
    of two planted footers plus a 'Page N of 10' line (whose digit runs
    normalize to the SAME key across docs — the CCNet normalization at
    work). Lines whose normalized form appears in ≥3 distinct docs are
    cut; the oracle re-derives the inverted index AND the rewritten
    text in DuckDB, value-checking the rewrite end-to-end."""
    from .operators.lines import remove_duplicate_lines

    docs = _docs(spark, sf_dir)
    multi = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("Copyright 2024 Example Corp")
            ).otherwise(F.lit("Subscribe to our newsletter!")),
            F.concat(
                F.lit("Page "),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(" of 10"),
            ),
        ).alias("text"),
    )
    return remove_duplicate_lines(multi, min_docs=3)


SQL_LINE_DEDUP = r"""
WITH multi AS (
  SELECT doc_id,
         text || chr(10)
         || CASE WHEN doc_id % 2 = 0 THEN 'Copyright 2024 Example Corp'
                 ELSE 'Subscribe to our newsletter!' END
         || chr(10) || 'Page ' || CAST(doc_id % 7 AS VARCHAR) || ' of 10'
           AS text
  FROM documents
), docl AS (
  SELECT doc_id, string_split(text, chr(10)) AS l FROM multi
), idx AS (
  SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM docl
), sites AS (
  SELECT doc_id, CAST(i - 1 AS INTEGER) AS line_no, l[i] AS raw,
         regexp_replace(lower(trim(l[i])), '[0-9]+', '0', 'g') AS key
  FROM idx
), freq AS (
  SELECT key FROM sites WHERE key <> ''
  GROUP BY key HAVING COUNT(DISTINCT doc_id) >= 3
), dropped AS (
  SELECT DISTINCT s.doc_id, s.line_no
  FROM sites s JOIN freq f USING (key) WHERE s.key <> ''
), kept AS (
  SELECT s.doc_id, s.line_no, s.raw
  FROM sites s ANTI JOIN dropped d
    ON s.doc_id = d.doc_id AND s.line_no = d.line_no
), rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(raw, chr(10) ORDER BY line_no) AS kept_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.l) AS BIGINT) AS n_lines,
       CAST(len(d.l) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(r.kept_text, '') AS kept_text
FROM docl d LEFT JOIN rebuilt r USING (doc_id)
"""


def q_paragraph_dedup(spark, sf_dir):
    """CCNet's ORIGINAL unit — paragraph-level boilerplate removal —
    over a multi-paragraph corpus derived from ``documents``: body
    paragraph (two lines, so the unit split is load-bearing) + one of
    two planted footer PARAGRAPHS + a 'Visit page N' paragraph whose
    digits normalize away. The oracle re-derives the inverted index and
    the blank-line rewrite in DuckDB."""
    from .operators.lines import remove_duplicate_lines

    docs = _docs(spark, sf_dir)
    multi = docs.select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.concat(F.col("text"), F.lit("\nsecond body line")),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("Footer paragraph.\nAll rights reserved."),
            ).otherwise(F.lit("Subscribe now!\nGet our newsletter.")),
            F.concat(
                F.lit("Visit page "), (F.col("doc_id") % 9).cast("string")
            ),
        ).alias("text"),
    )
    return remove_duplicate_lines(multi, min_docs=3, unit="paragraph")


SQL_PARAGRAPH_DEDUP = r"""
WITH multi AS (
  SELECT doc_id,
         text || chr(10) || 'second body line'
         || chr(10) || chr(10)
         || CASE WHEN doc_id % 2 = 0
                 THEN 'Footer paragraph.' || chr(10) || 'All rights reserved.'
                 ELSE 'Subscribe now!' || chr(10) || 'Get our newsletter.' END
         || chr(10) || chr(10) || 'Visit page ' || CAST(doc_id % 9 AS VARCHAR)
           AS text
  FROM documents
), docl AS (
  SELECT doc_id, regexp_split_to_array(text, '\n{2,}') AS l FROM multi
), idx AS (
  SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM docl
), sites AS (
  SELECT doc_id, CAST(i - 1 AS INTEGER) AS line_no, l[i] AS raw,
         regexp_replace(lower(trim(l[i])), '[0-9]+', '0', 'g') AS key
  FROM idx
), freq AS (
  SELECT key FROM sites WHERE key <> ''
  GROUP BY key HAVING COUNT(DISTINCT doc_id) >= 3
), dropped AS (
  SELECT DISTINCT s.doc_id, s.line_no
  FROM sites s JOIN freq f USING (key) WHERE s.key <> ''
), kept AS (
  SELECT s.doc_id, s.line_no, s.raw
  FROM sites s ANTI JOIN dropped d
    ON s.doc_id = d.doc_id AND s.line_no = d.line_no
), rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(raw, chr(10) || chr(10) ORDER BY line_no) AS kept_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.l) AS BIGINT) AS n_lines,
       CAST(len(d.l) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(r.kept_text, '') AS kept_text
FROM docl d LEFT JOIN rebuilt r USING (doc_id)
"""


def q_c4_filter(spark, sf_dir):
    """C4 page cleaning (Raffel et al. 2020) over a multi-line corpus
    derived from ``documents``: every doc gets its body as a terminal-
    punctuated sentence plus planted boilerplate exercising each rule —
    a javascript line, a punctuation-less nav bar, a too-short line, an
    even-doc bonus sentence (varying n_sentences), 'lorem ipsum' on
    every 10th doc and a curly-brace snippet on doc_id%13==3 (page
    drops). The oracle re-derives the line verdicts, sentence counts,
    flags AND the rewritten text (sha256) in DuckDB."""
    from .operators.c4 import c4_clean

    docs = _docs(spark, sf_dir)
    multi = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.col("text"), F.lit(".")),
            F.lit("Please enable javascript to continue reading this page."),
            F.lit("Home | About | Contact"),
            F.lit("Too short."),
            F.lit("All four good lines survive here."),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("A bonus sentence appears on even documents."),
            ),
            F.when(
                F.col("doc_id") % 10 == 0,
                F.lit("Sample filler lorem ipsum dolor sit amet."),
            ),
            F.when(
                F.col("doc_id") % 13 == 3,
                F.lit("var config = { mode: production };"),
            ),
        ).alias("text"),
    )
    out = c4_clean(multi, min_sentences=2)
    return out.select(
        "doc_id",
        "n_lines",
        "n_kept",
        "n_sentences",
        "has_lorem",
        "has_brace",
        "keep_doc",
        F.sha2(F.col("kept_text"), 256).alias("kept_sha256"),
    )


SQL_C4_FILTER = r"""
WITH multi AS (
  SELECT doc_id, concat_ws(chr(10),
    text || '.',
    'Please enable javascript to continue reading this page.',
    'Home | About | Contact',
    'Too short.',
    'All four good lines survive here.',
    CASE WHEN doc_id % 2 = 0
         THEN 'A bonus sentence appears on even documents.' END,
    CASE WHEN doc_id % 10 = 0
         THEN 'Sample filler lorem ipsum dolor sit amet.' END,
    CASE WHEN doc_id % 13 = 3
         THEN 'var config = { mode: production };' END
  ) AS text
  FROM documents
), stripped AS (
  SELECT doc_id, text,
    list_transform(string_split(text, chr(10)),
                   x -> regexp_replace(x, '\r$', '')) AS lines
  FROM multi
), verdicts AS (
  SELECT doc_id, text, lines,
    list_filter(lines, x ->
      trim(x) <> ''
      AND regexp_matches(trim(x), '[.!?"]$')
      AND len(regexp_split_to_array(trim(x), '\s+')) >= 3
      AND NOT contains(lower(x), 'javascript')
    ) AS kept
  FROM stripped
), agg AS (
  SELECT doc_id, lines, kept,
    COALESCE(list_sum(list_transform(
      kept, x -> len(regexp_extract_all(x, '[.!?]')))), 0) AS n_sent,
    contains(lower(text), 'lorem ipsum') AS has_lorem,
    contains(text, '{') AS has_brace
  FROM verdicts
)
SELECT doc_id,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(len(kept) AS BIGINT) AS n_kept,
  CAST(n_sent AS BIGINT) AS n_sentences,
  has_lorem, has_brace,
  (NOT has_lorem AND NOT has_brace AND n_sent >= 2) AS keep_doc,
  sha256(array_to_string(kept, chr(10))) AS kept_sha256
FROM agg
"""


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprint selection (Schleimer et al. 2003) over
    ``documents`` at k=3, w=4, on the DuckDB-exact polynomial gram hash.
    The twin re-derives gram hashes, per-window minima AND the
    rightmost-tie positions, so the windowing algorithm itself is
    value-checked, not just the hashes."""
    from .operators.winnow import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), k=3, w=4)


def _sql_winnow_core(source: str) -> str:
    """The toked/grams/sel CTE chain of the winnowing twin (k=3, w=4)
    over a named relation — shared by the fingerprint and pair
    queries."""
    return rf"""toked AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM {source}
), grams AS (
  SELECT doc_id,
    list_transform(
      range(1, greatest(len(toks) - 2, 0) + 1),
      i -> list_reduce(
             list_prepend(CAST(0 AS HUGEINT),
               list_transform(
                 range(1, length(array_to_string(list_slice(toks, i, i + 2), ' ')) + 1),
                 c -> CAST(ord(substr(array_to_string(list_slice(toks, i, i + 2), ' '), c, 1)) AS HUGEINT))),
             (a, b) -> (a * 31 + b) % 2147483647)
    ) AS g
  FROM toked
), sel AS (
  SELECT doc_id,
    unnest(list_transform(
      range(1, greatest(len(g) - 3, 0) + 1),
      j -> {{'pos': j + 4 - list_position(list_reverse(list_slice(g, j, j + 3)),
                                         list_min(list_slice(g, j, j + 3))),
            'fp': list_min(list_slice(g, j, j + 3))}}
    )) AS s
  FROM grams
)"""


SQL_WINNOW_FINGERPRINTS = f"""
WITH {_sql_winnow_core("documents")}
SELECT DISTINCT doc_id, CAST(s.pos AS INT) AS pos, CAST(s.fp AS BIGINT) AS fp
FROM sel
"""


def q_winnow_overlap_pairs(spark, sf_dir):
    """Winnowing-based overlap candidates: base docs ∪ planted twins
    (first 10 tokens of each base doc — 8 shared 3-grams → ≥5 shared
    windows, well past the w+k-1=6-token guarantee), paired on shared
    fingerprints. The twin re-derives fingerprints AND the pair rollup,
    value-checking n_shared exactly. max_postings is far above the
    200-doc corpus, so the Spark-side hot-posting cap is provably
    inactive and the engines compare like-for-like."""
    from .operators.winnow import winnow_overlap_candidates

    alld, _ = _twin_corpus(spark, sf_dir, 10)
    return winnow_overlap_candidates(alld, k=3, w=4, min_shared=1)


SQL_WINNOW_OVERLAP_PAIRS = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
), twins AS (
  SELECT doc_id + 10000 AS doc_id,
         array_to_string(
           list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 10), ' ')
           AS text
  FROM base
), corpus AS (
  SELECT * FROM base UNION ALL SELECT * FROM twins
), {_sql_winnow_core("corpus")}, fps AS (
  SELECT DISTINCT doc_id, s.fp AS fp FROM sel
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fps a JOIN fps b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
"""


def q_mixture_weights(spark, sf_dir):
    """α-sampling mixture weights per source (XLM-R/mT5 protocol) over
    ``documents``: token shares → p^α normalization → per-doc boost.
    The DuckDB twin recomputes shares, powers and boosts; both sides
    round to 10 digits (libm pow last-ulp drift)."""
    from .operators.sampling import mixture_weights

    return mixture_weights(_docs(spark, sf_dir), stratum_col="source")


SQL_MIXTURE_WEIGHTS = r"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(TRIM(text), '\s+')) END)
           AS n_tokens
  FROM documents GROUP BY source
), norm AS (
  SELECT *, n_tokens / SUM(n_tokens) OVER () AS p_raw FROM per
), alpha AS (
  SELECT *, pow(p_raw, 0.7) / SUM(pow(p_raw, 0.7)) OVER () AS p_alpha
  FROM norm
)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(p_raw, 10) AS p_raw,
       ROUND(p_alpha, 10) AS p_alpha,
       ROUND(p_alpha / p_raw, 10) AS boost
FROM alpha
"""


def _mojibake_fixtures():
    """Deterministic damage literals, COMPUTED from the clean glyphs via
    the same historical-bug re-enactment the operator's table uses — no
    transcribed mojibake in source. Shared by the Spark query and the
    generated DuckDB twin so both engines damage identically."""
    from .functions.encoding import _damage

    the_damaged = f" th{_damage('é')} "
    append = (
        f" {_damage('“')}well said{_damage('’')} {_damage('—')}"
        f" ca{_damage('ñ')}on {_damage('«')}x{_damage('»')}"
    )
    return the_damaged, append


def q_mojibake_report(spark, sf_dir):
    """Mojibake detection + repair (functions/encoding.py) over a
    deterministically damaged corpus: every 3rd doc gets ' the '
    re-encoded through the cp1252 bug, every 5th doc a damaged-
    punctuation suffix. The DuckDB twin re-derives the damage AND the
    repair (nested replace chain generated from the same table), so
    signature counts and repaired bytes (sha256) are value-checked
    end-to-end; n_after pins the closed-table guarantee (repair leaves
    zero signatures)."""
    from .functions.encoding import fix_mojibake, mojibake_count

    the_damaged, append = _mojibake_fixtures()
    damaged = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 3 == 0,
                F.replace(F.col("text"), F.lit(" the "), F.lit(the_damaged)),
            ).otherwise(F.col("text")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(append)).otherwise(F.lit("")),
        ).alias("text"),
    )
    fixed = fix_mojibake(F.col("text"))
    return damaged.select(
        "doc_id",
        mojibake_count(F.col("text")).cast("long").alias("n_mojibake"),
        mojibake_count(fixed).cast("long").alias("n_after"),
        (fixed != F.col("text")).alias("changed"),
        F.sha2(fixed, 256).alias("fixed_sha256"),
    )


def _sql_mojibake_report() -> str:
    from .functions.encoding import MOJIBAKE_MARKER_RE, MOJIBAKE_TABLE

    the_damaged, append = _mojibake_fixtures()
    fix = "text"
    for broken, repaired in MOJIBAKE_TABLE:
        fix = f"replace({fix}, '{broken}', '{repaired}')"
    return f"""
WITH damaged AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 3 = 0
          THEN replace(text, ' the ', '{the_damaged}') ELSE text END)
    || (CASE WHEN doc_id % 5 = 0 THEN '{append}' ELSE '' END) AS text
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{MOJIBAKE_MARKER_RE}')) AS BIGINT)
    AS n_mojibake,
  CAST(len(regexp_extract_all({fix}, '{MOJIBAKE_MARKER_RE}')) AS BIGINT)
    AS n_after,
  ({fix} <> text) AS changed,
  sha256({fix}) AS fixed_sha256
FROM damaged
"""


SQL_MOJIBAKE_REPORT = _sql_mojibake_report()


def q_decontam_report(spark, sf_dir):
    """GPT-3-style benchmark decontamination: the eval corpus is a
    planted contamination — a 9-token slice of every 5th document — and
    the report lists every training doc sharing a 5-gram with it, with
    hit counts and earliest position. The eval gram set broadcasts;
    training text never shuffles."""
    from .operators.decontam import contamination_report

    docs = _docs(spark, sf_dir)
    toks = ws_tokens(F.col("text"))
    ev = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 3, 9)).alias("text"),
    )
    return contamination_report(docs, ev, n=5)


SQL_DECONTAM_REPORT = r"""
WITH ev AS (
  SELECT array_to_string(
           list_slice(regexp_split_to_array(trim(text), '\s+'), 3, 11), ' '
         ) AS text
  FROM documents WHERE doc_id % 5 = 0
), ev_toks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM ev
), ev_grams AS (
  SELECT DISTINCT array_to_string(list_slice(t, i, i + 4), ' ') AS gram
  FROM (SELECT t, unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS i
        FROM ev_toks)
), tr AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
), sites AS (
  SELECT doc_id, CAST(len(t) - 4 AS BIGINT) AS n_grams,
         CAST(i AS INTEGER) AS pos,
         array_to_string(list_slice(t, i, i + 4), ' ') AS gram
  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS i
        FROM tr)
)
SELECT doc_id, n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(MIN(pos) AS INTEGER) AS first_hit_pos
FROM sites JOIN ev_grams USING (gram)
GROUP BY doc_id, n_grams
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language sampling for data mixing: keep-iff
    ``md5(doc_id:seed)[:12] < threshold(rate)`` — a pure codegen filter
    with zero shuffle, rerun-stable under any partitioning. Rates are
    dyadic so the inverse-probability weights are float-exact on both
    engines; the oracle replays the identical md5-prefix algebra."""
    from .operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return stratified_sample(
        docs, {"en": 0.5, "de": 0.25, "zh": 0.125}, default_rate=1.0, seed=42
    )


def _sql_stratified_sample() -> str:
    from .operators.sampling import _threshold_hex as th

    return f"""
WITH hashed AS (
  SELECT doc_id, lang,
         substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 12) AS h
  FROM documents
)
SELECT doc_id, lang,
       CASE lang WHEN 'en' THEN 2.0 WHEN 'de' THEN 4.0
            WHEN 'zh' THEN 8.0 ELSE 1.0 END AS sample_weight
FROM hashed
WHERE h < CASE lang WHEN 'en' THEN '{th(0.5)}' WHEN 'de' THEN '{th(0.25)}'
               WHEN 'zh' THEN '{th(0.125)}' ELSE 'g' END
"""


def q_deterministic_split(spark, sf_dir):
    """Hash-range train/valid/test assignment: a partition of the
    corpus that is a function of the doc key alone — resharding or
    shrinking the corpus never moves a document between splits. The
    oracle replays the cumulative-threshold CASE with thresholds
    computed by the SAME Python float arithmetic (0.8, 0.8+0.1)."""
    from .operators.sampling import deterministic_split

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return deterministic_split(
        docs, {"train": 0.8, "valid": 0.1, "test": 0.1}, seed=7
    )


def _sql_deterministic_split() -> str:
    from .operators.sampling import _threshold_hex as th

    return f"""
WITH hashed AS (
  SELECT doc_id, lang,
         substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 12) AS h
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN h < '{th(0.8)}' THEN 'train'
            WHEN h < '{th(0.8 + 0.1)}' THEN 'valid'
            ELSE 'test' END AS split
FROM hashed
"""


def q_normalized_exact(spark, sf_dir):
    """Second exact tier — dedup after CCNet-style normalization
    (lowercase, digits→0, punctuation/whitespace runs→one space):
    catches the web's cheapest mutations that raw-byte SHA-256 misses.
    Planted variants (uppercased+bannered, double-spaced) of each doc
    must collapse into its cluster; n_distinct_raw > 1 proves the tier
    merges what pass 2 could not. The oracle replays the identical
    regex algebra with RE2 classes and DuckDB's explicit 'g' flag."""
    from .functions.hashing import normalized_sha256_col

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    variants = (
        docs.select("doc_id", "text")
        .unionByName(
            docs.select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                F.concat(F.upper("text"), F.lit(" *** !!! ***")).alias("text"),
            )
        )
        .unionByName(
            docs.select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                F.regexp_replace("text", " ", "   ").alias("text"),
            )
        )
    )
    return (
        variants.groupBy(normalized_sha256_col(F.col("text")).alias("norm_key"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("text").alias("n_distinct_raw"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


SQL_NORMALIZED_EXACT = r"""
WITH variants AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, upper(text) || ' *** !!! ***' FROM documents
  UNION ALL
  SELECT doc_id + 2000000, regexp_replace(text, ' ', '   ', 'g') FROM documents
), normed AS (
  SELECT doc_id, text,
         sha256(trim(regexp_replace(regexp_replace(lower(text),
                  '[0-9]', '0', 'g'), '[^\p{L}\p{N}]+', ' ', 'g')))
           AS norm_key
  FROM variants
)
SELECT norm_key, COUNT(*) AS n_docs,
       COUNT(DISTINCT text) AS n_distinct_raw,
       MIN(doc_id) AS keeper_doc
FROM normed GROUP BY norm_key HAVING COUNT(*) >= 2
"""


def q_chunk_documents(spark, sf_dir):
    """Sliding-window chunking for the embedding/RAG leg: 32-token
    windows with 8-token overlap, pure codegen (split → sequence →
    explode → slice), zero shuffle. The oracle replays the identical
    chunk arithmetic with DuckDB list functions (1-based inclusive
    list_slice == Spark's 1-based slice(start, length)). Tokenizer
    caveat: DuckDB's RE2 ``\\s`` is ASCII-only while the Spark side
    splits the full Unicode class — equal on the ASCII fixture corpus
    (which is what makes the value-hash comparable); the arithmetic
    being checked is tokenizer-independent."""
    from .operators.chunking import chunk_documents

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return chunk_documents(docs, chunk_tokens=32, overlap=8)


SQL_CHUNK_DOCUMENTS = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'),
                     t -> t <> '') AS toks
  FROM documents
), sized AS (
  SELECT doc_id, toks,
         greatest(1, CAST(ceil((len(toks) - 8) / 24.0) AS BIGINT)) AS n_chunks
  FROM toked
), idx AS (
  SELECT doc_id, toks, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
  FROM sized
), sliced AS (
  SELECT doc_id, chunk_idx,
         list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32) AS chunk
  FROM idx
)
SELECT doc_id, chunk_idx,
       array_to_string(chunk, ' ') AS chunk_text,
       len(chunk) AS n_tokens
FROM sliced
"""


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (the GPT-style corpus-export
    stage) over the deterministic training order: per-shard token
    streams with one EOS slot per document, cut into 64-token blocks.
    Per-shard window cumsum (distributed prefix sum) + sequence/explode
    — all codegen, no global coordination. The oracle replays the
    shuffle's hex algebra, the same cumsum, and the same block/segment
    arithmetic with generate_series (ASCII-whitespace tokens on both
    engines over the ASCII fixture — see q_chunk_documents)."""
    from .operators.chunking import TOKEN_SPLIT, pack_sequences
    from .operators.sampling import corpus_shuffle

    # count tokens BEFORE the shuffle so the shard exchange carries
    # slim (doc_id, n) meta, never the page text (plan-asserted)
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(
            F.filter(F.split("text", TOKEN_SPLIT), lambda t: t != F.lit(""))
        ).alias("_n"),
    )
    ordered = corpus_shuffle(docs, key_col="doc_id", seed=13, num_shards=8)
    return pack_sequences(ordered, seq_len=64, sep_tokens=1, n_col="_n")


SQL_PACK_SEQUENCES = r"""
WITH hashed AS (
  SELECT doc_id, text,
         substr(md5(CAST(doc_id AS VARCHAR) || ':13'), 1, 12) AS h
  FROM documents
), ordered AS (
  SELECT doc_id, text,
         CAST(('0x' || substr(h, 1, 6)) AS INT) % 8 AS shard,
         row_number() OVER (
           PARTITION BY CAST(('0x' || substr(h, 1, 6)) AS INT) % 8
           ORDER BY h, doc_id) AS pos
  FROM hashed
), sized AS (
  SELECT doc_id, shard, pos,
         CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                              t -> t <> '')) AS BIGINT) AS n
  FROM ordered
), offs AS (
  SELECT doc_id, shard, n,
         CAST(COALESCE(SUM(n + 1) OVER (
           PARTITION BY shard ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS BIGINT) AS off
  FROM sized
), seg AS (
  SELECT doc_id, shard, off, n,
         unnest(generate_series(off // 64, (off + n - 1) // 64)) AS block
  FROM offs WHERE n > 0
)
SELECT doc_id, shard, block,
       greatest(off, block * 64) - off AS doc_start,
       greatest(off, block * 64) - block * 64 AS block_off,
       least(off + n, (block + 1) * 64) - greatest(off, block * 64) AS n_toks
FROM seg
"""


def q_token_budget_sample(spark, sf_dir):
    """Exact per-language TOKEN budgets (the unit of a training mix):
    keep hash-smallest docs per stratum until the preceding token sum
    reaches the budget; unbudgeted strata pass whole. The Spark side
    runs the megastratum-safe two-phase prefix construction; the
    oracle is the single-window definition the construction provably
    equals. en/de budgets bind, zh's exceeds its total (keeps all),
    es/fr are unbudgeted."""
    from .operators.sampling import token_budget_sample

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    kept = token_budget_sample(
        docs,
        {"en": 5000, "de": 1500, "zh": 99999},
        stratum_col="lang",
        key_col="doc_id",
        seed=7,
    )
    return kept.select("doc_id", "lang")


SQL_TOKEN_BUDGET_SAMPLE = r"""
WITH slim AS (
  SELECT doc_id, lang,
         substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 12) AS h,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(TRIM(text), '\s+')) END AS n
  FROM documents
), cum AS (
  SELECT doc_id, lang,
         CAST(COALESCE(SUM(n) OVER (PARTITION BY lang ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS prev
  FROM slim
)
SELECT doc_id, lang FROM cum
WHERE CASE lang WHEN 'en' THEN prev < 5000
                WHEN 'de' THEN prev < 1500
                WHEN 'zh' THEN prev < 99999
                ELSE TRUE END
"""


def q_corpus_shuffle(spark, sf_dir):
    """Deterministic training-order shuffle: (shard, pos) is a
    rerun-stable pseudo-random total order keyed on md5(doc_id:seed) —
    one hash-partitioned exchange + per-shard sort, no global
    single-reducer orderBy(rand()). The oracle replays the identical
    hex algebra (DuckDB casts '0x'||hex, Spark conv(·,16,10))."""
    from .operators.sampling import corpus_shuffle

    docs = _docs(spark, sf_dir).select("doc_id")
    return corpus_shuffle(docs, key_col="doc_id", seed=13, num_shards=8)


SQL_CORPUS_SHUFFLE = """
WITH hashed AS (
  SELECT doc_id,
         substr(md5(CAST(doc_id AS VARCHAR) || ':13'), 1, 12) AS h
  FROM documents
), sharded AS (
  SELECT doc_id, h,
         CAST(('0x' || substr(h, 1, 6)) AS INT) % 8 AS shard
  FROM hashed
)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
FROM sharded
"""


def q_domain_cap(spark, sf_dir):
    """Per-domain cap (RefinedWeb/FineWeb curation): keep the 3 pages
    with the smallest md5(url:seed) per host — an unbiased,
    rerun-stable within-domain sample. The Spark side runs the exact
    two-phase salted top-k (no single task ever holds a megadomain);
    the oracle is the single-window definition the two-phase
    construction provably equals."""
    from .functions.urls import host_of
    from .operators.sampling import domain_cap
    from .synth import synth_pages

    pages = synth_pages(spark, 2_000).select(
        "url", host_of(F.col("url")).alias("host")
    )
    return domain_cap(pages, k=3, domain_col="host", key_col="url", seed=99)


SQL_DOMAIN_CAP = rf"""
WITH pages AS (
  SELECT url FROM read_parquet('{SNAPSHOT_2K}')
), hosted AS (
  SELECT url,
         lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1))
           AS host,
         substr(md5(url || ':99'), 1, 12) AS h
  FROM pages
), ranked AS (
  SELECT url, host,
         row_number() OVER (PARTITION BY host ORDER BY h, url) AS r
  FROM hosted
)
SELECT url, host FROM ranked WHERE r <= 3
"""


SQL_STRATIFIED_SAMPLE = _sql_stratified_sample()
SQL_DETERMINISTIC_SPLIT = _sql_deterministic_split()


def _pii_planted(spark, sf_dir):
    """Documents with deterministically planted PII: every 3rd doc gets
    an email, every 4th an IPv4, every 5th a phone (overlapping — a doc
    divisible by 12 carries both email and IP)."""
    d = F.col("doc_id")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % 3 == 0,
                F.concat(
                    F.lit(" Contact: user"), d.cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 4 == 0,
                F.concat(
                    F.lit(" host "), (d % 256).cast("string"),
                    F.lit(".0.113."), (d % 200).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 5 == 0,
                F.concat(
                    F.lit(" tel +1-555-"), (d % 900 + 100).cast("string")
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


# the identical planting in DuckDB (f-string shared by both PII oracles)
_SQL_PII_PLANTED = """
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' Contact: user' || CAST(doc_id AS VARCHAR)
                      || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 4 = 0
                 THEN ' host ' || CAST(doc_id % 256 AS VARCHAR)
                      || '.0.113.' || CAST(doc_id % 200 AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' tel +1-555-' || CAST(doc_id % 900 + 100 AS VARCHAR)
                 ELSE '' END AS text
  FROM documents
"""


def q_pii_report(spark, sf_dir):
    """Dolma-style PII tagging over planted emails/IPs/phones: per-doc
    match counts per class, counted progressively on the redacted text
    (an email's inner dotted quad never double-counts as an IP). Pure
    codegen regexes restricted to the Java∩RE2 dialect, so the DuckDB
    twin replays them verbatim."""
    from .operators.pii import pii_counts

    return pii_counts(_pii_planted(spark, sf_dir))


def q_pii_redact(spark, sf_dir):
    """The redaction itself, value-checked byte-for-byte: every PII
    match replaced with its class sentinel in the fixed EMAIL → IPV4 →
    PHONE order on both engines."""
    from .operators.pii import redact_pii

    return redact_pii(_pii_planted(spark, sf_dir))


def _sql_pii(report: bool) -> str:
    from .operators.pii import PII_PATTERNS

    email, ipv4, phone = (
        PII_PATTERNS["email"], PII_PATTERNS["ipv4"], PII_PATTERNS["phone"],
    )
    body = f"""
WITH planted AS ({_SQL_PII_PLANTED}), steps AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{email}')) AS BIGINT) AS n_email,
         regexp_replace(text, '{email}', '|||EMAIL|||', 'g') AS s1
  FROM planted
), steps2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(s1, '{ipv4}')) AS BIGINT) AS n_ipv4,
         regexp_replace(s1, '{ipv4}', '|||IPV4|||', 'g') AS s2
  FROM steps
), steps3 AS (
  SELECT doc_id, n_email, n_ipv4,
         CAST(len(regexp_extract_all(s2, '{phone}')) AS BIGINT) AS n_phone,
         regexp_replace(s2, '{phone}', '|||PHONE|||', 'g') AS s3
  FROM steps2
)
"""
    if report:
        return body + (
            "SELECT doc_id, n_email, n_ipv4, n_phone,\n"
            "       n_email + n_ipv4 + n_phone AS n_pii FROM steps3"
        )
    return body + (
        "SELECT doc_id, s3 AS redacted_text,\n"
        "       n_email + n_ipv4 + n_phone AS n_pii FROM steps3"
    )


SQL_PII_REPORT = _sql_pii(report=True)
SQL_PII_REDACT = _sql_pii(report=False)


def q_asof_click_view(spark, sf_dir):
    """As-of backward join over events: each click joined to the same
    user's latest prior (inclusive) view. Spark has no ASOF operator;
    this is the tagged-union window encoding (one shuffle on the key,
    zero row amplification — operators/asof.py) checked value-level
    against DuckDB's native ASOF LEFT JOIN. Timestamps leave as
    formatted strings, nulls as '' / -1.0 (engine-stable hashing)."""
    from .operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    out = asof_join(clicks, views, on="user_id", right_cols=["value"])
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", fmt).alias("click_ts"),
        F.coalesce(F.date_format("ts_asof", fmt), F.lit("")).alias("view_ts"),
        F.coalesce(F.col("value_asof"), F.lit(-1.0)).alias("view_value"),
    )


SQL_ASOF_CLICK_VIEW = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), views AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'view'
)
SELECT c.event_id, c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
       COALESCE(strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f'), '') AS view_ts,
       COALESCE(v.value, -1.0) AS view_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""


def q_tfidf_topk(spark, sf_dir):
    """Per-document top-3 salient tokens by TF-IDF. The selection order
    is integer-exact (tf desc, df asc, token asc) so the top-k set is
    engine-stable; the smoothed float score is reported rounded on
    both sides, never sorted on."""
    from .operators.corpus_stats import tfidf_topk

    return tfidf_topk(_docs(spark, sf_dir), k=3)


SQL_TFIDF_TOPK = r"""
WITH toks AS (
  SELECT doc_id, token FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
    FROM documents
  ) WHERE token <> ''
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY 1
), n AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS _n FROM documents
), ranked AS (
  SELECT tf.doc_id, tf.token, tf.tf, d.df,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, d.df ASC, tf.token ASC)
           AS rank
  FROM tf JOIN dfreq d USING (token)
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, token, tf, df,
       ROUND(tf * ln((_n + 1) / (df + 1)), 6) AS tfidf
FROM ranked, n WHERE rank <= 3
"""


def q_lm_quality(spark, sf_dir):
    """CCNet-style quality ordering without an external model: per-doc
    cross-entropy under the corpus's own unigram distribution
    (bits/token, lower = more typical). Rounded to 4 decimals on both
    sides — the per-doc mean of ~50 log2 terms carries sub-1e-10
    summation-order drift."""
    from .operators.corpus_stats import unigram_lm_quality

    return unigram_lm_quality(_docs(spark, sf_dir)).select(
        "doc_id",
        "n_tokens",
        F.round("cross_entropy", 4).alias("cross_entropy"),
    )


SQL_LM_QUALITY = r"""
WITH toks AS (
  SELECT doc_id, token FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
    FROM documents
  ) WHERE token <> ''
), counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1
), tot AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS _t FROM counts
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(log2(MIN(_t)) - AVG(log2(c)), 4) AS cross_entropy
FROM toks JOIN counts USING (token), tot
GROUP BY doc_id
"""



def q_lm_bigram(spark, sf_dir):
    """Perplexity-filter scoring one order up from ``lm_quality``:
    per-doc cross-entropy under the corpus's own Laplace-smoothed
    bigram model (bits/transition). Rounded to 4 decimals on both
    sides — the per-doc mean of ~50 log2 terms carries sub-1e-10
    summation-order drift (same contract as lm_quality)."""
    from .operators.corpus_stats import bigram_lm_quality

    return bigram_lm_quality(_docs(spark, sf_dir)).select(
        "doc_id",
        "n_bigrams",
        F.round("cross_entropy", 4).alias("cross_entropy"),
    )


SQL_LM_BIGRAM = r"""
WITH arrs AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a
  FROM documents
), big AS (
  SELECT doc_id, a[i] AS w1, a[i+1] AS w2
  FROM arrs, LATERAL (SELECT unnest(generate_series(1, len(a)-1)) AS i) t
), bg AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM big GROUP BY 1, 2
), ctx AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bg GROUP BY 1
), v AS (
  SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) AS _v FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
    FROM documents
  ) WHERE token <> ''
)
SELECT big.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(-AVG(log2((c12 + 1) / (c1 + _v))), 4) AS cross_entropy
FROM big JOIN bg USING (w1, w2) JOIN ctx USING (w1), v
GROUP BY 1
"""



def q_snm_pairs(spark, sf_dir):
    """Sorted-neighborhood blocking over documents: candidates within 3
    sort positions under the fuzzy key (lang, n_chars). Complements the
    hash-blocking queries — near-boundary records pair here even when
    their bucket keys differ. Rank set is integer-exact (the sort key
    ends in doc_id), so the pair list is engine-stable."""
    from .operators.blocking import sorted_neighborhood_pairs

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    return sorted_neighborhood_pairs(
        docs, ["lang", "n_chars"], id_col="doc_id", window=4
    ).select(
        F.col("url_a").alias("doc_a"), F.col("url_b").alias("doc_b")
    )


SQL_SNM_PAIRS = r"""
WITH ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY lang, n_chars, doc_id) AS r
  FROM documents
)
SELECT least(a.doc_id, b.doc_id) AS doc_a,
       greatest(a.doc_id, b.doc_id) AS doc_b
FROM ranked a JOIN ranked b ON b.r > a.r AND b.r <= a.r + 3
"""



def q_snapshot_time_travel(spark, sf_dir):
    """Iceberg-model snapshot table (sources/snapshots.py) exercised
    end-to-end: commit the even-id documents, append the odd ones, then
    TIME-TRAVEL back to snapshot 1 and aggregate — the result must see
    only the first commit. The tiny aggregate is materialized so the
    scratch table can be deleted before returning."""
    import shutil
    import tempfile

    from .sources.snapshots import SnapshotTable

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    root = tempfile.mkdtemp(prefix="snaptbl-")
    try:
        t = SnapshotTable(spark, root)
        t.commit(docs.where(F.col("doc_id") % 2 == 0))
        t.commit(docs.where(F.col("doc_id") % 2 == 1))  # append
        out = (
            t.read(snapshot=1)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
            )
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_SNAPSHOT_TIME_TRAVEL = r"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE doc_id % 2 = 0
GROUP BY lang
"""


def q_fs_scores(spark, sf_dir):
    """Fellegi–Sunter probabilistic linkage over documents: block on the
    n_chars//16 length bucket, compare (lang, source, n_chars, 16-char
    text prefix), estimate u from the data (Σn_v²/N² per field — one
    aggregate each, no pair enumeration), fixed m, and score each pair
    with the likelihood-ratio product. lr is hash-stable because every
    factor is one IEEE division of exactly-representable operands and
    the product is left-associated in both engines (linkage.py docstring
    has the full argument)."""
    from .operators.blocking import multi_rule_pairs
    from .operators.linkage import fs_score_pairs, u_probabilities

    fields = ["lang", "source", "n_chars", "p16"]
    m = {"lang": 0.95, "source": 0.9, "n_chars": 0.9, "p16": 0.85}
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.substring("text", 1, 16).alias("p16"),
        F.expr("n_chars div 16").alias("blk"),
    )
    u = u_probabilities(d, fields)
    pairs = multi_rule_pairs(d, "doc_id", [["blk"]])
    return fs_score_pairs(pairs, fields, m, u, upper=100.0, lower=1.0).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "pattern",
        "lr",
        "decision",
    )


SQL_FS_SCORES = r"""
WITH d AS (
  SELECT doc_id, lang, source, n_chars, substr(text, 1, 16) AS p16,
         n_chars // 16 AS blk
  FROM documents
),
u AS (
  SELECT
    (SELECT SUM(c*c) FROM (SELECT lang, COUNT(*) c FROM d
       WHERE lang IS NOT NULL GROUP BY lang))
      / ((SELECT COUNT(*) FROM d) * (SELECT COUNT(*) FROM d)) AS u_lang,
    (SELECT SUM(c*c) FROM (SELECT source, COUNT(*) c FROM d
       WHERE source IS NOT NULL GROUP BY source))
      / ((SELECT COUNT(*) FROM d) * (SELECT COUNT(*) FROM d)) AS u_source,
    (SELECT SUM(c*c) FROM (SELECT n_chars, COUNT(*) c FROM d
       WHERE n_chars IS NOT NULL GROUP BY n_chars))
      / ((SELECT COUNT(*) FROM d) * (SELECT COUNT(*) FROM d)) AS u_nchars,
    (SELECT SUM(c*c) FROM (SELECT p16, COUNT(*) c FROM d
       WHERE p16 IS NOT NULL GROUP BY p16))
      / ((SELECT COUNT(*) FROM d) * (SELECT COUNT(*) FROM d)) AS u_p16
),
g AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CASE WHEN a.lang IS NOT NULL AND b.lang IS NOT NULL
              AND a.lang = b.lang THEN 1 ELSE 0 END AS g_lang,
    CASE WHEN a.source IS NOT NULL AND b.source IS NOT NULL
              AND a.source = b.source THEN 1 ELSE 0 END AS g_source,
    CASE WHEN a.n_chars IS NOT NULL AND b.n_chars IS NOT NULL
              AND a.n_chars = b.n_chars THEN 1 ELSE 0 END AS g_nchars,
    CASE WHEN a.p16 IS NOT NULL AND b.p16 IS NOT NULL
              AND a.p16 = b.p16 THEN 1 ELSE 0 END AS g_p16
  FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
),
w AS (
  SELECT doc_a, doc_b,
    ((g_lang * 2 + g_source) * 2 + g_nchars) * 2 + g_p16 AS pattern,
    (((CASE WHEN g_lang = 1 THEN CAST(0.95 AS DOUBLE) / u_lang
        ELSE (CAST(1 AS DOUBLE) - CAST(0.95 AS DOUBLE))
             / (CAST(1 AS DOUBLE) - u_lang) END
     * CASE WHEN g_source = 1 THEN CAST(0.9 AS DOUBLE) / u_source
        ELSE (CAST(1 AS DOUBLE) - CAST(0.9 AS DOUBLE))
             / (CAST(1 AS DOUBLE) - u_source) END)
     * CASE WHEN g_nchars = 1 THEN CAST(0.9 AS DOUBLE) / u_nchars
        ELSE (CAST(1 AS DOUBLE) - CAST(0.9 AS DOUBLE))
             / (CAST(1 AS DOUBLE) - u_nchars) END)
     * CASE WHEN g_p16 = 1 THEN CAST(0.85 AS DOUBLE) / u_p16
        ELSE (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
             / (CAST(1 AS DOUBLE) - u_p16) END) AS lr
  FROM g, u
)
SELECT doc_a, doc_b, pattern, lr,
       CASE WHEN lr >= 100 THEN 'match'
            WHEN lr >= 1 THEN 'possible'
            ELSE 'nonmatch' END AS decision
FROM w
"""


def q_meta_blocking(spark, sf_dir):
    """Papadakis-style meta-blocking over documents: token blocking on
    the first 200 chars, block purging (2 ≤ size ≤ 20), CBS + block-set
    Jaccard edge weights, weighted-edge pruning at the integer-exact
    mean cut (w·|E| ≥ Σw, broadcast 1-row aggregate — no driver
    round-trip)."""
    from .operators.linkage import meta_block

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return meta_block(d, "doc_id", "text", max_block=20, prefix_chars=200).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "cbs",
        "js",
    )


SQL_META_BLOCKING = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(string_split(substr(text, 1, 200), ' '))) AS token
  FROM documents
),
toks2 AS (SELECT * FROM toks WHERE token <> ''),
keep AS (
  SELECT token FROM toks2 GROUP BY token
  HAVING COUNT(*) BETWEEN 2 AND 20
),
b AS (SELECT t.doc_id, t.token FROM toks2 t JOIN keep USING (token)),
edges AS (
  SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS cbs
  FROM b a JOIN b b2 ON a.token = b2.token AND a.doc_id < b2.doc_id
  GROUP BY 1, 2
),
per_id AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nb FROM b GROUP BY doc_id),
w AS (
  SELECT e.id_a, e.id_b, e.cbs,
         CAST(e.cbs AS DOUBLE) / (pa.nb + pb.nb - e.cbs) AS js
  FROM edges e
  JOIN per_id pa ON pa.doc_id = e.id_a
  JOIN per_id pb ON pb.doc_id = e.id_b
),
stats AS (SELECT SUM(cbs) AS sw, COUNT(*) AS ne FROM w)
SELECT id_a AS doc_a, id_b AS doc_b, cbs, js
FROM w, stats
WHERE cbs * ne >= sw
"""


def q_blocking_rules_union(spark, sf_dir):
    """Splink-style multi-rule blocking union over documents: three
    rules — (lang, n_chars), (source, n_chars//16), (12-char prefix) —
    each a self-equi-join on its own keys; cross-rule dedup is a codegen
    first-match predicate (rule k excludes pairs any earlier rule
    already emitted), so the union is disjoint by construction with NO
    global distinct() over the pair set."""
    from .operators.blocking import multi_rule_pairs

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.expr("n_chars div 16").alias("blk"),
        F.substring("text", 1, 12).alias("p12"),
    )
    return multi_rule_pairs(
        d, "doc_id", [["lang", "n_chars"], ["source", "blk"], ["p12"]]
    ).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "rule"
    )


SQL_BLOCKING_RULES_UNION = r"""
WITH d AS (
  SELECT doc_id, lang, source, n_chars, n_chars // 16 AS blk,
         substr(text, 1, 12) AS p12
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS INTEGER) AS rule
FROM d a JOIN d b
  ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
UNION ALL
SELECT a.doc_id, b.doc_id, CAST(1 AS INTEGER)
FROM d a JOIN d b
  ON a.source = b.source AND a.blk = b.blk AND a.doc_id < b.doc_id
  AND NOT coalesce(a.lang = b.lang AND a.n_chars = b.n_chars, false)
UNION ALL
SELECT a.doc_id, b.doc_id, CAST(2 AS INTEGER)
FROM d a JOIN d b
  ON a.p12 = b.p12 AND a.doc_id < b.doc_id
  AND NOT coalesce(a.lang = b.lang AND a.n_chars = b.n_chars, false)
  AND NOT coalesce(a.source = b.source AND a.blk = b.blk, false)
"""


def q_canopy_clusters(spark, sf_dir):
    """Canopy clustering (deterministic min-id center election) over the
    documents' n_chars axis — the reference's own pass-1 size key as the
    cheap canopy metric. t2=2 elects centers; every record joins all
    centers within t1=8 (overlapping canopies, per the paper); isolated
    records form singleton canopies. Pair generation is a banded range
    join (bucket width t1, 3-bucket probe explode, one shuffle)."""
    from .operators.linkage import canopy_assign

    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return canopy_assign(d, "doc_id", "n_chars", t1=8, t2=2).select(
        F.col("id").alias("doc_id"), "canopy"
    )


SQL_CANOPY_CLUSTERS = r"""
WITH d AS (SELECT doc_id AS id, n_chars AS num FROM documents),
p AS (
  SELECT a.id AS id, a.num AS num, b.id AS nbr, b.num AS nnum
  FROM d a JOIN d b ON a.id <> b.id AND abs(a.num - b.num) <= 8
),
centers AS (
  SELECT id FROM d
  WHERE NOT EXISTS (
    SELECT 1 FROM p
    WHERE p.id = d.id AND abs(p.num - p.nnum) <= 2 AND p.nbr < d.id
  )
),
assigned AS (
  SELECT p.id, p.nbr AS canopy FROM p JOIN centers c ON c.id = p.nbr
),
covered AS (
  SELECT * FROM assigned UNION ALL SELECT id, id FROM centers
)
SELECT id AS doc_id, canopy FROM covered
UNION ALL
SELECT id AS doc_id, id AS canopy FROM d
WHERE id NOT IN (SELECT id FROM covered)
"""


def q_blocking_quality(spark, sf_dir):
    """Blocking evaluation (pair completeness / pairs quality /
    reduction ratio, Christen 2012) of two strategies against the same
    derived truth set (equal (lang, n_chars) pairs): the n_chars//16
    length-bucket block join vs sorted-neighborhood (window 4 over
    (lang, n_chars)). Counts are exact longs; each metric is one IEEE
    division, so the 2-row result hashes identically in DuckDB."""
    from .operators.blocking import multi_rule_pairs, sorted_neighborhood_pairs
    from .operators.linkage import blocking_quality

    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", "n_chars", F.expr("n_chars div 16").alias("blk")
    )
    n = d.count()
    truth = multi_rule_pairs(d, "doc_id", [["lang", "n_chars"]]).select("id_a", "id_b")
    cand1 = multi_rule_pairs(d, "doc_id", [["blk"]]).select("id_a", "id_b")
    cand2 = sorted_neighborhood_pairs(
        d, ["lang", "n_chars"], id_col="doc_id", window=4
    ).select(F.col("url_a").alias("id_a"), F.col("url_b").alias("id_b"))
    q1 = blocking_quality(cand1, truth, n).select(
        F.lit("len_block").alias("strategy"), "*"
    )
    q2 = blocking_quality(cand2, truth, n).select(
        F.lit("snm3").alias("strategy"), "*"
    )
    return q1.unionAll(q2)


SQL_BLOCKING_QUALITY = r"""
WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
nn AS (SELECT COUNT(*) AS n FROM d),
truth AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib FROM d a JOIN d b
  ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
),
c1 AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib FROM d a JOIN d b
  ON a.n_chars // 16 = b.n_chars // 16 AND a.doc_id < b.doc_id
),
ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY lang, n_chars, doc_id) AS r
  FROM d
),
c2 AS (
  SELECT least(a.doc_id, b.doc_id) AS ia, greatest(a.doc_id, b.doc_id) AS ib
  FROM ranked a JOIN ranked b ON b.r > a.r AND b.r <= a.r + 3
),
m AS (
  SELECT 'len_block' AS strategy,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM c1) AS n_cand,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM c1 JOIN truth
            ON c1.ia = truth.ia AND c1.ib = truth.ib) AS n_hit
  UNION ALL
  SELECT 'snm3',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM c2),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM truth),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM c2 JOIN truth
            ON c2.ia = truth.ia AND c2.ib = truth.ib)
)
SELECT strategy, n_cand, n_truth, n_hit,
       CAST(n_hit AS DOUBLE) / n_truth AS pair_completeness,
       CAST(n_hit AS DOUBLE) / n_cand AS pairs_quality,
       CAST(1 AS DOUBLE)
         - CAST(n_cand AS DOUBLE)
           / CAST((SELECT (n * (n - 1)) // 2 FROM nn) AS DOUBLE)
         AS reduction_ratio
FROM m
"""


def q_bcubed_eval(spark, sf_dir):
    """B-cubed precision/recall per record over documents: predicted
    clustering = the n_chars//16 length bucket, truth = (lang, n_chars)
    groups. Per-record output (no corpus mean — a float sum's value is
    reduction-order-dependent; these are single integer divisions,
    bit-identical across engines)."""
    from .operators.linkage import bcubed_per_record

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        F.expr("n_chars div 16").cast("string").alias("cluster"),
        F.concat_ws("|", "lang", F.col("n_chars").cast("string")).alias(
            "truth"
        ),
    )
    return bcubed_per_record(d).select(
        F.col("id").alias("doc_id"),
        "overlap",
        "csize",
        "tsize",
        "b3_precision",
        "b3_recall",
    )


SQL_BCUBED_EVAL = r"""
WITH d AS (
  SELECT doc_id, CAST(n_chars // 16 AS VARCHAR) AS c,
         lang || '|' || CAST(n_chars AS VARCHAR) AS t
  FROM documents
),
both_sz AS (SELECT c, t, CAST(COUNT(*) AS BIGINT) AS overlap FROM d GROUP BY c, t),
csz AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS csize FROM d GROUP BY c),
tsz AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS tsize FROM d GROUP BY t)
SELECT d.doc_id, b.overlap, csz.csize, tsz.tsize,
       CAST(b.overlap AS DOUBLE) / csz.csize AS b3_precision,
       CAST(b.overlap AS DOUBLE) / tsz.tsize AS b3_recall
FROM d
JOIN both_sz b ON b.c = d.c AND b.t = d.t
JOIN csz ON csz.c = d.c
JOIN tsz ON tsz.t = d.t
"""


def q_fs_frequency_scores(spark, sf_dir):
    """Winkler frequency-based FS scoring over the same length-bucket
    blocked pairs as fs_scores: the 16-char-prefix field's agreement
    weight is value-specific (u_v = n_v²/N², joined from a slim
    groupBy-count table keyed on the value), so agreeing on a rare
    prefix scores far above agreeing on a boilerplate one. lang keeps
    the field-global u."""
    from .operators.blocking import multi_rule_pairs
    from .operators.linkage import (
        agreement_vector,
        fs_frequency_lr,
        u_probabilities,
    )

    fields = ["lang", "p16"]
    m = {"lang": 0.95, "p16": 0.9}
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.substring("text", 1, 16).alias("p16"),
        F.expr("n_chars div 16").alias("blk"),
    )
    n = d.count()
    u = u_probabilities(d, fields)
    counts = d.groupBy("p16").agg(F.count(F.lit(1)).cast("long").alias("nv"))
    pairs = (
        multi_rule_pairs(d, "doc_id", [["blk"]])
        .join(F.broadcast(counts), F.col("a_p16") == counts["p16"])
        .select("*", *agreement_vector(fields))
    )
    lr = fs_frequency_lr(fields, m, u, n, freq_cols={"p16": "nv"})
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "g_lang",
        "g_p16",
        "nv",
        lr.alias("lr"),
        F.when(lr >= F.lit(100.0), F.lit("match"))
        .when(lr >= F.lit(1.0), F.lit("possible"))
        .otherwise(F.lit("nonmatch"))
        .alias("decision"),
    )


SQL_FS_FREQUENCY_SCORES = r"""
WITH d AS (
  SELECT doc_id, lang, substr(text, 1, 16) AS p16, n_chars // 16 AS blk
  FROM documents
),
cnt AS (SELECT p16, CAST(COUNT(*) AS BIGINT) AS nv FROM d GROUP BY p16),
u AS (
  SELECT
    (SELECT SUM(c*c) FROM (SELECT lang, COUNT(*) c FROM d
       WHERE lang IS NOT NULL GROUP BY lang))
      / ((SELECT COUNT(*) FROM d) * (SELECT COUNT(*) FROM d)) AS u_lang,
    (SELECT SUM(c*c) FROM (SELECT p16, COUNT(*) c FROM d
       WHERE p16 IS NOT NULL GROUP BY p16))
      / ((SELECT COUNT(*) FROM d) * (SELECT COUNT(*) FROM d)) AS u_p16
),
g AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, c.nv,
    CASE WHEN a.lang IS NOT NULL AND b.lang IS NOT NULL
              AND a.lang = b.lang THEN 1 ELSE 0 END AS g_lang,
    CASE WHEN a.p16 IS NOT NULL AND b.p16 IS NOT NULL
              AND a.p16 = b.p16 THEN 1 ELSE 0 END AS g_p16
  FROM d a
  JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
  JOIN cnt c ON c.p16 = a.p16
),
w AS (
  SELECT doc_a, doc_b, g_lang, g_p16, nv,
    (CASE WHEN g_lang = 1 THEN CAST(0.95 AS DOUBLE) / u_lang
       ELSE (CAST(1 AS DOUBLE) - CAST(0.95 AS DOUBLE))
            / (CAST(1 AS DOUBLE) - u_lang) END
     * CASE WHEN g_p16 = 1 THEN
         CAST(0.9 AS DOUBLE)
           / ((nv * nv) / ((SELECT COUNT(*) FROM d) * (SELECT COUNT(*) FROM d)))
       ELSE (CAST(1 AS DOUBLE) - CAST(0.9 AS DOUBLE))
            / (CAST(1 AS DOUBLE) - u_p16) END) AS lr
  FROM g, u
)
SELECT doc_a, doc_b, g_lang, g_p16, nv, lr,
       CASE WHEN lr >= 100 THEN 'match'
            WHEN lr >= 1 THEN 'possible'
            ELSE 'nonmatch' END AS decision
FROM w
"""


def q_tfidf_cosine(spark, sf_dir):
    """TF-IDF cosine pair scoring (the IDF-weighted lexical near-dup
    confirm): base docs ∪ planted prefix-twins (first 10 tokens of
    each base doc, id+10000 — the winnow_overlap_pairs corpus), each
    base paired with its own twin. Short docs score near 1 (the prefix
    IS the doc), long docs lower, disjoint-after-truncation cases near
    0 — a full spread of the cosine range. Runs on xxhash64 token ids;
    the DuckDB twin weights string tokens — equal
    up to 2^-64 token-hash collisions, the tier-2 identity argument."""
    from .operators.corpus_stats import tfidf_cosine_pairs

    corpus, pairs = _twin_corpus(spark, sf_dir, 10)
    return tfidf_cosine_pairs(corpus, pairs)


SQL_TFIDF_COSINE = r"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
), twins AS (
  SELECT doc_id + 10000 AS doc_id,
         array_to_string(
           list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 10), ' ')
           AS text
  FROM base
), corpus AS (
  SELECT * FROM base UNION ALL SELECT * FROM twins
), toks AS (
  SELECT doc_id, token FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
    FROM corpus
  ) WHERE token <> ''
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
), n AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS _n FROM corpus
), w AS (
  SELECT doc_id, token, tf * ln((_n + 1) / (df + 1)) AS w
  FROM tf JOIN dfreq USING (token), n
), norms AS (
  SELECT doc_id, SUM(w * w) AS n2 FROM w GROUP BY 1
), pairs AS (
  SELECT doc_id AS id_a, doc_id + 10000 AS id_b FROM base
), dots AS (
  SELECT p.id_a, p.id_b, SUM(wa.w * wb.w) AS dot
  FROM pairs p
  JOIN w wa ON wa.doc_id = p.id_a
  JOIN w wb ON wb.doc_id = p.id_b AND wb.token = wa.token
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b,
       CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0.0
            ELSE ROUND(COALESCE(d.dot, 0) / sqrt(na.n2 * nb.n2), 6)
       END AS cosine
FROM pairs p
JOIN norms na ON na.doc_id = p.id_a
JOIN norms nb ON nb.doc_id = p.id_b
LEFT JOIN dots d ON d.id_a = p.id_a AND d.id_b = p.id_b
"""


def q_weighted_jaccard(spark, sf_dir):
    """Exact weighted (multiset) Jaccard — Σmin(cA,cB)/Σmax(cA,cB)
    over token COUNTS — on the same base∪prefix-twin corpus and pairs
    as tfidf_cosine. Repeated tokens count at multiplicity, so the
    twin of a repetitive doc scores differently than under set
    Jaccard. Integer counts → every score is one exact division,
    hash-identical with no rounding."""
    from .operators.corpus_stats import weighted_jaccard_pairs

    corpus, pairs = _twin_corpus(spark, sf_dir, 10)
    return weighted_jaccard_pairs(corpus, pairs)


SQL_WEIGHTED_JACCARD = r"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
), twins AS (
  SELECT doc_id + 10000 AS doc_id,
         array_to_string(
           list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 10), ' ')
           AS text
  FROM base
), corpus AS (
  SELECT * FROM base UNION ALL SELECT * FROM twins
), toks AS (
  SELECT doc_id, token FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
    FROM corpus
  ) WHERE token <> ''
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2
), totals AS (
  SELECT c.doc_id, COALESCE(cnt.n_tok, 0) AS n_tok
  FROM corpus c LEFT JOIN (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks GROUP BY 1
  ) cnt USING (doc_id)
), pairs AS (
  SELECT doc_id AS id_a, doc_id + 10000 AS id_b FROM base
), mins AS (
  SELECT p.id_a, p.id_b, SUM(LEAST(a.c, b.c)) AS m
  FROM pairs p
  JOIN tf a ON a.doc_id = p.id_a
  JOIN tf b ON b.doc_id = p.id_b AND b.token = a.token
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b,
  CASE WHEN na.n_tok + nb.n_tok - COALESCE(mi.m, 0) = 0 THEN 1.0
       ELSE CAST(COALESCE(mi.m, 0) AS DOUBLE)
            / (na.n_tok + nb.n_tok - COALESCE(mi.m, 0)) END AS wjaccard
FROM pairs p
JOIN totals na ON na.doc_id = p.id_a
JOIN totals nb ON nb.doc_id = p.id_b
LEFT JOIN mins mi ON mi.id_a = p.id_a AND mi.id_b = p.id_b
"""


def q_wminhash_near_pairs(spark, sf_dir):
    """Weighted-MinHash (ICWS) LSH candidates → exact weighted-Jaccard
    confirm ≥ 0.8, on the base∪prefix-twin corpus. The DuckDB twin is
    the EXHAUSTIVE weighted Jaccard over all pairs — hash-equality
    therefore gates the sketch's RECALL exactly (a ≥0.8 pair the
    banding misses breaks the hash), the same contract as
    embedding_lsh_pairs vs its exhaustive twin. Precision is free: the
    exact confirm discards sub-threshold candidates on both engines."""
    from .operators.candidates import wminhash_candidate_pairs
    from .operators.corpus_stats import weighted_jaccard_pairs

    corpus, _ = _twin_corpus(spark, sf_dir, 10)
    # second family: drop the last 3 tokens — wJ=(n-3)/n ≥0.8 for every
    # doc with ≥15 tokens, so the recall gate covers ~all long docs too
    toks = ws_tokens(F.col("text"))
    keep = F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(0)))
    trunc = corpus.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 20000).alias("doc_id"), F.concat_ws(" ", keep).alias("text")
    )
    corpus = corpus.unionByName(trunc)
    cand = wminhash_candidate_pairs(corpus).select("id_a", "id_b")
    return weighted_jaccard_pairs(corpus, cand).where(
        F.col("wjaccard") >= 0.8
    )


SQL_WMINHASH_NEAR_PAIRS = r"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
), twins AS (
  SELECT doc_id + 10000 AS doc_id,
         array_to_string(
           list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 10), ' ')
           AS text
  FROM base
), trunc AS (
  SELECT doc_id + 20000 AS doc_id,
         array_to_string(
           list_slice(regexp_split_to_array(trim(text), '\s+'), 1,
                      greatest(len(regexp_split_to_array(trim(text), '\s+'))
                               - 3, 0)), ' ')
           AS text
  FROM base
), corpus AS (
  SELECT * FROM base UNION ALL SELECT * FROM twins
  UNION ALL SELECT * FROM trunc
), toks AS (
  SELECT doc_id, token FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
    FROM corpus
  ) WHERE token <> ''
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2
), totals AS (
  SELECT c.doc_id, COALESCE(cnt.n_tok, 0) AS n_tok
  FROM corpus c LEFT JOIN (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks GROUP BY 1
  ) cnt USING (doc_id)
), mins AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(LEAST(a.c, b.c)) AS m
  FROM tf a JOIN tf b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), shared AS (
  SELECT mi.id_a, mi.id_b,
         CAST(mi.m AS DOUBLE) / (na.n_tok + nb.n_tok - mi.m) AS wjaccard
  FROM mins mi
  JOIN totals na ON na.doc_id = mi.id_a
  JOIN totals nb ON nb.doc_id = mi.id_b
), empties AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS wjaccard
  FROM totals a JOIN totals b ON a.doc_id < b.doc_id
  WHERE a.n_tok = 0 AND b.n_tok = 0
)
SELECT * FROM (
  SELECT * FROM shared UNION ALL SELECT * FROM empties
) WHERE wjaccard >= 0.8
"""


def q_cluster_merge(spark, sf_dir):
    """Incremental cluster maintenance: history = CC over chain edges
    (i, i+1) for i%5<2 (3-node chains per 5-block), batch = bridge
    edges (i, i+5) for i%20=2 (merges chain pairs in half the
    20-blocks — the rest stay untouched and pass through the
    anti-join) plus brand-new pairs (i+3, i+4) for i%50=0 (nodes with
    no history at all). The oracle recomputes the FULL closure over
    history ∪ batch with a recursive min-label CTE, so hash equality
    proves the incremental path — touched-subgraph CC + untouched
    passthrough — equals the from-scratch answer, label for label.
    Ids ride through CC as zero-padded strings (lexicographic min ==
    numeric min at fixed width) and come back as bigints."""
    from .operators.cluster import connected_components, merge_clusters

    ids = _docs(spark, sf_dir).select("doc_id").where(F.col("doc_id") < 500)

    def pad(c):
        return F.format_string("%010d", c)

    e1 = ids.where("doc_id % 5 < 2").select(
        pad(F.col("doc_id")).alias("src"),
        pad(F.col("doc_id") + 1).alias("dst"),
    )
    e2 = (
        ids.where("doc_id % 20 = 2")
        .select(
            pad(F.col("doc_id")).alias("src"),
            pad(F.col("doc_id") + 5).alias("dst"),
        )
        .unionByName(
            ids.where("doc_id % 50 = 0").select(
                pad(F.col("doc_id") + 3).alias("src"),
                pad(F.col("doc_id") + 4).alias("dst"),
            )
        )
    )
    hist = connected_components(e1)
    out = merge_clusters(hist, e2)
    return out.select(
        F.col("url").cast("bigint").alias("node"),
        F.col("component").cast("bigint").alias("cluster"),
    )


SQL_CLUSTER_MERGE = """
WITH RECURSIVE ids AS (
  SELECT doc_id AS i FROM documents WHERE doc_id < 500
), e1 AS (
  SELECT i AS src, i + 1 AS dst FROM ids WHERE i % 5 < 2
), e2 AS (
  SELECT i AS src, i + 5 AS dst FROM ids WHERE i % 20 = 2
  UNION ALL
  SELECT i + 3 AS src, i + 4 AS dst FROM ids WHERE i % 50 = 0
), alle AS (
  SELECT * FROM e1 UNION ALL SELECT * FROM e2
), edges AS (
  SELECT src, dst FROM alle UNION ALL SELECT dst AS src, src AS dst FROM alle
), nodes AS (
  SELECT DISTINCT src AS n FROM edges
), reach(id, lab) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS node, MIN(lab) AS cluster FROM reach GROUP BY id
"""


def q_explain_pairs(spark, sf_dir):
    """Match explainability: the 3 rarest shared tokens per
    base∕prefix-twin pair, ranked (df asc, token asc) — integer+string
    total order, engine-exact."""
    from .operators.corpus_stats import explain_pairs

    corpus, pairs = _twin_corpus(spark, sf_dir, 10)
    return explain_pairs(corpus, pairs, k=3)


SQL_EXPLAIN_PAIRS = r"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
), twins AS (
  SELECT doc_id + 10000 AS doc_id,
         array_to_string(
           list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 10), ' ')
           AS text
  FROM base
), corpus AS (
  SELECT * FROM base UNION ALL SELECT * FROM twins
), toks AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
    FROM corpus
  ) WHERE token <> ''
), dfreq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY 1
), pairs AS (
  SELECT doc_id AS id_a, doc_id + 10000 AS id_b FROM base
), shared AS (
  SELECT p.id_a, p.id_b, a.token
  FROM pairs p
  JOIN toks a ON a.doc_id = p.id_a
  JOIN toks b ON b.doc_id = p.id_b AND b.token = a.token
), ranked AS (
  SELECT s.id_a, s.id_b, s.token, d.df,
         row_number() OVER (PARTITION BY s.id_a, s.id_b
                            ORDER BY d.df ASC, s.token ASC) AS rank
  FROM shared s JOIN dfreq d USING (token)
)
SELECT id_a, id_b, CAST(rank AS INTEGER) AS rank, token, df
FROM ranked WHERE rank <= 3
"""


def q_keeper_audit(spark, sf_dir):
    """Cluster-integrity audit: score every member against its
    cluster's keeper, flag chain-only members. Synthetic heterogeneous
    clusters (doc_id % 40 — genuinely dissimilar members) exercise the
    flag; string tokens keep the audit engine-reproducible."""
    from .operators.integrity import keeper_audit

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    assigns = docs.select(
        "doc_id", (F.col("doc_id") % 40).alias("cluster_id")
    )
    return keeper_audit(
        assigns,
        docs.select("doc_id", "text"),
        threshold=0.2,
        id_col="doc_id",
    )


SQL_KEEPER_AUDIT = r"""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 200
), a AS (
  SELECT doc_id, doc_id % 40 AS cluster_id FROM docs
), t AS (
  SELECT doc_id,
         list_distinct(list_filter(
           regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))
           AS toks
  FROM docs
), k AS (
  SELECT cluster_id, MIN(doc_id) AS keeper FROM a GROUP BY 1
), m AS (
  SELECT a.doc_id, a.cluster_id, t.toks FROM a JOIN t USING (doc_id)
), kt AS (
  SELECT k.cluster_id, k.keeper, t.toks AS ktoks
  FROM k JOIN t ON t.doc_id = k.keeper
), scored AS (
  SELECT m.doc_id, m.cluster_id, kt.keeper,
         len(list_intersect(m.toks, kt.ktoks)) AS i,
         len(m.toks) + len(kt.ktoks)
           - len(list_intersect(m.toks, kt.ktoks)) AS u
  FROM m JOIN kt USING (cluster_id)
  WHERE m.doc_id <> kt.keeper
)
SELECT doc_id, cluster_id, keeper,
       CASE WHEN u = 0 THEN 1.0
            ELSE CAST(i AS DOUBLE) / u END AS score,
       (CASE WHEN u = 0 THEN 1.0 ELSE CAST(i AS DOUBLE) / u END) < 0.2
         AS flagged
FROM scored
"""


# Same planted-role CASE as _SQL_PLANTED_ROLES, in Spark SQL dialect
# (DIV for integer division) — used to inject deterministic false
# positives into the PR-curve's scored set from the url index alone.
_SPARK_PLANTED_I = "CAST(substr(url, length(url) - 9, 10) AS BIGINT)"


def q_pr_curve(spark, sf_dir):
    """Pair-level precision/recall/F1 threshold sweep over the FIXED
    n=2,000 planted corpus: scored = the flagship's own MinHash-LSH →
    exact-Jaccard-confirm pairs (the minhash_dup_pairs output) ∪ 40
    injected false positives (two cross-group base-row pairs per
    100-block at literal scores 0.9 / 0.6); truth = synth_labels'
    positive pairs — generated by the INDEPENDENT label path, while
    the DuckDB twin re-derives truth from the url-index role
    arithmetic, so the two engines cross-check both the curve
    arithmetic and the label/role equivalence. Counts are exact longs,
    each metric one IEEE division — hash-exact."""
    from .operators.candidates import bucket_table, candidate_pairs
    from .operators.linkage import pr_curve
    from .operators.scoring import DEFAULT_THRESHOLD, confirm_pairs
    from .synth import synth_labels, synth_pages
    from .tracking import PersistTracker

    tracker = PersistTracker()
    pages = synth_pages(spark, 2_000).select("url", "text")
    scored = confirm_pairs(
        candidate_pairs(bucket_table(pages)),
        pages,
        DEFAULT_THRESHOLD,
        tracker=tracker,
    ).select("url_a", "url_b", F.round("score", 4).alias("score"))
    pg = pages.selectExpr("url", f"{_SPARK_PLANTED_I} AS i")
    fp = None
    for lo, hi, s in ((20, 21, 0.9), (22, 23, 0.6)):
        a = pg.where(f"i % 100 = {lo}").selectExpr(
            "i DIV 100 AS b", "url AS url_a"
        )
        b = pg.where(f"i % 100 = {hi}").selectExpr(
            "i DIV 100 AS b", "url AS url_b"
        )
        inj = a.join(b, "b").select(
            "url_a", "url_b", F.lit(s).alias("score")
        )
        fp = inj if fp is None else fp.unionByName(inj)
    truth = synth_labels(spark, 2_000).where(F.col("is_dup")).select(
        "url_a", "url_b"
    )
    curve = pr_curve(
        scored.unionByName(fp),
        truth,
        [0.5, 0.8, 0.9, 0.95, 1.0],
        id_a="url_a",
        id_b="url_b",
    )
    return _eager(curve, tracker.release)


SQL_PR_CURVE = _SQL_PLANTED_ROLES + """
, t AS (
  SELECT url, grp, list_distinct(string_split(text, ' ')) AS toks
  FROM g WHERE grp IS NOT NULL
), scored AS (
  SELECT LEAST(a.url, b.url) AS url_a, GREATEST(a.url, b.url) AS url_b,
         ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS score
  FROM t a JOIN t b ON a.grp = b.grp AND a.url < b.url
  UNION ALL
  SELECT LEAST(a.url, b.url), GREATEST(a.url, b.url), 0.9
  FROM g a JOIN g b ON a.i // 100 = b.i // 100
  WHERE a.i % 100 = 20 AND b.i % 100 = 21
  UNION ALL
  SELECT LEAST(a.url, b.url), GREATEST(a.url, b.url), 0.6
  FROM g a JOIN g b ON a.i // 100 = b.i // 100
  WHERE a.i % 100 = 22 AND b.i % 100 = 23
), truth AS (
  SELECT LEAST(a.url, b.url) AS url_a, GREATEST(a.url, b.url) AS url_b,
         TRUE AS is_t
  FROM g a JOIN g b ON a.grp = b.grp AND a.url < b.url
), joined AS (
  SELECT s.score, COALESCE(t.is_t, FALSE) AS is_true
  FROM scored s FULL OUTER JOIN truth t USING (url_a, url_b)
), grid AS (
  SELECT * FROM (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.8 AS DOUBLE)),
                        (CAST(0.9 AS DOUBLE)), (CAST(0.95 AS DOUBLE)),
                        (CAST(1.0 AS DOUBLE))) v(threshold)
), agg AS (
  SELECT threshold,
    CAST(SUM(CASE WHEN score IS NOT NULL AND score >= threshold
                       AND is_true THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN score IS NOT NULL AND score >= threshold
                       AND NOT is_true THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN (score IS NULL OR score < threshold)
                       AND is_true THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM joined, grid GROUP BY 1
)
SELECT threshold, tp, fp, fn,
  CASE WHEN tp + fp = 0 THEN 1.0
       ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
  CASE WHEN tp + fn = 0 THEN 1.0
       ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
  CASE WHEN tp = 0 THEN 0.0
       ELSE 2.0 * CAST(tp AS DOUBLE) / (2 * tp + fp + fn) END AS f1
FROM agg
"""


def q_bloom_unseen(spark, sf_dir):
    """Bloom-gated incremental unseen (operators/membership.py): a
    content-keyed batch (doc_id % 3 = 1) anti-joined against a seen
    corpus (doc_id % 2 = 0) with the corpus side reduced by a bloom
    built over the batch keys. The bloom is a pure semi-join reduction
    — no false negatives — so the output is EXACTLY the plain
    anti-join the DuckDB oracle computes."""
    from .operators.membership import incremental_unseen_bloom

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.sha2(F.col("text"), 256).alias("content_sha256")
    )
    batch = docs.where(F.col("doc_id") % 3 == 1)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    return incremental_unseen_bloom(batch, corpus, fpp=0.01).select("doc_id")


SQL_BLOOM_UNSEEN = """
SELECT b.doc_id
FROM documents b
ANTI JOIN (SELECT sha256(text) AS h FROM documents WHERE doc_id % 2 = 0) c
  ON sha256(b.text) = c.h
WHERE b.doc_id % 3 = 1
"""


# Deterministic 1/16 row sample both engines can name without
# coordination: first hex nibble of sha256(url) = '0'.
_ZQ_SAMPLE = "substring(sha256(url), 1, 1) = '0'"


def q_containment_pairs(spark, sf_dir):
    """Token-set containment |A∩B|/min(|A|,|B|) — the doc-in-doc score
    (``token_containment_score``) — on planted embedded pairs: each doc
    vs its own first-40-token slice (containment exactly 1.0) and vs
    its successor doc. Every row also carries the token-set Jaccard of
    the same pair (jaccard ≤ containment: the embedded slice's Jaccard
    sinks to |slice|/|doc|) from ``token_jaccard_score``, the form
    ``confirm_pairs`` confirms with; both run over string token
    arrays."""
    from .operators.scoring import token_containment_score, token_jaccard_score

    toks = F.array_distinct(F.array_remove(ws_tokens(F.col("text")), ""))
    t = _docs(spark, sf_dir).select(
        "doc_id", toks.alias("toks"), F.slice(toks, 1, 40).alias("head")
    )
    embedded = t.select(
        "doc_id",
        F.lit("embedded").alias("kind"),
        token_containment_score(F.col("head"), F.col("toks")).alias("containment"),
        token_jaccard_score(F.col("head"), F.col("toks")).alias("jaccard"),
    )
    b = t.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("toks").alias("toks_b")
    )
    succ = t.join(b, "doc_id").select(
        "doc_id",
        F.lit("successor").alias("kind"),
        token_containment_score(F.col("toks"), F.col("toks_b")).alias(
            "containment"
        ),
        token_jaccard_score(F.col("toks"), F.col("toks_b")).alias("jaccard"),
    )
    return embedded.unionByName(succ)


SQL_CONTAINMENT_PAIRS = r"""
WITH t AS (
  SELECT doc_id,
    list_distinct(list_filter(regexp_split_to_array(trim(text), '\s+'),
                              x -> x <> '')) AS toks
  FROM documents
), h AS (
  SELECT doc_id, toks, list_slice(toks, 1, 40) AS head FROM t
)
SELECT doc_id, 'embedded' AS kind,
  CASE WHEN len(head) = 0 AND len(toks) = 0 THEN 1.0
       WHEN least(len(head), len(toks)) = 0 THEN 0.0
       ELSE CAST(len(list_intersect(head, toks)) AS DOUBLE)
            / least(len(head), len(toks)) END AS containment,
  CASE WHEN len(head) + len(toks) - len(list_intersect(head, toks)) = 0
       THEN 1.0
       ELSE CAST(len(list_intersect(head, toks)) AS DOUBLE)
            / (len(head) + len(toks) - len(list_intersect(head, toks)))
  END AS jaccard
FROM h
UNION ALL
SELECT a.doc_id, 'successor' AS kind,
  CASE WHEN len(a.toks) = 0 AND len(b.toks) = 0 THEN 1.0
       WHEN least(len(a.toks), len(b.toks)) = 0 THEN 0.0
       ELSE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / least(len(a.toks), len(b.toks)) END AS containment,
  CASE WHEN len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) = 0
       THEN 1.0
       ELSE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
  END AS jaccard
FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
"""


def q_compression_quality(spark, sf_dir):
    """Compression-ratio quality signal (functions/text.py): zlib/utf8
    byte ratio in ppm + the Gopher-style too-compressible /
    incompressible flags, over the committed 2k snapshot (sample: urls
    whose sha256 starts with nibble '0', ~1/16). All-integer outputs;
    the oracle VALUES are regenerated at import by running the SAME
    pinned zlib kernel (C, level 6) over the snapshot in plain Python —
    independent execution path, shared kernel, like the mojibake
    table — so the Arrow plumbing, utf8 accounting, ppm floor math and
    flag band are value-checked end to end."""
    from .functions.text import compression_signals

    df = spark.read.parquet(SNAPSHOT_2K).where(
        F.substring(F.sha2(F.col("url"), 256), 1, 1) == "0"  # = _ZQ_SAMPLE
    )
    return df.select(F.col("url"), *compression_signals(F.col("text")))


def _sql_compression_quality() -> str:
    import math
    import zlib

    import duckdb as _dd

    from .functions.text import (
        MIN_INCOMPRESSIBLE_BYTES,
        RATIO_HIGH_PPM,
        RATIO_LOW_PPM,
        ZLIB_FIXED_OVERHEAD,
        ZLIB_LEVEL,
    )

    rows = (
        _dd.connect()
        .execute(
            f"SELECT url, text FROM read_parquet('{SNAPSHOT_2K}') "
            f"WHERE {_ZQ_SAMPLE} ORDER BY url"
        )
        .fetchall()
    )
    vals = []
    for url, text in rows:
        raw = text.encode("utf-8")
        z = len(zlib.compress(raw, ZLIB_LEVEL))
        ppm = math.floor(
            max(z - ZLIB_FIXED_OVERHEAD, 0) * 1_000_000 / max(len(raw), 1)
        )
        vals.append(
            f"('{url}', {len(raw)}, {z}, {ppm}, "
            f"{str(ppm < RATIO_LOW_PPM).lower()}, "
            f"{str(ppm >= RATIO_HIGH_PPM and len(raw) >= MIN_INCOMPRESSIBLE_BYTES).lower()})"
        )
    return (
        "SELECT * FROM (VALUES\n  "
        + ",\n  ".join(vals)
        + "\n) AS t(url, utf8_len, zlib_len, ratio_ppm,"
        " too_compressible, incompressible)"
    )


# Generated LAZILY (oracles() below): building this string runs DuckDB
# over the fixture parquet — an import-time dependency that would break
# every Spark-only consumer (bench.py, a --py-files bundle without
# fixtures/ or duckdb). The Spark-side QUERIES registry must import
# clean on a bare executor image.
SQL_COMPRESSION_QUALITY: str | None = None


def oracles() -> dict[str, str]:
    """The full oracle map, with the one generated entry built on first
    use instead of at module import."""
    global SQL_COMPRESSION_QUALITY
    if SQL_COMPRESSION_QUALITY is None:
        SQL_COMPRESSION_QUALITY = _sql_compression_quality()
    out = dict(ORACLES)
    out["compression_quality"] = SQL_COMPRESSION_QUALITY
    return out


QUERIES = {
    "size_clusters": q_size_clusters,
    "singleton_prune": q_singleton_prune,
    "exact_hash_clusters": q_exact_hash_clusters,
    "keeper_ranking": q_keeper_ranking,
    "reclaimable": q_reclaimable,
    "group_search": q_group_search,
    "category_rollup": q_category_rollup,
    "folder_rollup": q_folder_rollup,
    "dirname_rollup": q_dirname_rollup,
    "cube_rollup": q_cube_rollup,
    "region_revenue": q_region_revenue,
    "cache_validity_join": q_cache_validity_join,
    "prefix_theta_join": q_prefix_theta_join,
    "partial_hash_clusters": q_partial_hash_clusters,
    "line_parse": q_line_parse,
    "deletion_impact": q_deletion_impact,
    "post_delete_refilter": q_post_delete_refilter,
    "listing_order": q_listing_order,
    "size_format": q_size_format,
    "recursive_prefix_size": q_recursive_prefix_size,
    "count_distinct_langs": q_count_distinct_langs,
    "except_users": q_except_users,
    "selected_size": q_selected_size,
    "token_count": q_token_count,
    "bpe_token_count": q_bpe_token_count,
    "quality": q_quality,
    "lang_id": q_lang_id,
    "semi_join": q_semi_join,
    "anti_join": q_anti_join,
    "union_distinct": q_union_distinct,
    "top_k": q_top_k,
    "window_rank_orders": q_window_rank_orders,
    "pricing_summary": q_pricing_summary,
    "top_revenue_orders": q_top_revenue_orders,
    "events_hourly": q_events_hourly,
    "embedding_topk": q_embedding_topk,
    "embedding_allpairs_sim": q_embedding_allpairs_sim,
    "jaro_winkler": q_jaro_winkler,
    "levenshtein_sim": q_levenshtein_sim,
    "damerau_sim": q_damerau_sim,
    "ngram_jaccard": q_ngram_jaccard,
    # flagship exact tier with a direct recomputed oracle
    "pages_dedup_exact": q_pages_dedup_exact,
    "html_extract": q_html_extract,
    "warc_ingest": q_warc_ingest,
    "warc_revisit_resolve": q_warc_revisit_resolve,
    "robots_verdicts": q_robots_verdicts,
    "wet_ingest": q_wet_ingest,
    "sitemap_urls": q_sitemap_urls,
    "host_outlinks": q_host_outlinks,
    "host_pagerank3": q_host_pagerank3,
    # derived deterministic twins of the rows-only queries below
    "dedup_cluster_stats": q_dedup_cluster_stats,
    "minhash_pair_stats": q_minhash_pair_stats,
    "embedding_lsh_pairs": q_embedding_lsh_pairs,
    "embedding_ivf_pairs": q_embedding_ivf_pairs,
    "semantic_dedup": q_semantic_dedup,
    "pages_dedup_clusters_2k": q_pages_dedup_clusters_2k,
    "minhash_dup_pairs": q_minhash_dup_pairs,
    "simhash_hamming": q_simhash_hamming,
    "simhash_candidates": q_simhash_candidates,
    "cheap_block_key": q_cheap_block_key,
    "duplicate_spans": q_duplicate_spans,
    "span_removal": q_span_removal,
    "rep_signals": q_rep_signals,
    "rep_filter": q_rep_filter,
    "url_canonical_dedup": q_url_canonical_dedup,
    "bloom_unseen": q_bloom_unseen,
    "compression_quality": q_compression_quality,
    "containment_pairs": q_containment_pairs,
    "line_dedup": q_line_dedup,
    "paragraph_dedup": q_paragraph_dedup,
    "c4_filter": q_c4_filter,
    "mojibake_report": q_mojibake_report,
    "mixture_weights": q_mixture_weights,
    "winnow_fingerprints": q_winnow_fingerprints,
    "winnow_overlap_pairs": q_winnow_overlap_pairs,
    "decontam_report": q_decontam_report,
    "stratified_sample": q_stratified_sample,
    "deterministic_split": q_deterministic_split,
    "corpus_shuffle": q_corpus_shuffle,
    "domain_cap": q_domain_cap,
    "normalized_exact": q_normalized_exact,
    "chunk_documents": q_chunk_documents,
    "pack_sequences": q_pack_sequences,
    "token_budget_sample": q_token_budget_sample,
    "pii_report": q_pii_report,
    "pii_redact": q_pii_redact,
    "tfidf_topk": q_tfidf_topk,
    "lm_quality": q_lm_quality,
    "lm_bigram": q_lm_bigram,
    "snm_pairs": q_snm_pairs,
    "snapshot_time_travel": q_snapshot_time_travel,
    "fs_scores": q_fs_scores,
    "meta_blocking": q_meta_blocking,
    "blocking_rules_union": q_blocking_rules_union,
    "canopy_clusters": q_canopy_clusters,
    "blocking_quality": q_blocking_quality,
    "bcubed_eval": q_bcubed_eval,
    "fs_frequency_scores": q_fs_frequency_scores,
    "tfidf_cosine": q_tfidf_cosine,
    "weighted_jaccard": q_weighted_jaccard,
    "wminhash_near_pairs": q_wminhash_near_pairs,
    "cluster_merge": q_cluster_merge,
    "explain_pairs": q_explain_pairs,
    "keeper_audit": q_keeper_audit,
    "pr_curve": q_pr_curve,
    "asof_click_view": q_asof_click_view,
    # rows-only (the sf-scaled flagship; its full value-level twin is
    # pages_dedup_clusters_2k above, plus the stat twins)
    "pages_dedup_clusters": q_pages_dedup_clusters,
    "simhash_signatures": q_simhash_signatures,
    "doc_fingerprint": q_doc_fingerprint,
    "media_features": q_media_features,
}

ORACLES = {
    "size_clusters": SQL_SIZE_CLUSTERS,
    "singleton_prune": SQL_SINGLETON_PRUNE,
    "exact_hash_clusters": SQL_EXACT_HASH_CLUSTERS,
    "keeper_ranking": SQL_KEEPER_RANKING,
    "reclaimable": SQL_RECLAIMABLE,
    "group_search": SQL_GROUP_SEARCH,
    "category_rollup": SQL_CATEGORY_ROLLUP,
    "folder_rollup": SQL_FOLDER_ROLLUP,
    "dirname_rollup": SQL_DIRNAME_ROLLUP,
    "cube_rollup": SQL_CUBE_ROLLUP,
    "region_revenue": SQL_REGION_REVENUE,
    "cache_validity_join": SQL_CACHE_VALIDITY_JOIN,
    "prefix_theta_join": SQL_PREFIX_THETA_JOIN,
    "partial_hash_clusters": SQL_PARTIAL_HASH_CLUSTERS,
    "line_parse": SQL_LINE_PARSE,
    "deletion_impact": SQL_DELETION_IMPACT,
    "post_delete_refilter": SQL_POST_DELETE_REFILTER,
    "listing_order": SQL_LISTING_ORDER,
    "size_format": SQL_SIZE_FORMAT,
    "recursive_prefix_size": SQL_RECURSIVE_PREFIX_SIZE,
    "count_distinct_langs": SQL_COUNT_DISTINCT_LANGS,
    "except_users": SQL_EXCEPT_USERS,
    "selected_size": SQL_SELECTED_SIZE,
    "token_count": SQL_TOKEN_COUNT,
    "bpe_token_count": SQL_BPE_TOKEN_COUNT,
    "quality": SQL_QUALITY,
    "lang_id": SQL_LANG_ID,
    "semi_join": SQL_SEMI_JOIN,
    "anti_join": SQL_ANTI_JOIN,
    "union_distinct": SQL_UNION_DISTINCT,
    "top_k": SQL_TOP_K,
    "window_rank_orders": SQL_WINDOW_RANK_ORDERS,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "top_revenue_orders": SQL_TOP_REVENUE_ORDERS,
    "events_hourly": SQL_EVENTS_HOURLY,
    "embedding_topk": SQL_EMBEDDING_TOPK,
    "embedding_allpairs_sim": SQL_EMBEDDING_ALLPAIRS_SIM,
    "jaro_winkler": SQL_JARO_WINKLER,
    "levenshtein_sim": SQL_LEVENSHTEIN_SIM,
    "damerau_sim": SQL_DAMERAU_SIM,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "embedding_lsh_pairs": SQL_EMBEDDING_LSH_PAIRS,
    "embedding_ivf_pairs": SQL_EMBEDDING_IVF_PAIRS,
    "semantic_dedup": SQL_SEMANTIC_DEDUP,
    "pages_dedup_exact": SQL_PAGES_DEDUP_EXACT,
    "html_extract": SQL_HTML_EXTRACT,
    "warc_ingest": SQL_WARC_INGEST,
    "warc_revisit_resolve": SQL_WARC_REVISIT_RESOLVE,
    "robots_verdicts": SQL_ROBOTS_VERDICTS,
    "wet_ingest": SQL_WET_INGEST,
    "sitemap_urls": SQL_SITEMAP_URLS,
    "host_outlinks": SQL_HOST_OUTLINKS,
    "host_pagerank3": SQL_HOST_PAGERANK3,
    "pages_dedup_clusters_2k": SQL_PAGES_DEDUP_CLUSTERS_2K,
    "minhash_dup_pairs": SQL_MINHASH_DUP_PAIRS,
    "dedup_cluster_stats": SQL_DEDUP_CLUSTER_STATS,
    "minhash_pair_stats": SQL_MINHASH_PAIR_STATS,
    "media_features": SQL_MEDIA_FEATURES,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "simhash_signatures": SQL_SIMHASH_SIGNATURES,
    "simhash_hamming": SQL_SIMHASH_HAMMING,
    "simhash_candidates": SQL_SIMHASH_CANDIDATES,
    "cheap_block_key": SQL_CHEAP_BLOCK_KEY,
    "duplicate_spans": SQL_DUPLICATE_SPANS,
    "span_removal": SQL_SPAN_REMOVAL,
    "rep_signals": SQL_REP_SIGNALS,
    "rep_filter": SQL_REP_FILTER,
    "url_canonical_dedup": SQL_URL_CANONICAL_DEDUP,
    "bloom_unseen": SQL_BLOOM_UNSEEN,
    # "compression_quality" joins via oracles() — its SQL is generated
    # with DuckDB on first use, never at import
    "containment_pairs": SQL_CONTAINMENT_PAIRS,
    "line_dedup": SQL_LINE_DEDUP,
    "paragraph_dedup": SQL_PARAGRAPH_DEDUP,
    "c4_filter": SQL_C4_FILTER,
    "mojibake_report": SQL_MOJIBAKE_REPORT,
    "mixture_weights": SQL_MIXTURE_WEIGHTS,
    "winnow_fingerprints": SQL_WINNOW_FINGERPRINTS,
    "winnow_overlap_pairs": SQL_WINNOW_OVERLAP_PAIRS,
    "decontam_report": SQL_DECONTAM_REPORT,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "deterministic_split": SQL_DETERMINISTIC_SPLIT,
    "corpus_shuffle": SQL_CORPUS_SHUFFLE,
    "domain_cap": SQL_DOMAIN_CAP,
    "normalized_exact": SQL_NORMALIZED_EXACT,
    "chunk_documents": SQL_CHUNK_DOCUMENTS,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "token_budget_sample": SQL_TOKEN_BUDGET_SAMPLE,
    "pii_report": SQL_PII_REPORT,
    "pii_redact": SQL_PII_REDACT,
    "tfidf_topk": SQL_TFIDF_TOPK,
    "lm_quality": SQL_LM_QUALITY,
    "lm_bigram": SQL_LM_BIGRAM,
    "snm_pairs": SQL_SNM_PAIRS,
    "snapshot_time_travel": SQL_SNAPSHOT_TIME_TRAVEL,
    "fs_scores": SQL_FS_SCORES,
    "meta_blocking": SQL_META_BLOCKING,
    "blocking_rules_union": SQL_BLOCKING_RULES_UNION,
    "canopy_clusters": SQL_CANOPY_CLUSTERS,
    "blocking_quality": SQL_BLOCKING_QUALITY,
    "bcubed_eval": SQL_BCUBED_EVAL,
    "fs_frequency_scores": SQL_FS_FREQUENCY_SCORES,
    "tfidf_cosine": SQL_TFIDF_COSINE,
    "weighted_jaccard": SQL_WEIGHTED_JACCARD,
    "wminhash_near_pairs": SQL_WMINHASH_NEAR_PAIRS,
    "cluster_merge": SQL_CLUSTER_MERGE,
    "explain_pairs": SQL_EXPLAIN_PAIRS,
    "keeper_audit": SQL_KEEPER_AUDIT,
    "pr_curve": SQL_PR_CURVE,
    "asof_click_view": SQL_ASOF_CLICK_VIEW,
}
