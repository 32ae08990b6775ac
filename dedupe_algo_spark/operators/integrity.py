"""Cluster-integrity audit: flag transitive-closure overreach.

Connected-components clustering (operators/cluster.py) is transitive
by construction: A~B and B~C put A and C in one entity even when A and
C themselves score below threshold. That is the correct semantics for
dedup (the chain IS the evidence), but production ER pipelines audit
it — a single bad bridge pair (boilerplate collision, hash accident)
can weld two large real entities together, and the weld is invisible
in pair-level metrics because every *scored* pair passed.

The audit re-scores every member against its cluster's KEEPER (the
deterministic representative) and flags members below a threshold:
flagged rows are exactly the members whose only connection to the
entity runs through a chain, ranked for human review or for a
re-clustering pass with the bridge pairs removed.

Scale shape (the reason this is cheap relative to re-scoring all
intra-cluster pairs, which is quadratic in cluster size): keeper
selection is one slim (id, cluster) min-aggregate; member-vs-keeper is
LINEAR in corpus size — one token array per member moves through one
join on cluster_id. Texts are tokenized BEFORE the join, so the text
column itself never shuffles, and the keeper-side table is
cluster-count-sized (≪ corpus). No Python anywhere — the score is the
same whole-stage-codegen ``array_intersect`` Jaccard as the confirm
tier.

Token identity: distinct raw string tokens (ASCII-whitespace split),
so the audit is reproducible by the DuckDB oracle; the Jaccard over
them is the confirm tier's ``token_jaccard_score``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import ws_tokens
from .scoring import token_jaccard_score


def keeper_audit(
    assignments: DataFrame,
    pages: DataFrame,
    threshold: float = 0.5,
    id_col: str = "url",
    cluster_col: str = "cluster_id",
    text_col: str = "text",
) -> DataFrame:
    """→ (``id_col``, ``cluster_col``, keeper, score, flagged): every
    NON-keeper cluster member scored against its cluster's keeper
    (min ``id_col`` — deterministic), ``flagged`` when the direct
    member↔keeper similarity falls below ``threshold``.

    ``assignments`` is the flat (id, cluster) table the pipeline
    emits; ``pages`` carries the text. Members of singleton clusters
    never appear (there is nothing to audit). A flagged row means the
    member joined the entity only through a chain — review it, or cut
    its bridge pairs and re-cluster.
    """
    a = assignments.select(id_col, cluster_col)
    keepers = a.groupBy(cluster_col).agg(F.min(id_col).alias("_keeper"))
    # tokenize AT THE SCAN, before any join: the id-join then moves
    # token arrays, never the text column
    toks = F.array_distinct(F.array_remove(ws_tokens(F.col(text_col)), ""))
    page_t = pages.select(id_col, toks.alias("_pt"))
    member_t = a.join(page_t, id_col).select(
        id_col, cluster_col, F.col("_pt").alias("_mt")
    )
    keeper_t = keepers.join(
        page_t.select(
            F.col(id_col).alias("_keeper"), F.col("_pt").alias("_kt")
        ),
        "_keeper",
    )
    scored = (
        member_t.join(keeper_t, cluster_col)
        .where(F.col(id_col) != F.col("_keeper"))
        .select(
            id_col,
            cluster_col,
            F.col("_keeper").alias("keeper"),
            token_jaccard_score(F.col("_mt"), F.col("_kt")).alias("score"),
        )
        .withColumn("flagged", F.col("score") < F.lit(threshold))
    )
    return scored
