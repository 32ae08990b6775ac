"""Path helpers — the reference's basename/dirname split of a path
string, as plain Column expressions (JVM side, codegen eligible)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def basename(path: Column) -> Column:
    """C4 — last path segment (``split('/').pop()``,
    ClusterResultsView.tsx:101)."""
    return F.substring_index(path, "/", -1)


def dirname(path: Column) -> Column:
    """C4 — everything before the last '/' (``slice(0,-1).join('/')``,
    dataTransform.ts:67); '' when the path has no separator, matching the
    reference's join of an empty slice."""
    return F.when(
        path.contains("/"), F.regexp_replace(path, r"/[^/]*$", "")
    ).otherwise(F.lit(""))
