"""Physical-plan inspection helpers.

The optimizer work in this engine is *structural* (SURVEY.md §4: the
reference has no optimizer; everything maps to Catalyst built-ins), so
the guarantees worth checking are plan properties: filters reaching the
parquet scan, column pruning in ReadSchema, whole-stage codegen around
hot expressions, and broadcast vs sort-merge choices. These helpers make
those assertions testable instead of eyeballed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section(s) of the scan nodes."""
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PushedFilters" in line
    )


def has_whole_stage_codegen(df: DataFrame) -> bool:
    # formatted explain marks codegen stages as "[codegen id : N]"
    return "codegen id" in formatted_plan(df)


def has_broadcast_join(df: DataFrame) -> bool:
    """True for any broadcast join strategy (hash for equi-joins,
    nested-loop for theta joins — both avoid shuffling the big side)."""
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def exchange_column_sets(df: DataFrame) -> list[set[str]]:
    """Column names carried by EACH Exchange (shuffle) node, one set
    per exchange in plan order. Parses each Exchange's ``Input [n]:
    [...]`` row from the formatted plan — the single place that knows
    that layout (``exchange_columns`` and the per-exchange plan tests
    both build on this, so a Spark explain-format shift breaks exactly
    one parser)."""
    import re

    lines = formatted_plan(df).splitlines()
    sets: list[set[str]] = []
    for i, line in enumerate(lines):
        if re.match(r"\(\d+\) Exchange", line.strip()):
            cols: set[str] = set()
            for j in range(i + 1, min(i + 4, len(lines))):
                m = re.match(r"Input \[\d+\]: \[(.*)\]", lines[j].strip())
                if m:
                    for c in m.group(1).split(","):
                        name = c.strip().split("#")[0]
                        if name:
                            cols.add(name)
                    break
            sets.append(cols)
    return sets


def exchange_columns(df: DataFrame) -> set[str]:
    """Union of column names carried by every Exchange (shuffle) node —
    the "what actually moves" check (e.g. assert text never shuffles)."""
    cols: set[str] = set()
    for s in exchange_column_sets(df):
        cols |= s
    return cols


def scan_columns(df: DataFrame) -> set[str]:
    """Columns the parquet scan actually reads (column-pruning check)."""
    import re

    cols: set[str] = set()
    for line in formatted_plan(df).splitlines():
        m = re.search(r"ReadSchema: struct<([^>]*)>", line)
        if m:
            for field in m.group(1).split(","):
                name = field.split(":")[0].strip()
                if name:
                    cols.add(name)
    return cols
