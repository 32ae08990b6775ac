"""Path helpers (C4): ``basename``/``dirname``, the split behind the
``dirname_rollup`` query."""

from __future__ import annotations

from pyspark.sql import functions as F

from dedupe_algo_spark.operators import filters


def test_basename_dirname(spark):
    df = spark.createDataFrame(
        [("a/b/c.txt",), ("solo",), ("/rooted",)], "p string"
    )
    got = df.select(
        filters.dirname(F.col("p")).alias("d"), filters.basename(F.col("p")).alias("b")
    ).collect()
    assert [(r["d"], r["b"]) for r in got] == [
        ("a/b", "c.txt"),
        ("", "solo"),  # no separator -> '' like the reference's empty slice
        ("", "rooted"),
    ]
