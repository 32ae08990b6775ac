"""Loaders for the driver-provided parquet tables (TESTDATA.md).

On a production deployment these are Iceberg catalog tables; the sandbox
testdata is plain parquet. The dialect is one switch
(``DEDUPE_TABLE_FORMAT=parquet|iceberg``) behind ``load_table`` so the
deployment story is code, not prose: iceberg mode resolves
``<namespace>.<name>`` through the session catalog (requires the
iceberg-spark-runtime jar + a catalog config on the SparkSession — not
present in this sandbox, so parquet is the tested path and iceberg the
routed-but-unprovisioned one).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_FORMAT_ENV = "DEDUPE_TABLE_FORMAT"  # parquet (default) | iceberg
ICEBERG_NAMESPACE_ENV = "DEDUPE_ICEBERG_NAMESPACE"  # default "dedupe"

TPCH_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def table_format() -> str:
    return os.environ.get(TABLE_FORMAT_ENV, "parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if table_format() == "iceberg":
        ns = os.environ.get(ICEBERG_NAMESPACE_ENV, "dedupe")
        return spark.table(f"{ns}.{name}")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")

