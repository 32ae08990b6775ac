"""Table-format routing (sources/tables.py): parquet is the tested
sandbox path; iceberg mode must resolve ``<namespace>.<name>`` through
the session catalog (the jar isn't in this container, so the routing is
asserted with a monkeypatched ``spark.table``).

Catalog config a real deployment needs (public Iceberg docs):

    spark.sql.catalog.<cat>=org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.<cat>.type=hive|hadoop|rest
    --packages org.apache.iceberg:iceberg-spark-runtime-<ver>
"""

from __future__ import annotations

from dedupe_algo_spark.sources import tables

SF_DIR = "/root/testdata/sf0.001"


def test_parquet_default_reads_testdata(spark, monkeypatch):
    monkeypatch.delenv(tables.TABLE_FORMAT_ENV, raising=False)
    df = tables.load_table(spark, SF_DIR, "region")
    assert df.count() == 5


def test_iceberg_mode_routes_through_catalog(spark, monkeypatch):
    monkeypatch.setenv(tables.TABLE_FORMAT_ENV, "iceberg")
    monkeypatch.setenv(tables.ICEBERG_NAMESPACE_ENV, "warehouse.cc")
    seen = []

    def fake_table(name):
        seen.append(name)
        return spark.range(1)

    monkeypatch.setattr(spark, "table", fake_table)
    out = tables.load_table(spark, SF_DIR, "lineitem")
    assert seen == ["warehouse.cc.lineitem"]
    assert out.count() == 1


def test_iceberg_default_namespace(spark, monkeypatch):
    monkeypatch.setenv(tables.TABLE_FORMAT_ENV, "iceberg")
    monkeypatch.delenv(tables.ICEBERG_NAMESPACE_ENV, raising=False)
    seen = []
    monkeypatch.setattr(spark, "table", lambda n: seen.append(n) or spark.range(1))
    tables.load_table(spark, SF_DIR, "events")
    assert seen == ["dedupe.events"]
