from __future__ import annotations

import pytest

from dedupe_algo_spark.session import get_spark


@pytest.fixture(scope="session", autouse=True)
def _audit_dir(tmp_path_factory):
    """Route default-on audit lineage to a tmp dir so test runs don't
    append to the repo's spark-warehouse."""
    import os

    os.environ.setdefault(
        "DEDUPE_AUDIT_DIR", str(tmp_path_factory.mktemp("audit") / "dedupe_audit")
    )


@pytest.fixture(scope="session")
def spark():
    # 6g, not get_spark's 16g default: the suite's heap otherwise grows
    # to ~14.5 GB mid-run and a 16 GB box kills the JVM
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "6g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_1k(spark):
    from dedupe_algo_spark.synth import synth_pages

    return synth_pages(spark, 1000).cache()


@pytest.fixture(scope="session")
def labels_1k(spark):
    from dedupe_algo_spark.synth import synth_labels

    return synth_labels(spark, 1000).cache()
