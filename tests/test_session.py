"""Session defaults derived from the master, not from switches."""

from __future__ import annotations

import os

import pytest
from bench import HEADLINE

from distributed_web_scrapper_and_crawler_spark.analytics import QUERY_REGISTRY
from distributed_web_scrapper_and_crawler_spark.session import local_max_partition_bytes

SF_DIR_SMALL = "/root/testdata/sf0.001"


def test_max_partition_bytes_local_only():
    """16m scan splits are local-box tuning: set for local masters only,
    Spark's default everywhere else."""
    assert local_max_partition_bytes("local[4]") == "16m"
    assert local_max_partition_bytes("local[*]") == "16m"
    assert local_max_partition_bytes("spark://h:7077") is None


def _compiles(spark) -> int | None:
    """Classes Janino has compiled in this JVM (CodegenMetrics is a
    private API: None when it cannot be read)."""
    try:
        metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(metrics.METRIC_COMPILATION_TIME().getCount())
    except Exception:
        return None


def test_repeated_plans_compile_once(spark):
    """A second sweep of the headline queries reuses every generated class:
    the codegen cache holds the sweep's whole working set, so LRU eviction
    does not make a repeated plan compile again."""
    if not os.path.isdir(SF_DIR_SMALL):
        pytest.skip(f"no testdata at {SF_DIR_SMALL}")

    def sweep() -> None:
        for q in HEADLINE:
            QUERY_REGISTRY[q].fn(spark, SF_DIR_SMALL).write.format("noop").mode("overwrite").save()

    if _compiles(spark) is None:
        pytest.skip("CodegenMetrics is not readable from this JVM")
    sweep()
    before = _compiles(spark)
    sweep()
    assert _compiles(spark) - before == 0
