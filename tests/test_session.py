"""Session defaults derived from the master, not from switches."""

from __future__ import annotations

from distributed_web_scrapper_and_crawler_spark.session import local_max_partition_bytes


def test_max_partition_bytes_local_only():
    """16m scan splits are local-box tuning: set for local masters only,
    Spark's default everywhere else."""
    assert local_max_partition_bytes("local[4]") == "16m"
    assert local_max_partition_bytes("local[*]") == "16m"
    assert local_max_partition_bytes("spark://h:7077") is None
