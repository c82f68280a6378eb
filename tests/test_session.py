"""``get_spark``'s driver-heap default, read from the
``SparkSession.Builder`` options with ``getOrCreate`` stubbed out, so no
JVM starts."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from reddit_apache_airflow_postgres_pipeline_spark import session

PAGE = 4096


@pytest.fixture
def driver_memory(monkeypatch):
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )

    def conf(phys_bytes: int) -> str:
        pages = {"SC_PHYS_PAGES": phys_bytes // PAGE, "SC_PAGE_SIZE": PAGE}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        return session.get_spark()["spark.driver.memory"]

    return conf


def test_driver_memory_default_is_half_of_physical_capped_at_16g(
    monkeypatch, driver_memory
):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert driver_memory(16_851_222_528) == "8035m"  # a 15.7 GiB host
    assert driver_memory(8 * 2**30) == "4096m"
    assert driver_memory(32 * 2**30) == "16384m"
    assert driver_memory(256 * 2**30) == "16384m"


def test_driver_memory_env_overrides_the_default(monkeypatch, driver_memory):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert driver_memory(16_851_222_528) == "2g"
