"""session.py: the local driver heap default follows the host, and
``SPARK_GRAFT_CPUS`` is validated."""

from __future__ import annotations

import os

import pytest

from hive_hdfs_practise_spark.session import cpu_count, default_driver_memory

GIB = 2**30


def test_driver_memory_half_of_a_small_host():
    assert default_driver_memory(16 * GIB) == "8g"


def test_driver_memory_capped_on_a_large_host():
    assert default_driver_memory(128 * GIB) == "24g"


def test_cpus_from_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert cpu_count() == 3


def test_cpus_empty_keeps_the_host_default(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert cpu_count() == (os.cpu_count() or 4)
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert cpu_count() == (os.cpu_count() or 4)


@pytest.mark.parametrize("raw", ["0", "-2", "four", "2.5"])
def test_cpus_not_a_positive_integer_raises(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        cpu_count()
