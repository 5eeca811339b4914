"""session.py: the local driver heap default follows the host."""

from __future__ import annotations

from hive_hdfs_practise_spark.session import default_driver_memory

GIB = 2**30


def test_driver_memory_half_of_a_small_host():
    assert default_driver_memory(16 * GIB) == "8g"


def test_driver_memory_capped_on_a_large_host():
    assert default_driver_memory(128 * GIB) == "24g"
