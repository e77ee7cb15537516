"""Session defaults (psyndex2linkeddata_spark/session.py)."""

from __future__ import annotations

import os

from psyndex2linkeddata_spark.session import default_driver_memory

GIB = 1 << 30


def test_default_driver_memory_is_half_of_host_ram_at_least_1g():
    assert default_driver_memory(15 * GIB + GIB // 2) == "7g"
    assert default_driver_memory(64 * GIB) == "32g"
    assert default_driver_memory(3 * GIB) == "1g"
    assert default_driver_memory(GIB // 2) == "1g"


def test_spark_driver_memory_env_wins(spark):
    """The session fixture's heap is SPARK_DRIVER_MEMORY when set, else
    the host-derived default."""
    want = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
