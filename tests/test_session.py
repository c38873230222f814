"""Session defaults derived from the host, checked without starting
Spark: the driver heap and core count `get_spark` picks when neither
the caller nor the environment sets them."""

import os

import pytest

from search_engines_spark import session
from search_engines_spark.session import driver_memory, heap_bytes

GIB = 1 << 30


def test_heap_bytes_units():
    assert heap_bytes("16g") == 16 * GIB
    assert heap_bytes("2048M") == 2 * GIB
    assert heap_bytes("512k") == 512 << 10
    assert heap_bytes("1024") == GIB          # bare number = MiB
    for bad in ("", "1.5g", "g", "-1g", "16gb"):
        with pytest.raises(ValueError):
            heap_bytes(bad)


def test_driver_memory_default_is_half_the_host_capped():
    assert driver_memory(None, 16 * GIB) == "8192m"
    assert driver_memory("", 6 * GIB) == "3072m"
    assert driver_memory(None, 64 * GIB) == "16384m"   # 16g cap


def test_driver_memory_explicit_must_fit_the_host():
    assert driver_memory("2g", 16 * GIB) == "2g"
    assert driver_memory("16g", 16 * GIB) == "16g"
    with pytest.raises(ValueError, match="exceeds"):
        driver_memory("32g", 16 * GIB)


def test_get_spark_checks_heap_before_the_jvm(monkeypatch):
    """An oversized SPARK_DRIVER_MEM fails in `get_spark` itself: the
    builder is never reached, so no JVM starts."""
    monkeypatch.setenv("SPARK_DRIVER_MEM", "64g")
    monkeypatch.setattr(session, "host_memory", lambda: 16 * GIB)
    monkeypatch.setattr(session.SparkSession, "builder", None)
    with pytest.raises(ValueError, match="exceeds"):
        session.get_spark("oversized", cores=1)


def test_get_spark_defaults_cores_to_the_cpus_it_may_use(monkeypatch):
    """No `cores` and no SPARK_GRAFT_CPUS → local[<CPUs in this
    process's affinity mask>]. The builder is stubbed, so no JVM
    starts."""
    seen = {}

    class Builder:
        def master(self, m):
            seen["master"] = m
            return self

        def config(self, key, value):
            seen[key] = value
            return self

        def appName(self, _):
            return self

        def getOrCreate(self):
            return "session"

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session.SparkSession, "builder", Builder())
    assert session.get_spark("defaults") == "session"
    n = len(os.sched_getaffinity(0))
    assert seen["master"] == f"local[{n}]"
    assert seen["spark.sql.shuffle.partitions"] == str(max(n, 8))
    assert seen["spark.driver.memory"] == driver_memory(
        None, session.host_memory())
