"""Session sizing comes from the host: the driver heap never exceeds
physical memory, whatever GDAL_SPARK_DRIVER_MEM asks for."""
from __future__ import annotations

from gdal_spark import session


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise AssertionError("MemTotal missing from /proc/meminfo")


def test_session_heap_at_most_mem_total(spark):
    heap = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
    assert 0 < heap <= _mem_total_bytes()


def test_driver_memory_capped_at_half_mem_total(monkeypatch):
    half_mb = _mem_total_bytes() // 2**21
    monkeypatch.setenv("GDAL_SPARK_DRIVER_MEM", "100000g")
    assert session.driver_memory() == f"{half_mb}m"
    monkeypatch.setenv("GDAL_SPARK_DRIVER_MEM", "512m")
    assert session.driver_memory() == "512m"
    monkeypatch.delenv("GDAL_SPARK_DRIVER_MEM")
    assert session.driver_memory() == f"{min(half_mb, 24 * 1024)}m"


def test_cores_default_to_host(monkeypatch):
    import os

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.host_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.host_cpus() == 3
