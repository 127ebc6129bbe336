"""Session defaults fit the host they start on (no Spark session needed)."""

import os

from kgx_spark.session import MAX_DRIVER_MEM_MB, default_cpus, default_driver_mem


def _mem_available_mb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise AssertionError("no MemAvailable in /proc/meminfo")


def test_derived_defaults_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert 1 <= default_cpus() <= len(os.sched_getaffinity(0))
    mem = default_driver_mem()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) <= min(MAX_DRIVER_MEM_MB, _mem_available_mb())


def test_env_vars_override_defaults(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert default_cpus() == 3
    assert default_driver_mem() == "2g"
