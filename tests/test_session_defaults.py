"""``session.get_spark`` defaults come from the host, not fixed constants.

The helpers are checked directly, so no second SparkSession is started.
"""

from __future__ import annotations

import os

from hainan_big_data_recommend_system_spark.session import (
    driver_memory,
    local_cpus,
)


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise AssertionError("no MemTotal in /proc/meminfo")


def test_cpus_default_to_the_process_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))


def test_cpus_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3


def test_driver_memory_defaults_to_half_of_mem_total(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = driver_memory()
    assert mem.endswith("m")
    assert int(mem[:-1]) == _mem_total_kb() // 2048
    assert int(mem[:-1]) * 1024 < _mem_total_kb()


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1500m")
    assert driver_memory() == "1500m"
