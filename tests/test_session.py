"""Session defaults come from the machine unless the environment names
them. These tests start no Spark session."""

from __future__ import annotations

import os

from desbordante_spark import session


def test_cpus_default_is_the_process_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5},
                        raising=False)
    assert session._cpus() == "3"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert session._cpus() == "7"


def _meminfo(tmp_path, kb):
    path = tmp_path / "meminfo"
    path.write_text(f"MemTotal:       {kb} kB\nMemFree:         1000 kB\n")
    return str(path)


def test_driver_memory_default_is_a_quarter_of_memtotal(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    # a 16 GB box gets a 4g heap, not all of its memory
    assert session._driver_memory(_meminfo(tmp_path, 16 * 1024 * 1024)) == (
        "4096m")
    # bounded at 16g on a large box and at 1g on a tiny one
    assert session._driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == (
        "16384m")
    assert session._driver_memory(_meminfo(tmp_path, 2 * 1024 * 1024)) == (
        "1024m")
    # without a readable MemTotal: Spark's own default
    assert session._driver_memory(str(tmp_path / "absent")) == "1g"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session._driver_memory(_meminfo(tmp_path, 16 * 1024 * 1024)) == "3g"
