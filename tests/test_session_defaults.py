"""Host-fit SparkSession defaults: core count and driver heap come from
the host when their environment variables are unset. No SparkSession
is started."""

from __future__ import annotations

import os

from hjsonschema_spark import session


def test_parallelism_from_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert session.default_parallelism() == 6


def test_parallelism_from_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5}, raising=False)
    assert session.default_parallelism() == 3


def test_driver_memory_from_env(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session.default_driver_memory() == "3g"


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_half_of_host(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_MEMINFO", _meminfo(tmp_path, 16 * 1024 * 1024))
    assert session.default_driver_memory() == "8192m"


def test_driver_memory_capped(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_MEMINFO", _meminfo(tmp_path, 256 * 1024 * 1024))
    assert session.default_driver_memory() == "49152m"


def test_driver_memory_from_sysconf_without_meminfo(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_MEMINFO", str(tmp_path / "absent"))
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 2 * 1024 * 1024}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__, raising=False)
    assert session.default_driver_memory() == "4096m"


def test_driver_memory_small_when_host_unknown(monkeypatch, tmp_path):
    """Neither /proc/meminfo nor sysconf: a small heap, never 48g."""
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_MEMINFO", str(tmp_path / "absent"))

    def no_sysconf(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", no_sysconf, raising=False)
    assert session.default_driver_memory() == "2048m"
