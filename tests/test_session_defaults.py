"""``get_spark``'s host-sized defaults, resolved without a JVM."""

from __future__ import annotations

import os

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (
    session,
)

GIB = 2**30


def _host(monkeypatch, cpus: int, mem_bytes: int) -> None:
    monkeypatch.setattr(os, "sched_getaffinity", lambda _pid: set(range(cpus)))
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": mem_bytes // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])


def test_defaults_follow_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _host(monkeypatch, cpus=4, mem_bytes=15 * GIB)
    assert session._host_cpus() == 4
    assert session._driver_memory() == f"{15 * 1024 // 2}m"
    # a large host keeps the 8 GB cap
    _host(monkeypatch, cpus=64, mem_bytes=256 * GIB)
    assert session._host_cpus() == 64
    assert session._driver_memory() == "8192m"


def test_environment_overrides_the_host(monkeypatch):
    _host(monkeypatch, cpus=4, mem_bytes=15 * GIB)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session._host_cpus() == 32
    assert session._driver_memory() == "2g"
