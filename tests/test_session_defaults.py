"""The session's local defaults come from the host when
``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` are unset, and each
variable still overrides its default. No Spark session starts."""

from __future__ import annotations

import os

from shotit_worker_spark import session


def _fake_host(monkeypatch, cpus: int, ram_gib: int):
    page = 4096
    monkeypatch.setattr(os, "cpu_count", lambda: cpus)
    monkeypatch.setattr(os, "sysconf", lambda name: {
        "SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_gib * 2**30 // page,
    }[name])


def test_defaults_come_from_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _fake_host(monkeypatch, cpus=4, ram_gib=15)
    assert session.default_cpus() == 4
    assert session.default_driver_memory() == "7g"
    _fake_host(monkeypatch, cpus=32, ram_gib=128)
    assert session.default_cpus() == 32
    assert session.default_driver_memory() == "64g"
    _fake_host(monkeypatch, cpus=1, ram_gib=1)
    assert session.default_driver_memory() == "1g"


def test_environment_overrides_the_host(monkeypatch):
    _fake_host(monkeypatch, cpus=4, ram_gib=15)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_cpus() == 2
    assert session.default_driver_memory() == "3g"
