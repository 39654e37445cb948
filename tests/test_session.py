"""Host-derived session defaults (no Spark started)."""

from __future__ import annotations

from data_lake_skyfit_spark import session

GIB = 1024**3


def _host(monkeypatch, phys_bytes: int) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)


def test_driver_memory_follows_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _host(monkeypatch, 15 * GIB)
    mb = int(session._driver_memory().removesuffix("m"))
    assert 0 < mb <= 0.6 * 15 * 1024
    _host(monkeypatch, 256 * GIB)
    assert session._driver_memory() == f"{16 * 1024}m"  # capped at 16g


def test_driver_memory_env_override(monkeypatch):
    _host(monkeypatch, 15 * GIB)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_memory() == "3g"
