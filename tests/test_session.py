"""Host-derived session defaults and the JIT rule (no Spark started)."""

from __future__ import annotations

import pytest

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


# -- the JIT rule -----------------------------------------------------------

C1_ONLY = "-XX:TieredStopAtLevel=1"


def test_jit_c1_only_for_a_lake_with_stg_tables(tmp_path):
    (tmp_path / "stg" / "evo_members").mkdir(parents=True)
    assert session._jit_options(str(tmp_path)) == C1_ONLY


def test_jit_tiered_for_an_empty_lake_or_no_lake(tmp_path):
    assert session._jit_options(str(tmp_path)) is None  # no stg dir
    (tmp_path / "stg").mkdir()
    assert session._jit_options(str(tmp_path)) is None  # stg dir, no table
    assert session._jit_options(None) is None


class _Builder:
    """Records the configs `get_spark` sets; starts no JVM."""

    def __init__(self):
        self.conf = {}

    def master(self, _m):
        return self

    def appName(self, _n):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        class _Spark:
            class sparkContext:
                @staticmethod
                def setLogLevel(_level):
                    pass

        return _Spark()


def _java_options(monkeypatch, **kwargs) -> str | None:
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", type("SparkSession", (), {"builder": builder}))
    session.get_spark(**kwargs)
    return builder.conf.get("spark.driver.defaultJavaOptions")


def test_get_spark_passes_the_jit_rule(monkeypatch, tmp_path):
    (tmp_path / "stg" / "evo_members").mkdir(parents=True)
    assert _java_options(monkeypatch) is None  # a default session stays tiered
    assert _java_options(monkeypatch, incremental_lake=str(tmp_path)) == C1_ONLY


@pytest.mark.parametrize("full_refresh", [False, True])
def test_cli_is_c1_only_on_incremental_days_only(monkeypatch, tmp_path, full_refresh):
    """`__main__.main` decides before the JVM starts: a lake with STG
    tables is an incremental day unless `--full-refresh` is given."""
    from data_lake_skyfit_spark import __main__ as cli

    (tmp_path / "stg" / "evo_members").mkdir(parents=True)
    seen = []

    class _Stop(Exception):
        pass

    def fake_get_spark(app_name, **kwargs):
        seen.append(session._jit_options(kwargs.get("incremental_lake")))
        raise _Stop

    monkeypatch.setattr(cli, "get_spark", fake_get_spark)
    argv = ["--root", str(tmp_path)] + (["--full-refresh"] if full_refresh else [])
    with pytest.raises(_Stop):
        cli.main(argv)
    assert seen == [None if full_refresh else C1_ONLY]
