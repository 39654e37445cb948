"""The daily run's bronze run ledger and concurrent entity pipelines.

- Reading per entity: a field whose JSON type differs between entities
  of one source (EVO prospects land idBranch as a string, the other
  entities as a number) keeps each entity's own type.
- The ledger: a rerun with no new bronze does no work; a run landed
  under an older run_id is still new; a lost STG table or a full
  refresh reads every run.
- Fail-fast: one entity's failure is re-raised, the audit does not run,
  and every table stays readable.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from data_lake_skyfit_spark import pipeline
from data_lake_skyfit_spark.operators.merge import ParquetTable
from data_lake_skyfit_spark.operators.normalize import Lakehouse
from data_lake_skyfit_spark.pipeline import run_daily
from data_lake_skyfit_spark.sources import bronze
from data_lake_skyfit_spark.sources.watermarks import WatermarkStore
from data_lake_skyfit_spark.specs.base import get_spec

from . import fixtures

EVO = ("evo_prospects", "evo_members", "evo_sales", "evo_entries")


def _land_evo(root: str) -> None:
    fixtures.gen_members(root)
    fixtures.gen_sales(root)
    fixtures.gen_entries(root)
    fixtures.gen_prospects(root, branch_as_string=True)


@pytest.fixture(scope="module")
def evo_lake(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ledger_lake"))
    _land_evo(root)
    lake = Lakehouse(spark, root)
    result = run_daily(lake, sources=("evo",))
    assert result.ok, f"failed checks: {result.failed_checks}"
    return lake


def _table_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for layer in ("stg", "core"):
        for dp, _, fs in os.walk(os.path.join(root, layer)):
            for f in fs:
                st = os.stat(os.path.join(dp, f))
                out[os.path.join(dp, f)] = (st.st_ino, st.st_mtime_ns)
    return out


def _count_merges(monkeypatch) -> list[str]:
    calls: list[str] = []
    for name in ("merge", "overwrite"):
        real = getattr(ParquetTable, name)

        def counted(self, *args, _real=real, **kwargs):
            calls.append(os.path.basename(self.path))
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(ParquetTable, name, counted)
    return calls


def test_entity_type_conflict_keeps_branch_id(spark, evo_lake):
    """Prospects' string idBranch must not widen the other entities'
    numeric idBranch to string (from_json(LongType) would NULL it)."""
    for name in ("evo_members", "evo_sales", "evo_entries"):
        core = evo_lake.read("core", name)
        assert core.count() > 0
        assert core.filter(F.col("branch_id").isNull()).count() == 0, name
    prospects = evo_lake.read("core", "evo_prospects")
    assert prospects.filter(F.col("branch_id").isNull()).count() == 0


def test_rerun_without_new_bronze_does_no_work(spark, evo_lake, monkeypatch):
    before = _table_files(evo_lake.root)
    calls = _count_merges(monkeypatch)
    result = run_daily(evo_lake, sources=("evo",))
    assert calls == []
    assert _table_files(evo_lake.root) == before
    # nothing new still counts as ran, and the audit covers it:
    assert result.ran == list(EVO)
    assert result.ok, f"failed checks: {result.failed_checks}"
    assert set(EVO) <= {r["table"] for r in result.report}


def test_late_run_under_older_run_id_is_loaded(spark, evo_lake):
    """The ledger is a set of run directories, not max(run_id): a run
    landed later under an older id is new. Its stale version of an
    existing key does not roll that key back (latest-wins MERGE)."""
    stg = evo_lake.read("stg", "evo_members")
    current = stg.filter("idMember = 1").select("raw.updateDate", "raw.firstName").first()
    late = [
        {"idMember": 5000, "idBranch": 2, "firstName": "Late",
         "updateDate": "2026-01-15T00:00:00Z"},
        {"idMember": 1, "idBranch": 2, "firstName": "Stale",
         "updateDate": "2025-01-01T00:00:00Z"},
    ]
    fixtures._write_part(evo_lake.root, "evo", "members", "20260731T000000", late,
                         ingestion_date="2026-07-31")

    result = run_daily(evo_lake, sources=("evo",))
    assert result.ok, f"failed checks: {result.failed_checks}"
    core = evo_lake.read("core", "evo_members")
    assert core.filter("member_id = 5000").select("first_name").first()[0] == "Late"
    stg = evo_lake.read("stg", "evo_members")
    assert stg.filter("idMember = 1").select("raw.updateDate", "raw.firstName").first() == current
    loaded = WatermarkStore(evo_lake.root).loaded_runs("evo", "members")
    assert "entity=members/ingestion_date=2026-07-31/run_id=20260731T000000" in loaded
    assert loaded == set(bronze.run_dirs(spark, evo_lake.root, "evo", "members"))


def test_deleted_stg_table_reloads_every_run(spark, evo_lake, monkeypatch):
    def stg_keys():
        rows = evo_lake.read("stg", "evo_members").select("idMember").collect()
        return sorted(r[0] for r in rows)

    stg_path = os.path.join(evo_lake.root, "stg", "evo_members")
    keys_before = stg_keys()
    core_before = evo_lake.read("core", "evo_members").count()
    shutil.rmtree(os.path.realpath(stg_path))
    os.remove(stg_path)

    read_runs = []
    real = Lakehouse.load_stg

    def spy(self, spec, **kwargs):
        read_runs.append((spec.name, kwargs.get("runs")))
        return real(self, spec, **kwargs)

    monkeypatch.setattr(Lakehouse, "load_stg", spy)
    run_daily(evo_lake, sources=("evo",))
    all_runs = bronze.run_dirs(spark, evo_lake.root, "evo", "members")
    assert read_runs == [("evo_members", all_runs)]
    assert stg_keys() == keys_before
    assert evo_lake.read("core", "evo_members").count() == core_before


def test_full_refresh_reads_every_run(spark, evo_lake, monkeypatch):
    read_runs = {}
    real = Lakehouse.load_stg

    def spy(self, spec, **kwargs):
        read_runs[spec.name] = kwargs.get("runs")
        return real(self, spec, **kwargs)

    monkeypatch.setattr(Lakehouse, "load_stg", spy)
    result = run_daily(evo_lake, sources=("evo",), full_refresh=True)
    assert result.ok, f"failed checks: {result.failed_checks}"
    assert read_runs == {
        name: bronze.run_dirs(spark, evo_lake.root, "evo", get_spec(name).entity)
        for name in EVO
    }


class _Boom(RuntimeError):
    pass


def test_entity_failure_fails_fast(spark, evo_lake, monkeypatch):
    """One entity's normalize raises: run_daily re-raises that error,
    runs no audit, and leaves every table readable with no scratch
    directory behind."""
    real = Lakehouse.normalize_core

    def failing(self, spec, **kwargs):
        if spec.name == "evo_sales":
            raise _Boom("injected normalize failure")
        return real(self, spec, **kwargs)

    audits = []
    monkeypatch.setattr(Lakehouse, "normalize_core", failing)
    monkeypatch.setattr(pipeline, "run_audit", lambda *a, **k: audits.append(1))
    with pytest.raises(_Boom, match="injected"):
        run_daily(evo_lake, sources=("evo",), full_refresh=True)
    assert audits == []
    for layer in ("stg", "core"):
        d = os.path.join(evo_lake.root, layer)
        names = set(os.listdir(d))
        links = {n for n in names if os.path.islink(os.path.join(d, n))}
        # every entry is a live table link or its target, nothing else
        assert names == links | {os.readlink(os.path.join(d, n)) for n in links}, names
        for n in links:
            assert spark.read.parquet(os.path.join(d, n)).count() > 0, n


def test_failed_write_leaves_no_scratch_dir(spark, tmp_path):
    """A MERGE whose write job fails keeps the table as it was and
    removes its unfinished version dir."""
    t = ParquetTable(str(tmp_path / "t"), ["id"])
    t.overwrite(spark.range(3).select("id", F.lit(0).alias("v")))
    bad = spark.range(1).select("id", F.raise_error(F.lit("boom")).cast("int").alias("v"))
    with pytest.raises(Exception, match="boom"):
        t.merge(bad)
    assert sorted(os.listdir(tmp_path)) == sorted(["t", os.readlink(t.path)])
    assert sorted(r["v"] for r in t.read(spark).collect()) == [0, 0, 0]
