"""Full-DAG orchestration test: every source's entities through
bronze→STG→CORE in dependency order, audit green, CLI surface works.
"""

from __future__ import annotations

import pytest

from data_lake_skyfit_spark import __main__ as cli
from data_lake_skyfit_spark import pipeline
from data_lake_skyfit_spark.operators.normalize import Lakehouse
from data_lake_skyfit_spark.pipeline import run_daily

from . import fixtures


@pytest.fixture(scope="module")
def full_lake_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("daily_lake"))
    for gen in (
        fixtures.gen_members,
        fixtures.gen_sales,
        fixtures.gen_entries,
        fixtures.gen_prospects,
        fixtures.gen_deals,
        fixtures.gen_persons,
        fixtures.gen_activities,
        fixtures.gen_tickets,
    ):
        gen(root)
    return root


def test_run_daily_dag(spark, full_lake_root):
    lake = Lakehouse(spark, full_lake_root)
    result = run_daily(lake)
    # entities with fixture bronze ran; the rest skipped cleanly:
    assert "evo_members" in result.ran
    assert "evo_sales" in result.ran
    assert "pd_deals" in result.ran
    assert "zd_tickets" in result.ran
    assert "pd_pipelines" in result.skipped  # no bronze fixture for dims
    # members ran before sales (DAG order):
    assert result.ran.index("evo_members") < result.ran.index("evo_sales")
    assert result.ok, f"failed checks: {result.failed_checks}"
    # audit report covers every entity that ran:
    tables = {r["table"] for r in result.report}
    assert {"evo_members", "evo_sales", "pd_deals", "zd_tickets"} <= tables


def test_cli_single_entity(spark, full_lake_root, capsys):
    rc = cli.main(["--root", full_lake_root, "--entity", "evo_prospects"])
    assert rc == 0
    assert "OK evo_prospects" in capsys.readouterr().out


def test_audit_runs_once_within_job_budget(spark, full_lake_root, monkeypatch):
    """run_daily evaluates the audit in one action: one run_audit call,
    whose jobs (counted by job group) stay a small fixed number — one
    schema-discovery job per table read plus the report query's stages —
    and the report is plain rows, so reading it launches nothing."""
    sc = spark.sparkContext
    calls = []
    real = pipeline.run_audit

    def counted(*args, **kwargs):
        calls.append(1)
        sc.setJobGroup("audit-budget", "run_audit")
        try:
            return real(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(pipeline, "run_audit", counted)
    result = run_daily(Lakehouse(spark, full_lake_root), sources=("evo",))
    jobs = sc.statusTracker().getJobIdsForGroup("audit-budget")
    assert calls == [1]
    assert result.ok, f"failed checks: {result.failed_checks}"
    assert isinstance(result.report, list) and len(result.report) == 21
    assert len(jobs) <= 30, f"audit launched {len(jobs)} jobs"
