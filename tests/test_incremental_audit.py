"""Incremental contract (I1-I3), audit suite (§5) and scope views (P5).

Covers: watermark window/advance with 5-min overlap, cursor + manifest
persistence, the window filter, the audit
report (counts, dup keys, null keys, orphans, per-scope), and the
05_scope_views per-scope temp views.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from data_lake_skyfit_spark import audit
from data_lake_skyfit_spark.operators.normalize import Lakehouse
from data_lake_skyfit_spark.sources.watermarks import (
    DEFAULT_OVERLAP,
    WatermarkStore,
    incremental_filter,
)
from data_lake_skyfit_spark.specs import get_spec

from . import fixtures

UTC = timezone.utc


# ---------------------------------------------------------------------------
# WatermarkStore unit behavior
# ---------------------------------------------------------------------------


def test_watermark_window_and_advance(tmp_path):
    store = WatermarkStore(str(tmp_path))
    since, until = store.window("evo", "members", now=datetime(2026, 8, 1, tzinfo=UTC))
    assert since is None  # first run = full backfill
    assert until == datetime(2026, 8, 1, tzinfo=UTC)

    store.advance("evo", "members", until)
    since2, until2 = store.window(
        "evo", "members", now=datetime(2026, 8, 2, tzinfo=UTC)
    )
    # I1: since backs off by the overlap window:
    assert since2 == until - DEFAULT_OVERLAP
    assert until2 == datetime(2026, 8, 2, tzinfo=UTC)


def test_watermark_cursor_and_manifest(tmp_path):
    store = WatermarkStore(str(tmp_path))
    assert store.get_cursor("zendesk", "tickets") is None
    store.advance(
        "zendesk", "tickets", datetime(2026, 8, 1, tzinfo=UTC), cursor="abc=="
    )
    assert store.get_cursor("zendesk", "tickets") == "abc=="  # I2 resume

    store.write_manifest("zendesk", "20260801T000000", {"records": 12, "parts": 1})
    store.write_manifest("zendesk", "20260802T000000", {"records": 3, "parts": 1})
    assert store.list_runs("zendesk") == ["20260801T000000", "20260802T000000"]


def test_watermark_scoped_isolation(tmp_path):
    store = WatermarkStore(str(tmp_path))
    store.advance("pipedrive", "deals", datetime(2026, 8, 1, tzinfo=UTC), scope="comercial")
    assert store.get("pipedrive", "deals", scope="expansao") is None
    assert store.get("pipedrive", "deals", scope="comercial") is not None


def test_incremental_filter_bounds(spark):
    df = spark.createDataFrame(
        [(datetime(2026, 1, 1, 12, 0),), (datetime(2026, 1, 2, 12, 0),),
         (datetime(2026, 1, 3, 12, 0),)],
        "ts timestamp",
    )
    out = incremental_filter(
        df, "ts",
        datetime(2026, 1, 1, 12, 0, tzinfo=UTC),
        datetime(2026, 1, 2, 12, 0, tzinfo=UTC),
    )
    rows = out.collect()  # strictly-greater lower bound, inclusive upper
    assert [r["ts"].day for r in rows] == [2]


# ---------------------------------------------------------------------------
# Audit suite + scope views over a fully-loaded lake
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def audited_lake(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("audit_lake"))
    fixtures.gen_members(root)
    fixtures.gen_sales(root)
    fixtures.gen_deals(root)
    lake = Lakehouse(spark, root)
    for name in ("evo_members", "evo_sales", "pd_deals"):
        lake.run_pipeline(get_spec(name))
    return lake


def test_audit_report_green(audited_lake):
    specs = [get_spec("evo_members"), get_spec("evo_sales"), get_spec("pd_deals")]
    rows = audit.run_audit(
        audited_lake,
        specs,
        orphan_edges=[(get_spec("evo_sales"), get_spec("evo_members"), "member_id")],
    )
    bad = [r for r in rows if not r["ok"]]
    assert not bad, f"failed checks: {bad}"
    checks = {(r["check"], r["table"]) for r in rows}
    assert ("stg_core_count_reconciliation", "evo_members") in checks
    assert ("core_duplicate_keys", "evo_sales") in checks
    assert ("orphan_fk_member_id", "evo_sales") in checks
    assert ("scope_count_comercial", "pd_deals") in checks


def _per_check_reference(lake, specs, edges):
    """The audit's checks as independent per-check queries, one scan
    per check — the definitions run_audit's per-table aggregates must
    reproduce: {(check, table): (value, ok)}, freshness excluded."""
    out = {}
    for spec in specs:
        stg = lake.stg_table(spec).read(lake.spark)
        core = lake.core_table(spec).read(lake.spark)
        scope = ["scope"] if spec.scoped else []
        stg_keys = list(spec.stg_key) + scope
        core_keys = list(spec.core_key) + scope
        n_stg_keys = stg.select(*stg_keys).distinct().count()
        n_core = core.count()
        out["stg_core_count_reconciliation", spec.name] = (
            n_stg_keys, n_stg_keys == n_core,
        )
        dup = n_core - core.agg(F.countDistinct(*core_keys)).collect()[0][0]
        out["core_duplicate_keys", spec.name] = (dup, dup == 0)
        stg_dup = stg.groupBy(*stg_keys).count().filter("count > 1").count()
        out["stg_duplicate_keys", spec.name] = (stg_dup, stg_dup == 0)
        null_any = F.lit(False)
        for k in spec.core_key:
            null_any = null_any | F.col(k).isNull()
        nulls = core.filter(null_any).count()
        out["core_null_business_keys", spec.name] = (nulls, nulls == 0)
        if spec.scoped:
            for r in core.groupBy("scope").count().collect():
                out[f"scope_count_{r['scope']}", spec.name] = (r["count"], True)
    for fact, dim, fk in edges:
        f_df = lake.core_table(fact).read(lake.spark).filter(F.col(fk).isNotNull())
        d_df = lake.core_table(dim).read(lake.spark)
        n = f_df.join(d_df, f_df[fk] == d_df[dim.core_key[0]], "left_anti").count()
        out[f"orphan_fk_{fk}", fact.name] = (n, n == 0)
    return out


def test_audit_detects_injected_duplicate(audited_lake, spark):
    """The checks must actually fire on bad data: a CORE duplicate, an
    STG duplicate, a NULL business key and an orphan FK each flip their
    check, with the values the per-check queries give."""
    members, sales, deals = (
        get_spec("evo_members"), get_spec("evo_sales"), get_spec("pd_deals")
    )
    edges = [(sales, members, "member_id")]
    tables = [
        audited_lake.core_table(members),
        audited_lake.stg_table(members),
        audited_lake.core_table(sales),
    ]
    # Detach from the underlying files — the overwrites below replace them.
    saved = [t.read(spark).localCheckpoint() for t in tables]
    core_m, stg_m, core_s = saved
    null_key = core_s.limit(1).withColumn(
        "sale_id", F.lit(None).cast(dict(core_s.dtypes)["sale_id"])
    )
    orphan = core_s.limit(1).select(
        *[
            (F.lit(-1).cast(t) if c in ("sale_id", "member_id") else F.col(c)).alias(c)
            for c, t in core_s.dtypes
        ]
    )
    try:
        tables[0].overwrite(core_m.unionByName(core_m.limit(1)))
        tables[1].overwrite(stg_m.unionByName(stg_m.limit(1)))
        tables[2].overwrite(core_s.unionByName(null_key).unionByName(orphan))
        rows = audit.run_audit(audited_lake, [members, sales, deals], orphan_edges=edges)
        got = {
            (r["check"], r["table"]): (r["value"], r["ok"])
            for r in rows
            if r["check"] != "stg_freshness_lag_s"
        }
        assert got == _per_check_reference(
            audited_lake, [members, sales, deals], edges
        )
        assert got["core_duplicate_keys", "evo_members"] == (1, False)
        assert got["stg_duplicate_keys", "evo_members"] == (1, False)
        assert got["core_null_business_keys", "evo_sales"] == (1, False)
        assert got["orphan_fk_member_id", "evo_sales"] == (1, False)
        assert got["stg_core_count_reconciliation", "evo_members"][1] is False
        assert len(rows) == len(got) + 3  # one freshness row per table
    finally:
        for t, df in zip(tables, saved):
            t.overwrite(df)


def test_audit_date_anomalies(audited_lake):
    spec = get_spec("evo_members")
    rep = audit.check_date_anomalies(
        audited_lake, spec, "register_date", "update_date"
    ).collect()[0]
    assert rep["value"] == 0 and rep["ok"] is True


def test_scope_views(audited_lake, spark):
    audited_lake.register_views(get_spec("pd_deals"), scopes=("comercial", "expansao"))
    total = spark.sql("SELECT COUNT(*) AS n FROM core_pd_deals").collect()[0]["n"]
    com = spark.sql("SELECT COUNT(*) AS n FROM core_pd_deals_comercial").collect()[0]["n"]
    exp = spark.sql("SELECT COUNT(*) AS n FROM core_pd_deals_expansao").collect()[0]["n"]
    assert total == com + exp == 80
    mixed = spark.sql(
        "SELECT COUNT(DISTINCT scope) AS n FROM core_pd_deals_comercial"
    ).collect()[0]["n"]
    assert mixed == 1
