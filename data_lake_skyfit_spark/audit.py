"""Validation / audit suite — the reference's correctness harness.

The reference enforces correctness with SQL audit queries and
operational checks, not unit tests (SURVEY.md §5):

- STG audit suite: counts per run, duplicate lineage keys, unique
  payload ids vs totals, required-field nulls, date anomalies, samples
  (sql/validations/audit_stg.sql:12-241);
- pipeline CHECKs 1-7: STG↔CORE count reconciliation, CORE duplicate
  keys, freshness, per-scope counts, null business keys, referential
  orphans via anti-join (docs/OPERATIONS_GUIDE.md §4);
- health check: row counts + freshness per table post-pipeline
  (scripts/health_check.ps1:72-157).

`run_audit` reads each STG and CORE table once and derives every check
on that table from one two-level aggregate over its key: per key, the
row count (and STG's max `_loaded_at`); over the keys, the distinct and
duplicated key counts, null-business-key rows and per-scope row counts.
Orphan edges are one anti-join each. The per-table aggregates are
UNION ALLed (U1) and collected in ONE action; the report rows
`(check, table, value, ok)` are assembled in Python. Every exchange is
a partial aggregate over key columns (or a broadcast of a dim for the
anti-join), so at 100 TB the audit stays a scan per table, not a scan
per check.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.normalize import Lakehouse
from .specs.base import EntitySpec

__all__ = [
    "check_date_anomalies",
    "run_audit",
    "observed_write",
]

#: Columns of every per-table aggregate; a table fills the ones its
#: checks use, the rest stay NULL.
_AGG_COLS = (
    ("scope", "string"),
    ("rows", "long"),
    ("keys", "long"),
    ("dups", "long"),
    ("nulls", "long"),
    ("lag_s", "long"),
)


def _any(conds):
    return reduce(lambda a, b: a | b, conds)


def _all(conds):
    return reduce(lambda a, b: a & b, conds)


def _agg_row(part: int, df: DataFrame) -> DataFrame:
    """Project an aggregate onto the shared report-input schema, tagged
    with `part` (its index in run_audit's part list)."""
    return df.select(
        F.lit(part).alias("part"),
        *[
            (F.col(c) if c in df.columns else F.lit(None)).cast(t).alias(c)
            for c, t in _AGG_COLS
        ],
    )


def _stg_agg(part: int, stg: DataFrame, spec: EntitySpec) -> DataFrame:
    """One row: distinct keys, keys seen more than once, and the STG
    freshness lag (audit_stg.sql:96-114; CHECKs 1 and 3)."""
    keys = list(spec.stg_key) + (["scope"] if spec.scoped else [])
    per_key = stg.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"), F.max("_loaded_at").alias("ts")
    )
    return _agg_row(
        part,
        per_key.agg(
            F.count(F.lit(1)).alias("keys"),
            F.count(F.when(F.col("n") > 1, 1)).alias("dups"),
            (
                F.unix_timestamp(F.current_timestamp())
                - F.unix_timestamp(F.max("ts"))
            ).alias("lag_s"),
        ),
    )


def _core_agg(part: int, core: DataFrame, spec: EntitySpec) -> DataFrame:
    """One row per scope (one row if unscoped): rows, distinct non-null
    keys (so COUNT(*) − COUNT(DISTINCT key) is CHECK 2) and rows with a
    NULL business key (CHECK 5). Scope is part of a scoped table's key,
    so the per-scope rows sum to the table's totals (CHECK 4)."""
    keys = list(spec.core_key) + (["scope"] if spec.scoped else [])
    per_key = core.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    per_scope = per_key.groupBy("scope") if spec.scoped else per_key.groupBy()
    null_bk = _any([F.col(k).isNull() for k in spec.core_key])
    agg = per_scope.agg(
        F.sum("n").alias("rows"),
        F.count(F.when(_all([F.col(k).isNotNull() for k in keys]), 1)).alias("keys"),
        F.sum(F.when(null_bk, F.col("n")).otherwise(0)).alias("nulls"),
    )
    return _agg_row(part, agg)


def _orphan_agg(
    part: int,
    f_core: DataFrame,
    d_core: DataFrame,
    fact: EntitySpec,
    dim: EntitySpec,
    fk: str,
) -> DataFrame:
    """CHECK 7: fact rows whose non-null FK has no dim row (J5
    anti-join, OPERATIONS_GUIDE CHECK 7)."""
    f_df = f_core.filter(F.col(fk).isNotNull())
    join_keys = [f_df[fk] == d_core[dim.core_key[0]]]
    if fact.scoped and dim.scoped:
        join_keys.append(f_df["scope"] == d_core["scope"])
    orphans = f_df.join(d_core, _all(join_keys), "left_anti")
    return _agg_row(part, orphans.agg(F.count(F.lit(1)).alias("rows")))


def check_date_anomalies(
    lake: Lakehouse,
    spec: EntitySpec,
    created_col: str,
    updated_col: str,
) -> DataFrame:
    """audit_stg.sql:180-198 — rows where created > updated (impossible
    orderings betray extraction or timezone bugs). Expect 0. One report
    row `(check, table, value, ok)`."""
    core = lake.core_table(spec).read(lake.spark)
    agg = core.filter(F.col(created_col) > F.col(updated_col)).agg(
        F.count("*").alias("value")
    )
    return agg.select(
        F.lit("date_anomaly_created_gt_updated").alias("check"),
        F.lit(spec.name).alias("table"),
        F.col("value").cast("long").alias("value"),
        (F.col("value") == 0).alias("ok"),
    )


def _row(check: str | None, table: str, value, ok: bool) -> dict:
    return {"check": check, "table": table, "value": value, "ok": ok}


def run_audit(
    lake: Lakehouse,
    specs: list[EntitySpec],
    *,
    orphan_edges: list[tuple[EntitySpec, EntitySpec, str]] | None = None,
) -> list[dict]:
    """Every applicable check, evaluated in one action (audit_stg.sql's
    report shape). Returns the report rows
    `{"check", "table", "value", "ok"}`, per spec in the order
    stg_core_count_reconciliation, core_duplicate_keys,
    stg_duplicate_keys, core_null_business_keys, stg_freshness_lag_s,
    scope_count_<scope>… (sorted), then one orphan_fk_<fk> row per edge.
    The pipeline fails on `ok = false` rows, exactly like
    daily_pipeline.ps1 fail-fast (freshness is informational)."""
    edges = list(orphan_edges or [])
    core = {}
    frames: list[DataFrame] = []
    for spec in specs:
        core[spec.name] = lake.core_table(spec).read(lake.spark)
        stg = lake.stg_table(spec).read(lake.spark)
        frames.append(_stg_agg(len(frames), stg, spec))
        frames.append(_core_agg(len(frames), core[spec.name], spec))
    for fact, dim, fk in edges:
        for s in (fact, dim):
            if s.name not in core:
                core[s.name] = lake.core_table(s).read(lake.spark)
        frames.append(
            _orphan_agg(len(frames), core[fact.name], core[dim.name], fact, dim, fk)
        )
    by_part: dict[int, list] = {}
    for r in reduce(DataFrame.unionByName, frames).collect():
        by_part.setdefault(r["part"], []).append(r)

    report: list[dict] = []
    for i, spec in enumerate(specs):
        (st,) = by_part[2 * i]
        scopes = sorted(
            by_part.get(2 * i + 1, []),
            key=lambda r: (r["scope"] is not None, r["scope"] or ""),
        )
        rows = sum(r["rows"] or 0 for r in scopes)
        dups = rows - sum(r["keys"] for r in scopes)
        nulls = sum(r["nulls"] or 0 for r in scopes)
        report += [
            _row("stg_core_count_reconciliation", spec.name, st["keys"], st["keys"] == rows),
            _row("core_duplicate_keys", spec.name, dups, dups == 0),
            _row("stg_duplicate_keys", spec.name, st["dups"], st["dups"] == 0),
            _row("core_null_business_keys", spec.name, nulls, nulls == 0),
            _row("stg_freshness_lag_s", spec.name, st["lag_s"], True),
        ]
        if spec.scoped:
            report += [
                _row(
                    None if r["scope"] is None else f"scope_count_{r['scope']}",
                    spec.name,
                    r["rows"],
                    r["rows"] > 0,
                )
                for r in scopes
            ]
    for j, (fact, _dim, fk) in enumerate(edges):
        (orph,) = by_part[2 * len(specs) + j]
        report.append(_row(f"orphan_fk_{fk}", fact.name, orph["rows"], orph["rows"] == 0))
    return report


def observed_write(
    df: DataFrame,
    table,
    *,
    key_cols: list[str],
    ts_col: str | None = None,
    mode: str = "overwrite",
) -> dict:
    """Write a frame AND collect its audit counters in the SAME job via
    `df.observe` — zero extra scans. The reference audits by re-querying
    the table after load (audit_stg.sql, health_check.ps1); at 100 TB
    that second full scan costs as much as the load. Spark's observed
    metrics piggyback aggregates onto the write job itself:

        n_rows, n_null_keys (any key column null), approx_n_keys
        (HLL++ distinct of the key tuple), max_ts/min_ts freshness.

    Returns the collected metric dict. `table` is a ParquetTable (or
    anything exposing overwrite/merge); mode 'overwrite' or 'merge'.
    The null-key and distinct counters use the same definitions as
    run_audit's core_null_business_keys / core_duplicate_keys checks, so
    a follow-up full audit agrees with the inline numbers.
    """
    from pyspark.sql import Observation

    null_any = _any([F.col(c).isNull() for c in key_cols])
    metrics = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(null_any, 1).otherwise(0)).alias("n_null_keys"),
        F.approx_count_distinct(F.concat_ws("\x1f", *key_cols)).alias("approx_n_keys"),
    ]
    if ts_col is not None:
        metrics.append(F.max(ts_col).alias("max_ts"))
        metrics.append(F.min(ts_col).alias("min_ts"))
    obs = Observation()
    observed = df.observe(obs, *metrics)
    if mode == "overwrite":
        table.overwrite(observed)
    elif mode == "merge":
        table.merge(observed)
    else:
        raise ValueError(f"observed_write mode must be overwrite|merge, got {mode!r}")
    return dict(obs.get)
