"""Daily pipeline orchestration — the engine's `daily_pipeline.ps1`.

The reference chains Bronze→Silver→Gold per source with fail-fast
sequencing and a post-run health check (scripts/daily_pipeline.ps1,
docs/OPERATIONS_GUIDE.md:24-50; transformer DAG dims-before-facts in
normalize_pipedrive.py:924-939 and normalize_zendesk.py:831-839). Here
that is one driver program: ordered entity list per source, one
Lakehouse call per entity, then the audit report (§5) with fail-fast.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .audit import run_audit
from .operators.normalize import Lakehouse
from .specs.base import EntitySpec, get_spec

__all__ = ["ENTITY_ORDER", "ORPHAN_EDGES", "run_daily", "PipelineResult"]

# Dims before facts, parents before children — the reference's
# normalize_all ordering unified across the three sources.
ENTITY_ORDER: dict[str, tuple[str, ...]] = {
    "evo": ("evo_prospects", "evo_members", "evo_sales", "evo_entries"),
    "pipedrive": (
        "pd_pipelines",
        "pd_stages",
        "pd_users",
        "pd_organizations",
        "pd_persons",
        "pd_deals",
        "pd_activities",
    ),
    "zendesk": (
        "zd_organizations",
        "zd_users",
        "zd_groups",
        "zd_ticket_fields",
        "zd_ticket_forms",
        "zd_tickets",
    ),
}

# Referential edges the post-run audit verifies (OPERATIONS_GUIDE CHECK 7).
ORPHAN_EDGES: tuple[tuple[str, str, str], ...] = (
    ("evo_sales", "evo_members", "member_id"),
    ("pd_deals", "pd_persons", "person_id"),
)


@dataclass
class PipelineResult:
    ran: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)
    #: audit report rows {"check", "table", "value", "ok"}; None when
    #: the audit did not run
    report: list[dict] | None = None
    failed_checks: list[dict] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.failed_checks


def _has_bronze(lake: Lakehouse, spec: EntitySpec) -> bool:
    import glob
    import os

    base = os.path.join(lake.root, "bronze", spec.source)
    return bool(
        glob.glob(os.path.join(base, f"entity={spec.entity}"))
        or glob.glob(os.path.join(base, "scope=*", f"entity={spec.entity}"))
    )


def run_daily(
    lake: Lakehouse,
    *,
    sources: tuple[str, ...] = ("evo", "pipedrive", "zendesk"),
    full_refresh: bool = False,
    audit: bool = True,
) -> PipelineResult:
    """Bronze→STG→CORE for every entity of the given sources in DAG
    order, then the audit suite. Entities with no landed bronze data are
    skipped (a source that didn't extract today is not an error — the
    watermark run simply has nothing new). Raises on the first entity
    failure (fail-fast), returns the audit report otherwise."""
    result = PipelineResult()
    specs_run: list[EntitySpec] = []
    for source in sources:
        for name in ENTITY_ORDER[source]:
            spec = get_spec(name)
            if not _has_bronze(lake, spec):
                result.skipped.append(name)
                continue
            lake.run_pipeline(spec, full_refresh=full_refresh)
            specs_run.append(spec)
            result.ran.append(name)

    if audit and specs_run:
        ran_names = {s.name for s in specs_run}
        edges = [
            (get_spec(f), get_spec(d), fk)
            for f, d, fk in ORPHAN_EDGES
            if f in ran_names and d in ran_names
        ]
        result.report = run_audit(lake, specs_run, orphan_edges=edges)
        result.failed_checks = [
            r
            for r in result.report
            if not r["ok"] and not (r["check"] or "").startswith("stg_freshness")
        ]
    return result
