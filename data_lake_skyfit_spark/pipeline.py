"""Daily pipeline orchestration — the engine's `daily_pipeline.ps1`.

The reference chains Bronze→Silver→Gold per source with fail-fast
sequencing and a post-run health check (scripts/daily_pipeline.ps1,
docs/OPERATIONS_GUIDE.md:24-50; transformer DAG dims-before-facts in
normalize_pipedrive.py:924-939 and normalize_zendesk.py:831-839). Here
that is one driver program: one Lakehouse call per entity, then the
audit report (§5) with fail-fast.

No entity reads another entity's table during its bronze→STG→CORE
run, so the entities of every requested source run concurrently, each
in its own thread and Spark job group; the first failure cancels the
other groups and is re-raised. The dims-before-facts DAG order is kept
only for `PipelineResult.ran`: the audit's orphan checks, the one step
that reads across entities, run once after every entity.
"""

from __future__ import annotations

import uuid
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target

from .audit import run_audit
from .operators.normalize import Lakehouse
from .sources.bronze import run_dirs
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


def _run_concurrently(lake: Lakehouse, specs: list[EntitySpec], full_refresh: bool) -> None:
    """`run_pipeline` for every spec on min(#specs, defaultParallelism)
    threads, one job group each. On the first failure, cancel the
    entities not started and the other groups' jobs, wait for the
    running threads, and re-raise that failure."""
    sc = lake.spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    groups = [f"run_daily-{tag}-{spec.name}" for spec in specs]

    @inheritable_thread_target(lake.spark)
    def run_one(spec: EntitySpec, group: str) -> None:
        sc.setJobGroup(group, spec.name)
        lake.run_pipeline(spec, full_refresh=full_refresh)

    with ThreadPoolExecutor(min(len(specs), sc.defaultParallelism)) as pool:
        futures = [pool.submit(run_one, *job) for job in zip(specs, groups)]
        done, _ = wait(futures, return_when=FIRST_EXCEPTION)
        failed = next((f for f in futures if f in done and f.exception()), None)
        if failed is not None:
            for f, group in zip(futures, groups):
                if f is not failed and not f.cancel():
                    sc.cancelJobGroup(group)
            raise failed.exception()  # leaving the pool waits for running threads


def run_daily(
    lake: Lakehouse,
    *,
    sources: tuple[str, ...] = ("evo", "pipedrive", "zendesk"),
    full_refresh: bool = False,
    audit: bool = True,
) -> PipelineResult:
    """Bronze→STG→CORE for every entity of the given sources, run
    concurrently, then the audit suite. Entities with no landed bronze
    data are skipped (a source that didn't extract today is not an
    error — the watermark run simply has nothing new). Raises the first
    entity failure (fail-fast, no audit), returns the audit report
    otherwise."""
    result = PipelineResult()
    specs_run: list[EntitySpec] = []
    for source in sources:
        for name in ENTITY_ORDER[source]:
            spec = get_spec(name)
            if run_dirs(lake.spark, lake.root, spec.source, spec.entity):
                specs_run.append(spec)
            else:
                result.skipped.append(name)
    if specs_run:
        _run_concurrently(lake, specs_run, full_refresh)
    result.ran = [s.name for s in specs_run]

    if audit and specs_run:
        ran_names = set(result.ran)
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
