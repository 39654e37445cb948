"""CLI entry point: `python -m data_lake_skyfit_spark --root /lake`.

The operational surface of the reference's scripts/daily_pipeline.ps1 —
run the full medallion pipeline (or a subset of sources/entities) and
print the audit report; exit non-zero if any check fails.
"""

from __future__ import annotations

import argparse
import sys

from .operators.normalize import Lakehouse
from .pipeline import ENTITY_ORDER, run_daily
from .session import get_spark
from .specs.base import get_spec


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="data_lake_skyfit_spark")
    p.add_argument("--root", required=True, help="lakehouse root directory")
    p.add_argument(
        "--sources",
        default="evo,pipedrive,zendesk",
        help="comma-separated subset of sources",
    )
    p.add_argument("--entity", help="run a single entity instead of the DAG")
    p.add_argument("--full-refresh", action="store_true")
    p.add_argument("--no-audit", action="store_true")
    args = p.parse_args(argv)

    spark = get_spark("skyfit-daily-pipeline")
    lake = Lakehouse(spark, args.root)

    if args.entity:
        lake.run_pipeline(get_spec(args.entity), full_refresh=args.full_refresh)
        print(f"OK {args.entity}")
        return 0

    sources = tuple(s for s in args.sources.split(",") if s in ENTITY_ORDER)
    result = run_daily(
        lake,
        sources=sources,
        full_refresh=args.full_refresh,
        audit=not args.no_audit,
    )
    print(f"ran: {', '.join(result.ran) or '-'}")
    print(f"skipped (no bronze): {', '.join(result.skipped) or '-'}")
    if result.report is not None:
        for r in result.report:
            mark = "ok " if r["ok"] else "FAIL"
            print(f"  [{mark}] {r['check']:40s} {r['table']:28s} {r['value']}")
    if not result.ok:
        print(f"{len(result.failed_checks)} checks FAILED", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
