"""`python -m data_lake_skyfit_spark` with spans around its entry points.

    python3 -m perfbench.traced_cli OUT.json --root LAKE --sources evo

Runs the CLI's `main` in a fresh process, as the plain CLI does, with
`run_daily`, `run_audit`, `Lakehouse.load_stg`/`normalize_core` and
`ParquetTable.merge`/`overwrite` wrapped in spans. Writes the spans, the
Spark totals of the run, the PySpark workers' CPU time and the JVM's peak
resident set to OUT.json, and exits with the CLI's code.
"""

from __future__ import annotations

import json
import os
import sys
import time

from perfbench import probes
from perfbench.trace import SparkMarks, Tracer


def _inodes(path: str) -> dict[int, str]:
    out = {}
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                full = os.path.join(dp, f)
                out[os.stat(full).st_ino] = full
    return out


class _MergeHooks:
    """Span hooks of `ParquetTable.merge`/`overwrite`: source rows (counted
    by an extra job, excluded from every Spark total), data files before
    the call and the ones whose inode survives it, and whether the table
    is above the file-pruned merge's size floor."""

    def __init__(self, marks: SparkMarks):
        self.marks = marks

    def enter(self, span, args, kwargs):
        table, source = args[0], args[1]
        with self.marks.probe_jobs():
            span.attrs["source_rows"] = source.count()
        before = _inodes(table.path)
        span.attrs["files_before"] = before
        data_bytes = sum(os.path.getsize(f) for f in before.values())
        if not table.partition_by and data_bytes >= table.prune_min_bytes:
            span.attrs["above_prune_floor"] = os.path.basename(table.path)
        self.marks.enter(span)

    def exit(self, span, args, kwargs):
        self.marks.exit(span)
        before, after = span.attrs.pop("files_before"), _inodes(args[0].path)
        span.attrs["files_before_n"] = len(before)
        span.attrs["files_carried"] = len(set(before) & set(after))


def main(argv: list[str]) -> int:
    out, cli_argv = argv[0], argv[1:]
    from data_lake_skyfit_spark import __main__ as cli, pipeline
    from data_lake_skyfit_spark.operators.merge import ParquetTable
    from data_lake_skyfit_spark.operators.normalize import Lakehouse
    from data_lake_skyfit_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("skyfit-daily-pipeline")  # the CLI's getOrCreate reuses it
    session_start_s = time.perf_counter() - t
    probe = probes.SparkProbe(spark)
    tracer = Tracer(os.path.basename(out))
    marks = SparkMarks(probe, tracer)
    merge = _MergeHooks(marks)
    tracer.wrap(cli, "run_daily", "run_daily")
    tracer.wrap(pipeline, "run_audit", "run_audit")
    tracer.wrap(Lakehouse, "load_stg", "load_stg", marks.enter, marks.exit)
    tracer.wrap(Lakehouse, "normalize_core", "normalize_core")
    tracer.wrap(ParquetTable, "merge", "merge", merge.enter, merge.exit)
    tracer.wrap(ParquetTable, "overwrite", "merge", merge.enter, merge.exit)

    mark0 = probe.mark()
    with tracer.span("cli"):
        rc = cli.main(cli_argv)
    mark1 = probe.mark()
    tracer.restore()
    tree = probes.tree_cpu()
    result = {
        "session_start_s": session_start_s,
        "overhead_s": tracer.overhead_s,
        "jobs": probes.window_jobs(tracer.excluded, mark0, mark1),
        "stages": probes.window_stages(probe, tracer.excluded, mark0, mark1).to_json(),
        "worker_cpu_s": tree.python_workers_s,
        "peak_rss_mb": probes.peak_rss_mb(tree.jvm_pid),
        "spans": tracer.records(),
    }
    with open(out, "w") as f:
        json.dump(result, f, default=str)
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
