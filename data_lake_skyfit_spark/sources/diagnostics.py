"""Extraction diagnostics: where did ingestion stop, and what's missing.

Spark-first analog of the reference's bronze-layer analyzer
(src/evo/utils/analyze_extraction.py: per-period file counts/sizes, gap
detection, resume recommendation). Everything here reads FILESYSTEM
METADATA only — directory listings via the Hadoop FS API (works on
HDFS/S3/ADLS) — and never opens a data file, exactly like the
reference's prefix listing. The per-period summary is one row per
(ingestion_date, run_id): thousands of rows for years of daily runs,
so driver-side assembly is not a scale concern.
"""

from __future__ import annotations

import re
from datetime import date, timedelta
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession

from .bronze import bronze_path, run_dirs

__all__ = ["extraction_report", "extraction_gaps"]

_ISO_DAY = re.compile(r"\d{4}-\d{2}-\d{2}")


def _run_dirs(spark: SparkSession, root: str, source: str, entity: str):
    """Yield (ingestion_date, run_id, FileSystem, run dir Path) for every
    run partition of the entity (`bronze.run_dirs`)."""
    base = bronze_path(root, source)
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(base).getFileSystem(spark._jsc.hadoopConfiguration())
    for rel in run_dirs(spark, root, source, entity):
        day, run = (unquote(n.split("=", 1)[1]) for n in rel.split("/")[-2:])
        yield day, run, fs, hpath(f"{base}/{rel}")


def extraction_report(
    spark: SparkSession, root: str, source: str, entity: str
) -> DataFrame:
    """Per-(ingestion_date, run_id) extraction stats from directory
    metadata: part-file count and total bytes. Zero data files opened —
    the same listing-only contract as `latest_run_id`."""
    rows = []
    for ingestion_date, run_id, fs, run_dir in _run_dirs(spark, root, source, entity) or []:
        n_files = 0
        total_bytes = 0
        for f in fs.listStatus(run_dir):
            if f.isFile() and not f.getPath().getName().startswith("_"):
                n_files += 1
                total_bytes += f.getLen()
        rows.append((ingestion_date, run_id, n_files, total_bytes))
    return spark.createDataFrame(
        rows, "ingestion_date string, run_id string, n_files int, total_bytes long"
    )


def extraction_gaps(
    spark: SparkSession, root: str, source: str, entity: str
) -> dict:
    """Find missing ingestion dates between the first and last extracted
    period and recommend where to resume — the reference analyzer's
    gap report (analyze_extraction.py:168-221) as a structured result:

        {"first": .., "last": .., "n_periods": int,
         "missing": [date strings], "resume_from": date string | None}

    `resume_from` is the earliest missing date if any, else the day
    after the last extracted period. Partition dirs whose value is not
    an ISO date (a NULL ingestion_date lands as
    `__HIVE_DEFAULT_PARTITION__`, dirty writers can produce anything)
    are reported under `non_date_periods` instead of crashing the gap
    scan — a dirty period is exactly what this report exists to surface.
    """
    raw = {d for d, _, _, _ in _run_dirs(spark, root, source, entity) or []}
    seen, non_date = [], []
    for d in sorted(raw):
        # Strictly dashed YYYY-MM-DD only: fromisoformat alone would
        # also accept compact forms like '20240102' (Python 3.11+),
        # which then corrupt the string-keyed range/membership math.
        ok = False
        if _ISO_DAY.fullmatch(d):
            try:
                date.fromisoformat(d)
                ok = True
            except ValueError:
                pass  # shape matched but not a real date ('2024-13-99')
        (seen if ok else non_date).append(d)
    if not seen:
        return {
            "first": None,
            "last": None,
            "n_periods": 0,
            "missing": [],
            "resume_from": None,
            "non_date_periods": non_date,
        }
    first, last = date.fromisoformat(seen[0]), date.fromisoformat(seen[-1])
    have = set(seen)
    missing = []
    d = first
    while d <= last:
        if d.isoformat() not in have:
            missing.append(d.isoformat())
        d += timedelta(days=1)
    resume = missing[0] if missing else (last + timedelta(days=1)).isoformat()
    return {
        "first": seen[0],
        "last": seen[-1],
        "n_periods": len(seen),
        "missing": missing,
        "resume_from": resume,
        "non_date_periods": non_date,
    }
