"""SparkSession factory for the engine.

Defaults are tuned for the test harness (local[N], single JVM) but every
setting is the one you'd want on a real cluster too:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  so plans survive data-scale changes without manual retuning.
- UTC session timezone — the reference stores all timestamps as
  TIMESTAMPTZ-in-UTC (reference: docs/evo/EVO_DATA_MODEL.md:297-300);
  pinning UTC also makes the DuckDB oracle comparable.
- Arrow enabled for any pandas interchange (vectorized UDF path).
- shuffle.partitions sized to cores locally; on a real cluster AQE
  coalescing makes the static number much less load-bearing.
- driver memory (the whole heap in local mode) sized to the host: 60 %
  of physical memory, at most 16g; `SPARK_GRAFT_DRIVER_MEM` overrides.
- C1-only JIT (`-XX:TieredStopAtLevel=1`) for an incremental daily run
  of the CLI, and tiered compilation for every other session. A cold
  incremental day is a short process whose JVM would otherwise spend
  about 40 % of its CPU in the C2 compiler threads (28.7 of 70.2 CPU-s
  on a 4-core host) optimising code it runs only briefly; C1 alone
  halves the day's CPU. A first build or full refresh runs long enough
  for C2 to pay off: on a cold first build C1-only won at 5e4 EVO
  records but lost at 2e5 (31.5 → 39.5 s wall), so those stay tiered,
  as do warm sessions (tests, `bench.py`, long query loops). The flag
  is passed as `spark.driver.defaultJavaOptions`, which the launcher
  puts before `spark.driver.extraJavaOptions`: a user's
  `spark.driver.extraJavaOptions=-XX:TieredStopAtLevel=4` turns full
  tiered compilation back on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 4


def _driver_memory() -> str:
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "16g"  # no sysconf on this platform
    return f"{min(16 * 1024, int(phys * 0.6) // (1024 * 1024))}m"


def _jit_options(incremental_lake: str | None) -> str | None:
    """Driver JVM JIT flags: C1 only when `incremental_lake` (the root of
    the lake a daily run updates) already holds STG tables, else none.
    Decided from the filesystem alone, before the JVM starts."""
    if incremental_lake is None:
        return None
    stg = os.path.join(incremental_lake, "stg")
    if os.path.isdir(stg) and os.listdir(stg):
        return "-XX:TieredStopAtLevel=1"
    return None


def get_spark(
    app_name: str = "data_lake_skyfit_spark",
    *,
    shuffle_partitions: int | None = None,
    incremental_lake: str | None = None,
) -> SparkSession:
    """Return (creating if needed) the engine's SparkSession.
    `incremental_lake` is the lake root of a daily run that is not a full
    refresh; a new JVM then compiles with C1 only if the lake already
    holds STG tables (`_jit_options`)."""
    cpus = _cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ContextCleaner frees broadcast blocks / shuffle files only when
        # a driver GC collects their references; a large heap can run a
        # whole multi-query session without one, piling broadcasts into
        # executor storage memory (r4e: 2-3x slowdowns late in long query
        # loops). Default is 30min — far longer than an interactive run.
        .config("spark.cleaner.periodicGC.interval", "1min")
        # Partition-overwrite used by the parquet-native MERGE fallback
        # (no Delta jars in this image): only touched partitions rewrite.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    jit = _jit_options(incremental_lake)
    if jit is not None:
        builder = builder.config("spark.driver.defaultJavaOptions", jit)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
