"""The benchmark's workloads.

Each workload sets up (untimed), then runs a fixed number of ops in the
timed region, then checks every op's output outside the timer. The timed
region is the union of the op intervals: input landing, checks and result
hashing between ops are not in it.

- `daily_incremental`: a base lake built by one CLI run, then daily runs.
  Each day lands one new bronze run_id (untimed), then one cold
  `python -m data_lake_skyfit_spark` process handles it, as cron runs it:
  JVM start, per-job overhead, read-modify-write MERGE, the audit over the
  whole lake and `load_stg` re-reading the whole bronze history.
- `query_mix`: registry queries over seeded tables in one session, after
  bench.py's warm-up and one untimed pass, as a long-lived
  session runs them. Read-only: plan build, shuffle, Arrow Python workers and stream
  micro-batches; no bronze, no MERGE.
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

from . import probes
from .bronze import Bronze
from .trace import Tracer

# The pipeline workload runs the EVO source: its four entities carry the
# reference's volume (entries >> sales ~ members > prospects), a
# partitioned CORE table, derived keys and four child tables. All 17
# entities do not fit the run budget: one cold CLI run over all of them
# costs ~70 s on 4 vCPUs before any data.
PIPELINE_SOURCES = ("evo",)
BASE_RECORDS = 10_000
DAY_NOMINAL_S = 45.0
# (registry name, layer): a driver-side job loop, a Python-worker media
# kernel and a streaming query. The SQL and JVM-side LLM queries of the
# wider mix do not fit the run budget with the untimed pass.
QUERIES = (
    ("graph_pagerank_centrality", "job_loop"),
    ("multimodal_decode_h264", "python_worker"),
    ("stateful_user_sessions", "streaming"),
)
QUERY_SF = 0.01
PASS_NOMINAL_S = 15.0


def ops_for(seconds: float, nominal_s: float) -> int:
    """Ops in the timed region. Derived from --seconds alone, so every run
    with the same settings does the same work whatever the host's speed."""
    return max(1, round(seconds / nominal_s))


@dataclass
class Region:
    """Timed-region accumulator: wall and process-tree CPU summed over op
    intervals, host steal over the same intervals, and Spark totals over
    the op windows when a probe is attached."""

    spark_probe: probes.SparkProbe | None = None
    tracer: Tracer | None = None
    wall_s: float = 0.0
    cpu_s: float = 0.0
    worker_cpu_s: float = 0.0
    steal: list = field(default_factory=lambda: [0, 0])
    jobs: int = 0
    stages: probes.StageTotals = field(default_factory=probes.StageTotals)
    attempted: int = 0
    failed: int = 0
    peak_rss_mb: float = 0.0

    @contextlib.contextmanager
    def op(self):
        os.sync()
        mark0 = self.spark_probe.mark() if self.spark_probe else None
        cpu0, host0 = probes.tree_cpu(), probes.host_cpu_ticks()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall_s += time.perf_counter() - t0
            cpu1, host1 = probes.tree_cpu(), probes.host_cpu_ticks()
            self.cpu_s += cpu1.total_s - cpu0.total_s
            self.worker_cpu_s += cpu1.python_workers_s - cpu0.python_workers_s
            self.steal[0] += host1[0] - host0[0]
            self.steal[1] += host1[1] - host0[1]
            if cpu1.jvm_pid is not None:
                self.peak_rss_mb = max(self.peak_rss_mb, probes.peak_rss_mb(cpu1.jvm_pid))
            self.attempted += 1
            if mark0 is not None:
                mark1 = self.spark_probe.mark()
                excluded = self.tracer.excluded if self.tracer else ()
                self.jobs += probes.window_jobs(excluded, mark0, mark1)
                self.stages.add(probes.window_stages(self.spark_probe, excluded, mark0, mark1))


# -- daily_incremental ----------------------------------------------------


def _cli(ctx, root: str, *extra: str, trace_out: str | None = None) -> tuple[int, str]:
    """One cold run of `python -m data_lake_skyfit_spark` in a child
    process (`perfbench.traced_cli` when `trace_out` is given). Waits for
    every process it started, the JVM included, so their CPU time is
    reaped into this process's. Returns the exit code and stdout."""
    mod = ["perfbench.traced_cli", trace_out] if trace_out else ["data_lake_skyfit_spark"]
    cmd = [sys.executable, "-m", *mod, "--root", root,
           "--sources", ",".join(PIPELINE_SOURCES), *extra]
    try:
        p = subprocess.run(cmd, cwd=ctx.root, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=150)
    finally:
        probes.reap_descendants()
    if p.returncode:
        ctx.log(f"CLI exit {p.returncode}: {p.stderr[-2000:]}")
    return p.returncode, p.stdout


def check_lake(root: str, expected: dict) -> list[str]:
    """CORE row count per table equals the generator's distinct-key count,
    and no CORE row has a null business key. Returns the failures."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from data_lake_skyfit_spark.specs.base import get_spec

    keys = {}
    for name in _pipeline_tables():
        spec = get_spec(name)
        keys[name] = spec.core_key
        for child in spec.children:
            keys[child.name] = child.key
    problems = []
    for table, want in expected["tables"].items():
        # Hive partitioning reads Spark's null partition value as null.
        t = ds.dataset(os.path.join(root, "core", table), format="parquet",
                       partitioning="hive").to_table(columns=list(keys[table]))
        nulls = sum(pc.sum(pc.is_null(t[k])).as_py() or 0 for k in keys[table])
        if t.num_rows != want or nulls:
            problems.append(f"{table}: {t.num_rows} rows, {nulls} null keys, want {want}")
    return problems


def _pipeline_tables() -> list[str]:
    from data_lake_skyfit_spark.pipeline import ENTITY_ORDER

    return [n for s in PIPELINE_SOURCES for n in ENTITY_ORDER[s]]


def _pipeline_op(ctx, region: Region, bronze: Bronze, lake: str) -> None:
    trace_out = os.path.join(ctx.work, f"day{region.attempted}.json") if ctx.tracer else None
    rc, out = -1, ""
    try:
        with region.op():
            rc, out = _cli(ctx, lake, trace_out=trace_out)
    except Exception as e:  # an op that raises is a failed op
        ctx.log(f"op {region.attempted} raised: {e!r}")
    problems = [] if rc == 0 else [f"CLI exit {rc}"]
    if rc == 0:
        problems += check_lake(lake, bronze.expected())
    if problems:
        region.failed += 1
        ctx.log(f"op {region.attempted} failed: {problems}")
    ctx.audit_lines += [ln for ln in out.splitlines() if ln.startswith("  [")]
    if trace_out and os.path.exists(trace_out):
        with open(trace_out) as f:
            child = json.load(f)
        ctx.tracer.adopt(child["spans"], child["overhead_s"])
        ctx.child_session_start_s.append(child["session_start_s"])
        region.jobs += child["jobs"]
        region.stages.add(probes.StageTotals.from_json(child["stages"]))
        region.worker_cpu_s += child["worker_cpu_s"]
        region.peak_rss_mb = max(region.peak_rss_mb, child["peak_rss_mb"])


def daily_incremental(ctx, region: Region, seconds: float) -> dict:
    probes.become_subreaper()
    lake = os.path.join(ctx.work, "lake")
    bronze = Bronze(lake, ctx.seed, BASE_RECORDS, sources=PIPELINE_SOURCES)
    bronze.land_base()
    ctx.log("bronze landed")
    rc, _ = _cli(ctx, lake, "--no-audit")
    if rc != 0:
        raise RuntimeError(f"base lake build exited {rc}")
    ctx.log("base lake built")
    ctx.end_setup()
    for _ in range(ops_for(seconds, DAY_NOMINAL_S)):
        bronze.land_day()
        _pipeline_op(ctx, region, bronze, lake)
    return {"timed_runs": bronze.landed[1:]}


# -- query_mix ----------------------------------------------------------------


def _unpersist(spark) -> None:
    # bench.py frees localCheckpoint blocks after every query.
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def query_mix(ctx, region: Region, seconds: float) -> dict:
    from data_lake_skyfit_spark.queries import registry

    from .tables import write_tables

    spark, data = ctx.start_session(), os.path.join(ctx.work, "tables")
    write_tables(data, seed=ctx.seed, sf=QUERY_SF)
    ctx.log("tables written")
    reg = registry()
    # bench.py's warm-up of the Arrow Python-worker path and the
    # localCheckpoint machinery (its JVM/IO warm-up query reads a table
    # the mix does not; the untimed pass warms that path), then the
    # untimed pass.
    spark.range(32).mapInPandas(lambda it: it, "id long").collect()
    spark.range(32).localCheckpoint(eager=False).count()
    for name, _ in QUERIES:
        reg[name].fn(spark, data).collect()
        _unpersist(spark)
    ctx.end_setup()

    results = []
    for _ in range(ops_for(seconds, PASS_NOMINAL_S)):
        for name, layer in QUERIES:
            rows, cols = None, None
            try:
                with region.op(), ctx.span("query", marks=True, query=name, layer=layer):
                    with ctx.span("query.build"):
                        df = reg[name].fn(spark, data)
                    with ctx.span("query.exec"):
                        rows, cols = df.collect(), df.columns
            except Exception as e:  # an op that raises is a failed op
                ctx.log(f"{name} raised: {e!r}")
            results.append((name, rows, cols))
            _unpersist(spark)
    _check_queries(ctx, region, reg, data, results)
    return {}


def _check_queries(ctx, region: Region, reg, data: str, results) -> None:
    """Each result against its DuckDB oracle: row count + value hash."""
    import duckdb

    from .oracle import digest, duckdb_digest
    from .tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    want = {}
    for name, rows, cols in results:
        if rows is None:
            region.failed += 1
            continue
        if name not in want:
            want[name] = duckdb_digest(con, reg[name].oracle)
        got = digest(cols, rows)
        if got != want[name]:
            region.failed += 1
            ctx.log(f"{name}: {got[1]} rows hash {got[2][:12]} != oracle {want[name][1]} rows "
                    f"hash {want[name][2][:12]}")
    con.close()


WORKLOADS = {"daily_incremental": daily_incremental, "query_mix": query_mix}
