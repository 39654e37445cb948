"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_incremental --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds its inputs from --seed, sets up,
runs the workload's timed region, checks every op's output, and prints
one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (setup_s, wall_s,
cpu_s). With --trace 1 the engine's public entry points are
wrapped in spans (in the pipeline's child processes through
`perfbench.traced_cli`) and the metrics are the per-layer ones; the spans
are written to .perfbench_out/. Everything the run writes stays under the
working directory. Progress and host steal go to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

_T0 = time.perf_counter()
_ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import probes  # noqa: E402
from perfbench.trace import SparkMarks, Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, Region  # noqa: E402

WORK = os.path.join(_ROOT, ".perfbench_work")
OUT = os.path.join(_ROOT, ".perfbench_out")


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _prepare_env() -> None:
    """Fresh scratch space inside the checkout, and an import path the
    PySpark workers inherit (they fail with ModuleNotFoundError otherwise)."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (_ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # No JVM perf-data file in /tmp: the run writes only under the checkout.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    sys.path.insert(0, _ROOT)


class Run:
    """One workload run: timing boundaries, the harness's own session when
    the workload needs one, and, when traced, the spans."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.seed = seed
        self.root = _ROOT
        self.work = WORK
        self.log = log
        self.audit_lines: list[str] = []
        self.tracer = Tracer(f"{workload}-{seed}") if trace else None
        self.setup_s = None
        self.spark = self.probe = self.marks = None
        self.session_start_s = 0.0
        self.child_session_start_s: list[float] = []
        self.region = Region(tracer=self.tracer)

    def start_session(self):
        from data_lake_skyfit_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t
        log(f"session started in {self.session_start_s:.1f}s")
        if self.tracer:
            self.probe = self.region.spark_probe = probes.SparkProbe(self.spark)
            self.marks = SparkMarks(self.probe, self.tracer)
        return self.spark

    def end_setup(self) -> None:
        """Start the timed state: collect set-up garbage, and restart the
        JVM's peak-RSS mark so `jvm.peak_rss_mb` covers the timed region."""
        if self.spark is not None:
            self.spark.sparkContext._jvm.System.gc()
            probes.reset_peak_rss(probes.tree_cpu().jvm_pid)
        self.setup_s = time.perf_counter() - _T0
        log(f"set-up done in {self.setup_s:.1f}s")

    def span(self, name: str, marks: bool = False, **attrs):
        """A span in traced runs; `marks` adds the Spark jobs and stage
        totals of its window. A no-op in untraced runs."""
        if self.tracer is None:
            return contextlib.nullcontext()
        hooks = (self.marks.enter, self.marks.exit) if marks else (None, None)
        return self.tracer.span(name, *hooks, **attrs)

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and with it the PySpark
        daemon and workers) to exit."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        proc = getattr(sc._gateway, "proc", None)
        self.spark.stop()
        sc._gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def end_to_end(run: Run) -> dict:
    r = run.region
    return {
        "setup_s": {"value": run.setup_s, "unit": "s"},
        "wall_s": {"value": r.wall_s, "unit": "s"},
        "cpu_s": {"value": r.cpu_s, "unit": "s"},
    }


def per_layer(run: Run, state: dict) -> dict:
    """Every per-layer metric; layers a workload does not run read 0."""
    t, r = run.tracer, run.region
    spans = t.spans

    def busy(name):
        return sum(s.duration - s.attrs.get("overhead_s", 0.0) for s in t.by_name(name))

    def total(name, key):
        return sum(getattr(s.attrs["totals"], key) for s in t.by_name(name) if "totals" in s.attrs)

    # Records landed by the runs the timed region processed.
    landed = sum(d["records"] for d in state.get("timed_runs", ()))
    scanned = total("load_stg", "input_records")
    merges = t.by_name("merge")
    source_rows = sum(s.attrs["source_rows"] for s in merges)
    written = total("merge", "output_records")
    before_n = sum(s.attrs["files_before_n"] for s in merges)
    # Audit: the report frame is built by run_audit and evaluated twice,
    # at the end of run_daily and when the CLI prints it.
    audit_s = busy("run_audit")
    for cli in t.by_name("cli"):
        daily = [s for s in spans if s.name == "run_daily" and s.parent == cli.id]
        for d in daily:
            built = [s for s in spans if s.name == "run_audit" and s.parent == d.id]
            if built:
                audit_s += (d.end - built[-1].end) + (cli.end - d.end)
    queries = t.by_name("query")
    stream = [s for s in queries if s.attrs.get("layer") == "streaming"]
    m = {
        "session.start_s": (statistics.median(run.child_session_start_s)
                            if run.child_session_start_s else run.session_start_s, "s"),
        "bronze.records_scanned": (scanned, "count"),
        "bronze.bytes_scanned": (total("load_stg", "input_bytes"), "B"),
        "bronze.scan_ratio": (scanned / landed if landed else 0.0, "ratio"),
        "load_stg.busy_s": (busy("load_stg"), "s"),
        "load_stg.rec_per_s": (landed / busy("load_stg") if landed else 0.0, "1/s"),
        "normalize_core.busy_s": (busy("normalize_core"), "s"),
        "normalize_core.rec_per_s": (landed / busy("normalize_core") if landed else 0.0, "1/s"),
        "merge.calls": (len(merges), "count"),
        "merge.busy_s": (busy("merge"), "s"),
        "merge.rows_written": (written, "count"),
        "merge.write_amplification": (written / source_rows if source_rows else 0.0, "ratio"),
        "merge.files_carried_ratio": (
            sum(s.attrs["files_carried"] for s in merges) / before_n if before_n else 0.0, "ratio"),
        "merge.tables_above_prune_floor": (
            len({s.attrs["above_prune_floor"] for s in merges if "above_prune_floor" in s.attrs}),
            "count"),
        "audit.busy_s": (audit_s, "s"),
        "audit.checks": (len(run.audit_lines), "count"),
        "audit.checks_failed": (sum("[FAIL]" in ln for ln in run.audit_lines), "count"),
        "query.build_s": (busy("query.build"), "s"),
        "query.exec_s": (busy("query.exec"), "s"),
        "query.jobs": (sum(s.attrs["jobs"] for s in queries), "count"),
        "python.worker_cpu_s": (r.worker_cpu_s, "s"),
        "jvm.peak_rss_mb": (r.peak_rss_mb, "MB"),
        "streaming.busy_s": (sum(s.duration for s in stream), "s"),
        "streaming.jobs": (sum(s.attrs["jobs"] for s in stream), "count"),
        "spark.jobs": (r.jobs, "count"),
        "spark.stages": (r.stages.stages, "count"),
        "spark.tasks": (r.stages.tasks, "count"),
        "spark.executor_run_s": (r.stages.executor_run_s, "s"),
        "spark.executor_cpu_s": (r.stages.executor_cpu_s, "s"),
        "spark.jvm_gc_s": (r.stages.jvm_gc_s, "s"),
        "spark.shuffle_read_bytes": (r.stages.shuffle_read_bytes, "B"),
        "spark.shuffle_write_bytes": (r.stages.shuffle_write_bytes, "B"),
        "spark.spill_bytes": (r.stages.spill_bytes, "B"),
        "spark.output_bytes": (r.stages.output_bytes, "B"),
        "spark.stage_busy_s": (r.stages.busy_s(), "s"),
        "driver.gap_s": (r.wall_s - t.overhead_s - r.stages.busy_s(), "s"),
        "host.steal_pct": (probes.steal_pct((0, 0), tuple(r.steal)), "%"),
        "trace.wall_s": (r.wall_s, "s"),
        "trace.overhead_s": (t.overhead_s, "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    _prepare_env()
    run = None
    try:
        run = Run(args.workload, args.seed, bool(args.trace))
        state = WORKLOADS[args.workload](run, run.region, args.seconds)
        r = run.region
        metrics = per_layer(run, state) if run.tracer else end_to_end(run)
    finally:
        if run is not None:
            run.stop()
        shutil.rmtree(WORK, ignore_errors=True)
    rss = f", JVM peak RSS {r.peak_rss_mb:.0f} MB" if r.peak_rss_mb else ""
    log(f"{args.workload} seed={args.seed}: {r.attempted} ops, {r.failed} failed, "
        f"wall {r.wall_s:.2f}s cpu {r.cpu_s:.1f}s{rss}, host steal "
        f"{probes.steal_pct((0, 0), tuple(r.steal)):.1f}%")
    if run.tracer:
        os.makedirs(OUT, exist_ok=True)
        run.tracer.dump(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"))
    print(json.dumps({"correct": r.failed == 0, "attempted": r.attempted, "failed": r.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
