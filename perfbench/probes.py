"""Process and engine probes: CPU and memory from /proc, host steal from
/proc/stat, and job/stage totals from Spark's status store over py4j.

Nothing here changes what the engine does; the engine-side reads happen
only at the boundaries the caller chooses.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import time
from dataclasses import asdict, dataclass, fields

_TICK = os.sysconf("SC_CLK_TCK")


def _processes() -> dict[int, tuple[int, float, str]]:
    """pid -> (ppid, CPU seconds incl. reaped children, cmdline)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:  # exited while listing
            continue
        rest = stat[stat.rindex(")") + 2:].split()
        ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
        out[int(name)] = (int(rest[1]), ticks / _TICK, cmd)
    return out


def _subtree(procs, roots) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    seen, stack = set(), list(roots)
    while stack:
        pid = stack.pop()
        if pid in procs and pid not in seen:
            seen.add(pid)
            stack.extend(children.get(pid, ()))
    return seen


@dataclass
class TreeCpu:
    """CPU seconds of this process and every descendant: the JVM, the
    PySpark daemon and its workers. Each process counts its own time plus
    that of children it has reaped, so workers that exited still count."""

    total_s: float
    python_workers_s: float
    jvm_pid: int | None


def tree_cpu() -> TreeCpu:
    procs = _processes()
    tree = _subtree(procs, [os.getpid()])
    daemons = [p for p in tree if "pyspark.daemon" in procs[p][2] or "pyspark.worker" in procs[p][2]]
    workers = _subtree(procs, daemons)
    jvm = next((p for p in sorted(tree) if procs[p][2].split(" ", 1)[0].endswith("java")), None)
    return TreeCpu(sum(procs[p][1] for p in tree), sum(procs[p][1] for p in workers), jvm)


def peak_rss_mb(pid: int) -> float:
    """High-water resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_peak_rss(pid: int) -> None:
    """Restart a process's VmHWM from its current resident set."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def become_subreaper() -> None:
    """Adopt orphaned descendants. The CLI's JVM outlives its Python
    process by the JVM's shutdown hooks; as its subreaper this process can
    wait for it, and its CPU time then counts in this process's reaped
    children time, which `tree_cpu` reads."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_descendants(timeout_s: float = 60.0) -> None:
    """Wait until every child (adopted orphans included) has exited;
    kill whatever is still running after `timeout_s`."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            me = os.getpid()
            for p in _subtree(_processes(), [me]) - {me}:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.01)


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


# -- Spark status store -----------------------------------------------------


@dataclass
class StageTotals:
    """Sums over the stages of an id window. `stages` counts executed
    (not skipped) stages; `busy_intervals` are their [submit, complete]
    times in ms for the union in `busy_s`."""

    stages: int = 0
    unread: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    output_records: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def __post_init__(self):
        self.busy_intervals: list[tuple[float, float]] = []

    def add(self, other: "StageTotals") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        self.busy_intervals += other.busy_intervals

    def busy_s(self) -> float:
        return union_length(self.busy_intervals) / 1000.0

    def to_json(self) -> dict:
        return dict(asdict(self), busy_intervals=self.busy_intervals)

    @classmethod
    def from_json(cls, d: dict) -> "StageTotals":
        tot = cls(**{k: v for k, v in d.items() if k != "busy_intervals"})
        tot.busy_intervals = [tuple(x) for x in d["busy_intervals"]]
        return tot


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass(frozen=True)
class Mark:
    """Next job id and next stage id at one instant. Both are handed out
    sequentially by the DAG scheduler, so the difference of two marks
    counts every job and stage in between, however many the status store
    still retains (it keeps only the last 1000)."""

    job: int
    stage: int


def jobs_between(a: Mark, b: Mark) -> int:
    return b.job - a.job


def window_jobs(excluded, a: Mark, b: Mark) -> int:
    """Jobs in [a, b) minus those in the `excluded` (Mark, Mark) windows
    that fall inside it (jobs a tracer's own probes ran)."""
    return jobs_between(a, b) - sum(jobs_between(x, y) for x, y in excluded
                                    if x.job >= a.job and y.job <= b.job)


def window_stages(probe: "SparkProbe", excluded, a: Mark, b: Mark) -> StageTotals:
    """Stage totals over [a, b), skipping the stage ranges of `excluded`."""
    tot, cur = StageTotals(), a
    for x, y in sorted(excluded, key=lambda w: w[0].stage):
        if x.stage >= cur.stage and y.stage <= b.stage:
            tot.add(probe.stages(cur, x))
            cur = y
    tot.add(probe.stages(cur, b))
    return tot


class SparkProbe:
    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._empty = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)

    def mark(self) -> Mark:
        """Wait for the listener bus to apply pending events, then read the
        scheduler's next ids."""
        self._sc.listenerBus().waitUntilEmpty(30_000)
        dag = self._sc.dagScheduler()
        return Mark(int(dag.nextJobId()), int(dag.nextStageId()))

    def stages(self, a: Mark, b: Mark) -> StageTotals:
        """Totals over stage ids [a.stage, b.stage). Stages the store has
        already evicted are counted in `unread`."""
        tot = StageTotals()
        from py4j.protocol import Py4JJavaError

        store = self._sc.statusStore()
        jvm = self._spark._jvm
        for sid in range(a.stage, b.stage):
            try:
                attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, self._empty)
            except Py4JJavaError:  # evicted from the store
                tot.unread += 1
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                tot.stages += 1
                tot.tasks += s.numCompleteTasks() + s.numFailedTasks()
                tot.executor_run_s += s.executorRunTime() / 1e3
                tot.executor_cpu_s += s.executorCpuTime() / 1e9
                tot.jvm_gc_s += s.jvmGcTime() / 1e3
                tot.input_bytes += s.inputBytes()
                tot.input_records += s.inputRecords()
                tot.output_bytes += s.outputBytes()
                tot.output_records += s.outputRecords()
                tot.shuffle_read_bytes += s.shuffleReadBytes()
                tot.shuffle_write_bytes += s.shuffleWriteBytes()
                tot.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
                sub, done = s.submissionTime(), s.completionTime()
                if sub.isDefined() and done.isDefined():
                    tot.busy_intervals.append((sub.get().getTime(), done.get().getTime()))
        return tot
