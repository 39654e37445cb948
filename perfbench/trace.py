"""In-memory spans for the traced run.

A span has a name, start, end, parent and the id of the workload run it
belongs to. Spans are recorded around calls into the engine's public entry
points by wrapping them for the duration of a traced run; the engine's own
code is not changed. A traced child process (`traced_cli`) hands its spans
to the harness as JSON records, which the harness adopts into its own
tracer. Spans are written as JSON when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from .probes import StageTotals, union_length, window_jobs, window_stages


@dataclass
class Span:
    id: int
    name: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ()) if c.end > s.start and c.start < s.end)
        out[s.id] = s.duration - covered
    return out


class Tracer:
    """Records nested spans; `overhead_s` accumulates the time spent in
    the tracer's own hooks (probe reads included)."""

    def __init__(self, run_id: str, clock=time.perf_counter):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._clock = clock
        self._stack: list[Span] = []
        self._restore: list = []
        # (Mark, Mark) windows of Spark jobs the tracer's own hooks ran.
        self.excluded: list = []

    @contextmanager
    def span(self, name: str, on_enter=None, on_exit=None, **attrs):
        """`on_enter(span)` and `on_exit(span)` run outside the span's
        interval. Their time counts as tracing overhead, in `overhead_s`
        and in the `overhead_s` attribute of every enclosing span."""
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, self.run_id, parent, 0.0, attrs=dict(attrs))
        self.spans.append(s)
        t0 = self._clock()
        if on_enter:
            on_enter(s)
        s.start = self._clock()
        self._charge(s.start - t0)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()
            if on_exit:
                on_exit(s)
            self._charge(self._clock() - s.end)

    def _charge(self, dt: float) -> None:
        self.overhead_s += dt
        for open_span in self._stack:
            open_span.attrs["overhead_s"] = open_span.attrs.get("overhead_s", 0.0) + dt

    def wrap(self, owner, attr: str, name: str, on_enter=None, on_exit=None) -> None:
        """Replace `owner.attr` with a spanned wrapper until `restore()`.
        Hooks receive (span, args, kwargs)."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            enter = (lambda s: on_enter(s, args, kwargs)) if on_enter else None
            exit_ = (lambda s: on_exit(s, args, kwargs)) if on_exit else None
            with self.span(name, enter, exit_):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, original))

    def restore(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def records(self) -> list[dict]:
        """The spans as JSON-ready dicts, with their self time."""
        selft = self_times(self.spans)
        out = []
        for s in self.spans:
            rec = dict(asdict(s), self_s=selft[s.id])
            if "totals" in s.attrs:
                rec["attrs"] = dict(rec["attrs"], totals=s.attrs["totals"].to_json())
            out.append(rec)
        return out

    def adopt(self, records: list[dict], overhead_s: float) -> None:
        """Append another tracer's `records()` under this run's id, with
        their ids renumbered, and charge its hook time to this tracer.
        Both processes read the same monotonic clock."""
        ids = {}
        for rec in records:
            attrs = dict(rec["attrs"])
            if "totals" in attrs:
                attrs["totals"] = StageTotals.from_json(attrs["totals"])
            s = Span(len(self.spans), rec["name"], self.run_id, ids.get(rec["parent"]),
                     rec["start"], rec["end"], attrs)
            ids[rec["id"]] = s.id
            self.spans.append(s)
        self.overhead_s += overhead_s

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records(), f, indent=1, default=str)


class SparkMarks:
    """Span hooks that give a span the Spark jobs (`jobs`) and stage
    totals (`totals`) of its window, leaving out the jobs that the
    tracer's own probes ran (`probe_jobs`)."""

    def __init__(self, probe, tracer: Tracer):
        self.probe, self.tracer = probe, tracer

    def enter(self, span: Span, *_) -> None:
        span.attrs["mark0"] = self.probe.mark()

    def exit(self, span: Span, *_) -> None:
        a, b = span.attrs.pop("mark0"), self.probe.mark()
        span.attrs["jobs"] = window_jobs(self.tracer.excluded, a, b)
        span.attrs["totals"] = window_stages(self.probe, self.tracer.excluded, a, b)

    @contextmanager
    def probe_jobs(self):
        a = self.probe.mark()
        yield
        self.tracer.excluded.append((a, self.probe.mark()))
