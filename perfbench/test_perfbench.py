"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os

import pytest

from perfbench import probes
from perfbench.bronze import ENTITIES, SCOPES, Bronze, _entity_key
from perfbench.trace import Span, Tracer, self_times


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dp, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            path = os.path.join(dp, f)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _land(root, seed, days=2):
    b = Bronze(str(root), seed, 3000)
    b.land_base()
    for _ in range(days):
        b.land_day()
    return b


def test_same_seed_gives_identical_bronze_and_other_seed_differs(tmp_path):
    a = _land(tmp_path / "a", 5)
    _land(tmp_path / "b", 5)
    _land(tmp_path / "c", 6)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert len({(e[1], e[2]) for e in ENTITIES}) == 17
    assert a.landed[0]["records"] > 3000 and all(d["records"] > 0 for d in a.landed[1:])


def _read_runs(root: str, source: str, entity: str, scope: str | None):
    base = os.path.join(root, "bronze", source, *([f"scope={scope}"] if scope else []),
                        f"entity={entity}")
    for dp, _, fs in sorted(os.walk(base)):
        for f in sorted(fs):
            with gzip.open(os.path.join(dp, f), "rt") as fh:
                yield [json.loads(line) for line in fh]


def test_expected_counts_match_a_direct_count_of_the_bronze(tmp_path):
    b = _land(tmp_path, 9)
    exp = b.expected()
    nulls = {}
    children = {"evo_member_memberships": set(), "evo_member_contacts": set(),
                "evo_sale_items": set(), "evo_receivables": set()}
    for name, source, entity, scoped, _ in ENTITIES:
        keys = set()
        for scope in (SCOPES if scoped else (None,)):
            for run in _read_runs(str(tmp_path), source, entity, scope):
                for rec in run:
                    k = _entity_key(name, rec)
                    if k is None:
                        nulls[name] = nulls.get(name, 0) + 1
                        continue
                    keys.add((k, scope))
                    for arr, child, cid in (("memberships", "evo_member_memberships", "idMemberMembership"),
                                            ("contacts", "evo_member_contacts", "idPhone"),
                                            ("saleItens", "evo_sale_items", "idSaleItem"),
                                            ("receivables", "evo_receivables", "idReceivable")):
                        for x in rec.get(arr) or ():
                            children[child].add((k, x[cid]))
        assert exp["tables"][name] == len(keys), name
    for child, keys in children.items():
        assert exp["tables"][child] == len(keys), child
    assert exp["null_key_drops"] == nulls
    assert exp["tables"]["evo_entries"] > 1500  # hashed fields: keys grow with n


def test_self_time_subtracts_the_union_of_nested_children():
    spans = [Span(0, "op", "r", None, 0.0, 10.0), Span(1, "a", "r", 0, 1.0, 4.0),
             Span(2, "b", "r", 0, 3.0, 6.0), Span(3, "c", "r", 1, 2.0, 3.0),
             Span(4, "d", "r", 0, 9.0, 12.0)]  # d overruns its parent: clipped
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 9.0))
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0) and st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)


def test_tracer_records_parents_and_charges_hook_time_to_open_spans():
    now = [0.0]

    def clock():
        return now[0]

    def slow_hook(span):
        now[0] += 2.0

    t = Tracer("run-1", clock=clock)
    with t.span("outer"):
        now[0] += 1.0
        with t.span("inner", on_enter=slow_hook):
            now[0] += 3.0
    outer, inner = t.spans
    assert inner.parent == outer.id and outer.parent is None
    assert {s.run_id for s in t.spans} == {"run-1"}
    assert inner.duration == 3.0 and outer.duration == 6.0
    assert outer.attrs["overhead_s"] == 2.0 and t.overhead_s == 2.0


def test_adopted_child_spans_keep_their_tree_and_totals():
    child = Tracer("child", clock=iter([0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0]).__next__)
    with child.span("cli"):
        with child.span("load_stg") as s:
            s.attrs["totals"] = probes.StageTotals(stages=3, tasks=12)
            s.attrs["totals"].busy_intervals = [(0.0, 500.0)]
    child.overhead_s = 0.25
    parent = Tracer("run-1")
    with parent.span("setup"):
        pass
    parent.adopt(json.loads(json.dumps(child.records())), child.overhead_s)
    cli, load = parent.by_name("cli")[0], parent.by_name("load_stg")[0]
    assert cli.parent is None and load.parent == cli.id != 0
    assert {s.run_id for s in parent.spans} == {"run-1"}
    assert load.attrs["totals"].tasks == 12 and load.attrs["totals"].busy_s() == 0.5
    assert parent.overhead_s == pytest.approx(0.25, abs=1e-3)


class _FakeProbe:
    """Stage store that, like Spark's, keeps only the newest `keep` stages."""

    def __init__(self, n_stages: int, keep: int = 1000):
        self.n, self.keep = n_stages, keep

    def stages(self, a, b):
        tot = probes.StageTotals()
        for sid in range(a.stage, b.stage):
            if sid < self.n - self.keep:
                tot.unread += 1
            else:
                tot.stages += 1
                tot.tasks += 2
        return tot


def test_job_window_counts_past_the_store_retention():
    a, b = probes.Mark(job=7, stage=10), probes.Mark(job=1507, stage=2510)
    assert probes.jobs_between(a, b) == 1500
    excluded = [(probes.Mark(100, 200), probes.Mark(103, 206))]
    assert probes.window_jobs(excluded, a, b) == 1497
    tot = probes.window_stages(_FakeProbe(2510), excluded, a, b)
    assert tot.stages + tot.unread == 2500 - 6
    assert tot.stages == 1000 and tot.tasks == 2000


def test_union_length_merges_overlaps():
    assert probes.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert probes.union_length([]) == 0
