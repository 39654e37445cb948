"""Property-based MERGE semantics: any sequence of keyed batches merged
into a table must equal the dict-fold of those batches (the reference's
ON CONFLICT upsert contract, K2-K4) — for update-all, insert-only, and
update-subset modes.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_lake_skyfit_spark.operators.merge import MergeMode, ParquetTable

KEYS = st.integers(min_value=0, max_value=6)
ROW = st.tuples(KEYS, st.integers(min_value=0, max_value=99))
BATCH = st.lists(ROW, min_size=1, max_size=6)
BATCHES = st.lists(BATCH, min_size=1, max_size=4)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _make_table(kind, tmp):
    """Two write paths share one contract: the full-rewrite merge, and
    the same table with file-level pruning forced on
    (prune_min_bytes=0)."""
    if kind == "pruned":
        return ParquetTable(str(tmp), ["id"], prune_min_bytes=0)
    return ParquetTable(str(tmp), ["id"])


def _run(spark, tmp, batches, mode, kind="plain"):
    t = _make_table(kind, tmp)
    state: dict[int, int] = {}
    for batch in batches:
        df = spark.createDataFrame(
            [(k, v, pos) for pos, (k, v) in enumerate(batch)],
            "id long, val long, pos long",
        )
        # within one batch, the last occurrence of a key wins (source_order)
        t.merge(df, mode=mode, update_subset=("val",), source_order=["pos"])
        batch_final = {k: v for k, v in batch}  # dict literal: last wins
        if mode == MergeMode.DO_NOTHING:
            for k, v in batch_final.items():
                state.setdefault(k, v)
        else:
            state.update(batch_final)
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    return got, state


@pytest.mark.parametrize("kind", ["plain", "pruned"])
@given(batches=BATCHES)
@_SETTINGS
def test_update_all_equals_dict_fold(spark, tmp_path_factory, kind, batches):
    tmp = tmp_path_factory.mktemp("m")
    got, want = _run(spark, tmp, batches, MergeMode.UPDATE_ALL, kind)
    assert got == want


@pytest.mark.parametrize("kind", ["plain", "pruned"])
@given(batches=BATCHES)
@_SETTINGS
def test_insert_only_keeps_first(spark, tmp_path_factory, kind, batches):
    tmp = tmp_path_factory.mktemp("m")
    got, want = _run(spark, tmp, batches, MergeMode.DO_NOTHING, kind)
    assert got == want


@given(batches=BATCHES)
@_SETTINGS
def test_merge_idempotent(spark, tmp_path_factory, batches):
    """Re-merging the final batch must not change the table (I3)."""
    tmp = tmp_path_factory.mktemp("m")
    got, _ = _run(spark, tmp, batches, MergeMode.UPDATE_ALL)
    t = ParquetTable(str(tmp), ["id"])
    df = spark.createDataFrame(
        [(k, v, pos) for pos, (k, v) in enumerate(batches[-1])],
        "id long, val long, pos long",
    )
    t.merge(df, source_order=["pos"])
    again = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert again == got
