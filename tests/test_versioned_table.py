"""ParquetTable versions: numbered version directories, time travel,
copy-on-write merges that share untouched files by hardlink, CDC feeds
between versions, retention, writer transactions, and crash tolerance of
the commit."""

from __future__ import annotations

import dataclasses
import os

import pytest
from pyspark.sql import functions as F

from data_lake_skyfit_spark.operators.merge import MergeMode, ParquetTable, file_key_ranges


def _rows(t, spark, version=None):
    return {
        r["id"]: (r["val"], r["year"]) for r in t.read(spark, version).collect()
    }


def _mk(tmp_path, partitioned=True, **opts):
    return ParquetTable(
        str(tmp_path / "t"),
        ["id"],
        ["year"] if partitioned else (),
        **{"retain_last": None, **opts},
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, val string, year int")


def _inodes(t, version, sub=""):
    """(st_dev, st_ino) of the data files of `version` (under `sub`)."""
    return {k for k, p in t._files(version).items() if f"{os.sep}{sub}{os.sep}" in p or not sub}


def test_versions_accumulate_and_time_travel(spark, tmp_path):
    t = _mk(tmp_path)
    v0 = t.merge(_df(spark, [(1, "a", 2023), (2, "b", 2024)]))
    v1 = t.merge(_df(spark, [(2, "B", 2024), (3, "c", 2024)]))
    assert (v0, v1) == (0, 1) and t.versions() == [0, 1]
    assert os.readlink(t.path) == "t__v1"
    assert _rows(t, spark, v0) == {1: ("a", 2023), 2: ("b", 2024)}
    assert _rows(t, spark, v1) == {1: ("a", 2023), 2: ("B", 2024), 3: ("c", 2024)}
    # latest == v1
    assert _rows(t, spark) == _rows(t, spark, v1)


def test_copy_on_write_partition_merge_shares_untouched_generations(spark, tmp_path):
    t = _mk(tmp_path)
    t.merge(_df(spark, [(1, "a", 2023), (2, "b", 2024)]))
    t.merge(_df(spark, [(2, "B", 2024)]))  # touches only year=2024
    # untouched partition: the same files (hardlinks) in both versions
    assert _inodes(t, 1, "year=2023") == _inodes(t, 0, "year=2023")
    # touched partition: rewritten
    assert not _inodes(t, 1, "year=2024") & _inodes(t, 0, "year=2024")
    # and the old version still reads the pre-merge state
    assert _rows(t, spark, 0)[2] == ("b", 2024)


def test_merge_modes_match_contract(spark, tmp_path):
    t = _mk(tmp_path, partitioned=False)
    t.merge(_df(spark, [(1, "a", 2023), (2, "b", 2023)]))
    t.merge(_df(spark, [(2, "X", 2023), (3, "c", 2023)]), mode=MergeMode.DO_NOTHING)
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}  # matched row untouched
    t.merge(
        spark.createDataFrame([(1, "Z", 2099)], "id long, val string, year int"),
        mode=MergeMode.UPDATE_SUBSET,
        update_subset=("val",),
    )
    r1 = {r["id"]: (r["val"], r["year"]) for r in t.read(spark).collect()}[1]
    assert r1 == ("Z", 2023)  # subset col updated, year kept


def test_diff_between_versions(spark, tmp_path):
    t = _mk(tmp_path)
    t.merge(_df(spark, [(1, "a", 2023), (2, "b", 2024)]))
    t.merge(_df(spark, [(2, "B", 2024), (3, "c", 2024)]))
    d = {r["id"]: r["change_type"] for r in t.diff(spark, 0, 1).collect()}
    assert d == {2: "update", 3: "insert"}
    # reverse direction flips insert → delete
    rd = {r["id"]: r["change_type"] for r in t.diff(spark, 1, 0).collect()}
    assert rd == {2: "update", 3: "delete"}


def test_vacuum_keeps_retained_versions_readable(spark, tmp_path):
    t = _mk(tmp_path, retain_last=2)
    for i in range(4):
        assert t.merge(_df(spark, [(i, f"v{i}", 2020 + i)])) == i
    # the commit itself drops versions past the window
    assert t.versions() == [2, 3]
    assert sorted(os.listdir(tmp_path)) == ["t", "t__v2", "t__v3"]
    assert t.vacuum(min_age_s=0) == []
    # retained versions fully readable
    assert len(_rows(t, spark, 2)) == 3
    assert len(_rows(t, spark, 3)) == 4
    with pytest.raises(FileNotFoundError):
        t.read(spark, 1)
    with pytest.raises(ValueError):
        dataclasses.replace(t, retain_last=0)


def test_crashed_commit_leaves_previous_version_intact(spark, tmp_path):
    t = _mk(tmp_path)
    t.merge(_df(spark, [(1, "a", 2023)]))
    before = _rows(t, spark)
    # Simulate a crash AFTER the data write but BEFORE the symlink swap:
    # a version dir numbered above the live one appears.
    crashed = t._dir(1)
    t._write(_df(spark, [(9, "zzz", 2030)]), crashed)
    assert t.latest_version() == 0 and t.versions() == [0]
    assert _rows(t, spark) == before  # readers unaffected
    with pytest.raises(FileNotFoundError):
        t.read(spark, 1)
    # The default min-age guard protects a possibly-in-flight writer's
    # version dir; with the guard waived, vacuum reclaims it.
    assert t.vacuum() == []
    assert os.path.isdir(crashed)
    assert t.vacuum(min_age_s=0) == [crashed]
    # a leftover at the next number is replaced by the next commit
    t._write(_df(spark, [(9, "zzz", 2030)]), crashed)
    assert t.merge(_df(spark, [(2, "b", 2023)])) == 1
    assert _rows(t, spark) == {1: ("a", 2023), 2: ("b", 2023)}


def test_compact_collapses_to_one_generation(spark, tmp_path):
    t = _mk(tmp_path)
    t.merge(_df(spark, [(1, "a", 2023)]))
    t.merge(_df(spark, [(2, "b", 2024)]))  # carries year=2023
    v = t.compact(spark, n_files=1)
    assert v == 2
    # compaction rewrites every file: nothing is shared with v1
    assert not _inodes(t, v) & _inodes(t, 1)
    assert len(_inodes(t, v)) == 2  # one file per partition
    assert _rows(t, spark) == {1: ("a", 2023), 2: ("b", 2024)}


def test_schema_evolution_across_versions(spark, tmp_path):
    t = _mk(tmp_path, partitioned=False)
    t.merge(_df(spark, [(1, "a", 2023)]))
    wider = spark.createDataFrame(
        [(2, "b", 2024, 9.5)], "id long, val string, year int, score double"
    )
    t.merge(wider)
    rows = {r["id"]: r for r in t.read(spark).collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5
    assert "score" not in t.read(spark, 0).columns


def test_stream_merge_sink_into_versioned_table(spark, tmp_path):
    """The streaming foreachBatch MERGE bridge gives every micro-batch
    its own committed, time-travelable version."""
    import json as _json

    from pyspark.sql import types as T
    from data_lake_skyfit_spark.streaming.windowed import stream_merge_sink

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
            T.StructField("year", T.IntegerType()),
        ]
    )
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(src)
    t = ParquetTable(str(tmp_path / "vt"), ["id"], retain_last=None)

    def land(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for i, v, y in rows:
                f.write(_json.dumps({"id": i, "val": v, "year": y}) + "\n")

    def run():
        stream = spark.readStream.schema(schema).json(src)
        stream_merge_sink(stream, t, checkpoint_dir=ckpt)

    land("b1.json", [(1, "a", 2023)])
    run()
    land("b2.json", [(1, "A", 2023), (2, "b", 2024)])
    run()
    assert t.latest_version() == 1
    assert {r["id"]: r["val"] for r in t.read(spark, 0).collect()} == {1: "a"}
    assert {r["id"]: r["val"] for r in t.read(spark, 1).collect()} == {1: "A", 2: "b"}
    d = {r["id"]: r["change_type"] for r in t.diff(spark, 0, 1).collect()}
    assert d == {1: "update", 2: "insert"}


# ---------------------------------------------------------------------------
# Property: every historical version equals the dict-fold prefix
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_ROW = st.tuples(
    st.integers(min_value=0, max_value=5),   # id
    st.integers(min_value=0, max_value=99),  # val
    st.integers(min_value=0, max_value=2),   # partition (year bucket)
)
_BATCHES = st.lists(st.lists(_ROW, min_size=1, max_size=5), min_size=1, max_size=4)


@given(batches=_BATCHES)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_every_version_equals_fold_prefix(spark, tmp_path_factory, batches):
    """After N merges, version v must equal the dict-fold of batches
    0..v for EVERY v — time travel returns exactly the states that were
    committed, including across partition-scoped merges that carry
    other partitions' files as hardlinks."""
    tmp = tmp_path_factory.mktemp("vt")
    t = ParquetTable(str(tmp / "t"), ["id"], ["year"], retain_last=None)
    states = []
    state: dict[int, tuple[int, int]] = {}
    for batch in batches:
        df = spark.createDataFrame(
            [(i, v, 2020 + y, pos) for pos, (i, v, y) in enumerate(batch)],
            "id long, val long, year int, pos long",
        )
        t.merge(df, source_order=["pos"])
        for i, v, y in batch:  # last occurrence per id wins (source_order)
            state[i] = (v, 2020 + y)
        states.append(dict(state))
    assert t.versions() == list(range(len(batches)))
    for v, want in enumerate(states):
        got = {
            r["id"]: (r["val"], r["year"])
            for r in t.read(spark, v).drop("pos").collect()
        }
        assert got == want, (v, got, want)


def test_empty_overwrite_commits_and_reads_back(spark, tmp_path):
    """ADVICE r2: an empty commit must stay readable and mergeable. A
    partitioned empty overwrite writes no data file at all (and an
    unpartitioned one a schema-only file); `_commit.json` carries the
    schema, so the version reads back as zero rows of it. Default
    retention: the non-empty version before it is gone."""
    for part in ([], ["year"]):
        t = ParquetTable(str(tmp_path / ("p" if part else "u")), ["id"], partition_by=part)
        full = spark.createDataFrame([(1, 2024, "a")], "id long, year int, v string")
        t.overwrite(full)
        t.overwrite(full.limit(0))
        out = t.read(spark)
        assert out.count() == 0
        assert set(out.columns) == {"id", "year", "v"}
        assert t.versions() == [1]
        with pytest.raises(FileNotFoundError):
            t.read(spark, 0)
        # and a subsequent merge onto the empty table recovers
        t.merge(spark.createDataFrame([(2, 2025, "b")], "id long, year int, v string"))
        assert [tuple(r) for r in t.read(spark).select("id", "year", "v").collect()] == [
            (2, 2025, "b")
        ]


def test_unpartitioned_merge_is_file_level_cow(spark, tmp_path):
    """File-level copy-on-write (VERDICT r2 #2, versioned form): a merge
    touching a narrow key range rewrites only the files whose footer
    range meets it; the rest are hardlinked into the new version —
    untouched bytes never move, and the parent stays readable."""
    t = ParquetTable(str(tmp_path / "fcow"), ["id"], prune_min_bytes=0, retain_last=None)
    base = spark.range(50_000).select(F.col("id"), (F.col("id") % 7).alias("v"))
    t.overwrite(base.repartitionByRange(20, "id").sortWithinPartitions("id"))
    f0 = t._files(0)
    assert len(f0) == 20
    mtimes = {k: os.path.getmtime(p) for k, p in f0.items()}

    t.merge(spark.range(1000, 2000).select(F.col("id"), F.lit(-1).alias("v")))
    f1 = t._files(1)
    carried, fresh = set(f1) & set(f0), set(f1) - set(f0)
    # ≥ 90% of files carried over as hardlinks; original bytes untouched
    assert len(carried) >= 18 and fresh
    assert all(os.path.getmtime(f1[k]) == mtimes[k] for k in carried)

    out = t.read(spark)
    assert out.count() == 50_000
    assert out.filter("v = -1").count() == 1000
    # dedupe correctness: no key appears twice across carried+fresh files
    assert out.select("id").distinct().count() == 50_000
    # time travel: parent version pre-merge
    assert t.read(spark, version=0).filter("v = -1").count() == 0

    # pure-insert batch outside every range: every file carried
    t.merge(spark.range(90_000, 90_010).select(F.col("id"), F.lit(9).alias("v")))
    assert set(f1) <= set(t._files(2))
    assert t.read(spark).count() == 50_010

    # dropping old versions leaves the live version's hardlinks intact
    short = dataclasses.replace(t, retain_last=1)
    short.merge(spark.createDataFrame([(5, -5)], "id long, v long"))
    assert short.versions() == [3] and sorted(os.listdir(tmp_path)) == ["fcow", "fcow__v3"]
    assert short.read(spark).count() == 50_010


def test_txn_merge_is_idempotent_per_writer(spark, tmp_path):
    """Delta-style writer transactions: a merge at or below an app's
    recorded txn watermark commits nothing; other apps and higher
    versions proceed; watermarks carry through every commit."""
    t = ParquetTable(str(tmp_path / "txn"), ["id"])
    v0 = t.merge(spark.createDataFrame([(1, "a")], "id long, v string"), txn=("app1", 0))
    # replay of batch 0 → no new version, no data change
    assert t.merge(
        spark.createDataFrame([(1, "REPLAYED")], "id long, v string"), txn=("app1", 0)
    ) == v0 == t.latest_version()
    assert t.read(spark).collect()[0]["v"] == "a"
    # next batch applies
    t.merge(spark.createDataFrame([(2, "b")], "id long, v string"), txn=("app1", 1))
    assert t.read(spark).count() == 2
    # a different writer app with the same numbers is independent
    t.merge(spark.createDataFrame([(3, "c")], "id long, v string"), txn=("app2", 0))
    assert t.read(spark).count() == 3
    # watermarks carry through a compaction and an overwrite commit
    t.compact(spark)
    t.overwrite(t.read(spark))
    assert t._meta(t.latest_version())["txns"] == {"app1": 1, "app2": 0}
    assert t.merge(
        spark.createDataFrame([(9, "x")], "id long, v string"), txn=("app1", 1)
    ) == t.latest_version()
    assert t.read(spark).count() == 3


def test_stream_sink_into_versioned_table(spark, tmp_path):
    """stream_merge_sink merges each batch as a writer transaction:
    draining the same landing dir twice adds no rows AND no versions
    (checkpoint holds the cursor; txns absorb replays)."""
    from data_lake_skyfit_spark.streaming.windowed import stream_merge_sink

    land = tmp_path / "land"
    land.mkdir()
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, v string, seq long"
    ).coalesce(1).write.mode("overwrite").parquet(str(land / "batch0"))

    t = ParquetTable(str(tmp_path / "vt"), ["id"])
    stream = (
        spark.readStream.schema("id long, v string, seq long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(land / "batch0"))
    )
    ckpt = str(tmp_path / "ckpt")
    stream_merge_sink(stream, t, checkpoint_dir=ckpt, source_order=("seq",))
    assert t.read(spark).count() == 2
    v_after = t.latest_version()
    assert t._meta(v_after)["txns"], "sink did not record writer transactions"

    # drain again: nothing new to read, nothing committed
    stream2 = (
        spark.readStream.schema("id long, v string, seq long")
        .parquet(str(land / "batch0"))
    )
    stream_merge_sink(stream2, t, checkpoint_dir=ckpt, source_order=("seq",))
    assert t.latest_version() == v_after
    assert t.read(spark).count() == 2


def test_clustered_compaction_restores_range_pruning(spark, tmp_path):
    """Merges degrade clustering (rewritten files hold arbitrary key
    mixes → footer ranges widen → range pruning touches everything).
    compact(cluster_by=key) must restore tight disjoint per-file
    ranges, so a narrow merge carries most files again."""
    t = ParquetTable(str(tmp_path / "cc"), ["id"], prune_min_bytes=0, retain_last=None)
    t.overwrite(
        spark.range(20_000).select(F.col("id"), F.lit(0).alias("v")).repartition(8, "id")
    )
    # hash layout: every file spans ~the full key space
    assert min(hi - lo for _, lo, hi, _ in file_key_ranges(t.path, "id")) > 15_000

    v = t.compact(spark, cluster_by=["id"], n_files=8)
    ranges = sorted((lo, hi) for _, lo, hi, _ in file_key_ranges(t.path, "id"))
    assert len(ranges) == 8
    # tight: each file covers ~1/8 of the space; disjoint and ordered
    assert all(hi - lo < 6_000 for lo, hi in ranges)
    assert all(ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1))
    assert t.read(spark).count() == 20_000
    # a narrow merge after compaction touches few files again
    t.merge(spark.range(100, 200).select(F.col("id"), F.lit(1).alias("v")))
    assert len(_inodes(t, v + 1) & _inodes(t, v)) >= 7


def _feed_set(df):
    """Canonicalize a change feed for comparison: (key, type, old, new)."""
    return {
        (r["id"], r["change_type"], r["old_val"], r["new_val"])
        for r in df.collect()
    }


def test_changes_matches_full_diff_partitioned(spark, tmp_path):
    """The inode-pruned feed returns exactly diff()'s rows across merges
    and an overwrite (insert/update/delete all represented), including
    a version-skipping window."""
    t = _mk(tmp_path)
    t.merge(_df(spark, [(1, "a", 2023), (2, "b", 2024), (3, "c", 2024)]))
    t.merge(_df(spark, [(2, "B", 2024), (4, "d", 2025)]))
    t.overwrite(_df(spark, [(1, "a", 2023), (2, "B", 2024), (5, "e", 2025)]))
    for v0, v1 in [(0, 1), (1, 2), (0, 2)]:
        pruned = _feed_set(t.changes(spark, v0, v1, compare_cols=["val"]))
        full = _feed_set(t.diff(spark, v0, v1, compare_cols=["val"]))
        assert pruned == full, (v0, v1)
    got = _feed_set(t.changes(spark, 1, 2, compare_cols=["val"]))
    assert (3, "delete", "c", None) in got and (5, "insert", None, "e") in got


def test_changes_matches_full_diff_unpartitioned(spark, tmp_path):
    """Same equivalence on the file-pruned path, where rewritten files
    carry unchanged neighbor rows that must fall out of the feed."""
    t = ParquetTable(str(tmp_path / "cdc"), ["id"], prune_min_bytes=0, retain_last=None)
    base = spark.range(5_000).select(F.col("id"), (F.col("id") % 7).cast("string").alias("v"))
    t.overwrite(base.repartitionByRange(10, "id").sortWithinPartitions("id"))
    t.merge(spark.range(900, 1100).select(F.col("id"), F.lit("X").alias("v")))
    pruned = {
        (r["id"], r["change_type"], r["old_v"], r["new_v"])
        for r in t.changes(spark, 0, 1, compare_cols=["v"]).collect()
    }
    full = {
        (r["id"], r["change_type"], r["old_v"], r["new_v"])
        for r in t.diff(spark, 0, 1, compare_cols=["v"]).collect()
    }
    assert pruned == full
    # only genuinely updated keys appear — carried rows in rewritten
    # files (e.g. id 0..899 sharing a file with 900+) are absent
    assert len(pruned) == 200
    assert all(ct == "update" for _, ct, _, _ in pruned)


def _changes_with_garbage_carried(spark, t):
    """changes(0, 1) while every file shared by versions 0 and 1 holds
    garbage bytes (restored afterwards): the feed must never read one."""
    f0, f1 = t._files(0), t._files(1)
    carried = [f1[k] for k in set(f0) & set(f1)]
    assert carried  # the merge left most files untouched
    saved = {}
    try:
        for p in carried:
            with open(p, "rb") as f:
                saved[p] = f.read()
            with open(p, "wb") as f:
                f.write(b"GARBAGE-NOT-PARQUET")
        return t.changes(spark, 0, 1, compare_cols=["v"]).collect()
    finally:
        for p, blob in saved.items():
            with open(p, "wb") as f:
                f.write(blob)


def test_changes_never_reads_carried_files(spark, tmp_path):
    """Scale pin, file-pruned merge: carried (hardlinked) files are not
    merely unscanned — they can be unreadable garbage and the feed
    still computes exactly the changed keys. diff() by contrast must
    read both full snapshots."""
    t = ParquetTable(str(tmp_path / "cdcpin"), ["id"], prune_min_bytes=0, retain_last=None)
    base = spark.range(5_000).select(F.col("id"), (F.col("id") % 7).alias("v"))
    t.overwrite(base.repartitionByRange(10, "id").sortWithinPartitions("id"))
    t.merge(spark.range(0, 300).select(F.col("id"), F.lit(-1).alias("v")))
    feed = _changes_with_garbage_carried(spark, t)
    assert {r["id"] for r in feed} == set(range(300))


def test_changes_never_reads_carried_partitions(spark, tmp_path):
    """Scale pin, partition-scoped merge: the partitions the merge did
    not touch are hardlinked into the new version, and the feed reads
    none of their files."""
    t = ParquetTable(str(tmp_path / "cdcpart"), ["id"], ["year"], retain_last=None)
    t.overwrite(
        spark.range(3_000).select(
            F.col("id"), (F.col("id") % 7).alias("v"), (2020 + F.col("id") % 3).cast("int").alias("year")
        )
    )
    # ids 1, 4, 7, ... live in year=2021: update 100 of them, insert 5
    src = spark.range(1, 300, 3).select(
        F.col("id"), F.lit(-1).cast("long").alias("v"), F.lit(2021).alias("year")
    ).unionByName(
        spark.range(10_000, 10_005).select(
            F.col("id"), F.lit(-1).cast("long").alias("v"), F.lit(2021).alias("year")
        )
    )
    t.merge(src)
    feed = _changes_with_garbage_carried(spark, t)
    assert {(r["id"], r["change_type"]) for r in feed} == {
        *((i, "update") for i in range(1, 300, 3)),
        *((i, "insert") for i in range(10_000, 10_005)),
    }


def test_poll_changes_cursor_loop(spark, tmp_path):
    """The incremental-consumer loop: initial sync is all-inserts, each
    poll advances the cursor to the version it saw, and a caught-up
    cursor yields an empty feed with the same cursor back."""
    t = _mk(tmp_path)
    t.merge(_df(spark, [(1, "a", 2023), (2, "b", 2024)]))
    feed, cur = t.poll_changes(spark, None, compare_cols=["val"])
    assert cur == 0
    assert _feed_set(feed) == {
        (1, "insert", None, "a"),
        (2, "insert", None, "b"),
    }
    t.merge(_df(spark, [(2, "B", 2024), (3, "c", 2025)]))
    feed, cur = t.poll_changes(spark, cur, compare_cols=["val"])
    assert cur == 1
    assert _feed_set(feed) == {
        (2, "update", "b", "B"),
        (3, "insert", None, "c"),
    }
    feed, cur2 = t.poll_changes(spark, cur, compare_cols=["val"])
    assert cur2 == cur and feed.count() == 0
    assert [f.name for f in feed.schema.fields] == [
        "id", "old_val", "new_val", "change_type",
    ]
