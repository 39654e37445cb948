"""Blocked fuzzy-match join: matching semantics, tie-breaks, blocking
misses, unmatched handling, plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_lake_skyfit_spark.operators.fuzzy import fuzzy_match_join, prefix_block_key


def _frames(spark):
    cands = spark.createDataFrame(
        [
            (1, "small ring"),
            (2, "small rings"),
            (3, "red widget"),
            (4, "blue bolt"),
            (5, "zinc plate"),
        ],
        "cand_id BIGINT, cand_name STRING",
    )
    probes = spark.createDataFrame(
        [
            (10, "smal ring"),     # deletion: dist 1 to "small ring"
            (11, "red widgex"),    # substitution: dist 1 to "red widget"
            (12, "qqqqqqqq"),      # no block / no match
            (13, "blue bolt"),     # exact: dist 0
        ],
        "probe_id BIGINT, probe_name STRING",
    )
    return probes, cands


def test_best_match_and_distances(spark):
    probes, cands = _frames(spark)
    got = {
        r.probe_id: (r.cand_id, r.dist)
        for r in fuzzy_match_join(probes, cands).collect()
    }
    assert got[10] == (1, 1)
    assert got[11] == (3, 1)
    assert got[13] == (4, 0)
    assert 12 not in got


def test_tie_breaks_to_lowest_cand_id(spark):
    cands = spark.createDataFrame(
        [(7, "aaab"), (3, "aaac")], "cand_id BIGINT, cand_name STRING"
    )
    probes = spark.createDataFrame(
        [(1, "aaad")], "probe_id BIGINT, probe_name STRING"
    )
    [row] = fuzzy_match_join(probes, cands).collect()
    assert (row.cand_id, row.dist) == (3, 1)


def test_keep_unmatched_emits_nulls(spark):
    probes, cands = _frames(spark)
    got = {
        r.probe_id: (r.cand_id, r.dist)
        for r in fuzzy_match_join(probes, cands, keep_unmatched=True).collect()
    }
    assert got[12] == (None, None)
    assert len(got) == 4


def test_blocking_miss_is_a_miss_by_design(spark):
    """A corruption that changes the block key prevents the match —
    the documented blocking trade-off (lengthening the prefix or a
    q-gram key recovers it)."""
    cands = spark.createDataFrame(
        [(1, "small ring")], "cand_id BIGINT, cand_name STRING"
    )
    probes = spark.createDataFrame(
        [(1, "xmall ring")], "probe_id BIGINT, probe_name STRING"
    )
    assert fuzzy_match_join(probes, cands).count() == 0
    got = fuzzy_match_join(
        probes, cands, block_key=lambda c: F.length(c)
    ).collect()
    assert [(r.cand_id, r.dist) for r in got] == [(1, 1)]


def test_len_band_prunes_before_distance(spark):
    cands = spark.createDataFrame(
        [(1, "ab"), (2, "abcdefgh")], "cand_id BIGINT, cand_name STRING"
    )
    probes = spark.createDataFrame(
        [(1, "abc")], "probe_id BIGINT, probe_name STRING"
    )
    got = fuzzy_match_join(probes, cands, max_dist=6, len_band=2).collect()
    # "abcdefgh" is 5 edits away but outside the length band: pruned.
    assert [(r.cand_id, r.dist) for r in got] == [(1, 1)]


def test_plan_is_equi_join_not_cartesian(spark):
    probes, cands = _frames(spark)
    plan = (
        fuzzy_match_join(probes, cands)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan  # map-side-combining best-match agg


def test_bounded_levenshtein_semantics(spark):
    """fuzzy_match_join relies on Spark's thresholded levenshtein(a, b, k):
    the exact distance when it is <= k, -1 above k. Pinned so an engine
    upgrade that changes the banded DP fails here, not in an oracle."""
    cases = [
        ("kitten", "sitting", 3),
        ("flaw", "lawn", 2),
        ("abc", "abc", 0),
        ("", "abcd", 4),
        ("intention", "execution", 5),
        ("abcdef", "badcfe", 4),
    ]
    df = spark.createDataFrame([(a, b) for a, b, _ in cases], "a string, b string")
    for k in range(6):
        rows = df.select(
            F.levenshtein("a", "b").alias("full"),
            F.levenshtein("a", "b", k).alias("bounded"),
        ).collect()
        for (a, b, dist), r in zip(cases, rows):
            assert r["full"] == dist, (a, b, r)
            assert r["bounded"] == (dist if dist <= k else -1), (a, b, k, r)
