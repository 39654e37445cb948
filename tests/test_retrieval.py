"""BM25 retrieval: log-idf path vs an independent numpy/python mirror,
rational-path ranking agreement, and plan-shape guarantees."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_lake_skyfit_spark.llm import retrieval


def bm25_numpy_mirror(
    corpus: list[tuple[int, str]], queries: list[tuple[int, list[str]]], k: int = 5
) -> list[tuple[int, int, float]]:
    """Independent sequential mirror of the log-idf path (tests only)."""
    import collections

    toks = {d: [t for t in text.split() if t] for d, text in corpus}
    n = len(corpus)
    totlen = sum(len(w) for w in toks.values())
    avgdl = totlen / n
    dfreq: collections.Counter = collections.Counter()
    for w in toks.values():
        dfreq.update(set(w))
    out: list[tuple[int, int, float]] = []
    k1, b = 1.2, 0.75
    for qid, terms in queries:
        scores: dict[int, float] = {}
        for d, w in toks.items():
            tfs = collections.Counter(w)
            s = 0.0
            for t in set(terms):
                tf = tfs.get(t, 0)
                if not tf:
                    continue
                idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(w) / avgdl))
            if s > 0:
                scores[d] = s
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out.extend((qid, d, s) for d, s in top)
    return out


CORPUS = [
    (0, "spark join fast table"),
    (1, "table scan slow scan scan"),
    (2, "join join join window"),
    (3, "stream batch window spark"),
    (4, "hash vector vector"),
    (5, "completely unrelated words here"),
    (6, "spark spark spark spark spark"),
    (7, "fast join"),
]
QUERIES = [
    (0, ["spark", "join"]),
    (1, ["scan", "table"]),
    (2, ["vector"]),
    (3, ["missingterm"]),
]


@pytest.fixture(scope="module")
def frames(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id BIGINT, text STRING")
    queries = spark.createDataFrame(QUERIES, "query_id INT, terms ARRAY<STRING>")
    return docs, queries


def test_log_idf_matches_numpy_mirror(spark, frames):
    docs, queries = frames
    got = {
        (r.query_id, r.doc_id): r.score
        for r in retrieval.bm25_topk(docs, queries, k=3, idf="log").collect()
    }
    want = {
        (qid, did): s
        for qid, did, s in bm25_numpy_mirror(CORPUS, QUERIES, k=3)
    }
    assert set(got) == set(want)
    for key, s in want.items():
        assert got[key] == pytest.approx(s, rel=1e-12)


def test_rational_and_log_paths_rank_identically(spark, frames):
    """The rational idf surrogate is a different weighting, but on this
    corpus (and the sf corpus, checked in the battery) both paths must
    put clearly-better documents first; here we pin the exact ranking
    agreement per query."""
    docs, queries = frames
    by_q = {}
    for r in retrieval.bm25_topk(docs, queries, k=3, idf="rational").collect():
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id))
    log_by_q = {}
    for r in retrieval.bm25_topk(docs, queries, k=3, idf="log").collect():
        log_by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id))
    assert set(by_q) == set(log_by_q)
    for q in by_q:
        assert sorted(by_q[q]) == sorted(log_by_q[q])


def test_zero_hit_query_emits_nothing(spark, frames):
    docs, queries = frames
    out = retrieval.bm25_topk(docs, queries, k=3, idf="rational")
    assert out.filter(F.col("query_id") == 3).count() == 0


def test_scores_positive_and_ranked(spark, frames):
    docs, queries = frames
    rows = retrieval.bm25_topk(docs, queries, k=5, idf="rational").collect()
    assert all(r.score > 0 for r in rows)
    by_q = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.score)
    for scores in by_q.values():
        assert scores == sorted(scores, reverse=True)


def test_repeated_query_terms_collapse(spark, frames):
    docs, _ = frames
    q1 = docs.sparkSession.createDataFrame(
        [(0, ["spark", "spark", "join"])], "query_id INT, terms ARRAY<STRING>"
    )
    q2 = docs.sparkSession.createDataFrame(
        [(0, ["spark", "join"])], "query_id INT, terms ARRAY<STRING>"
    )
    a = sorted(map(tuple, retrieval.bm25_topk(docs, q1, k=5).collect()))
    b = sorted(map(tuple, retrieval.bm25_topk(docs, q2, k=5).collect()))
    assert a == b


def test_plan_has_no_data_sized_cartesian_and_broadcasts_queries(spark, frames):
    docs, queries = frames
    plan = retrieval.bm25_topk(docs, queries, k=3)._jdf.queryExecution().executedPlan().toString()
    # The only cartesian is the broadcast single-row corpus-scalars join.
    assert plan.count("CartesianProduct") == 0
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # Postings aggregation partially aggregates map-side.
    assert "partial_count" in plan or "HashAggregate" in plan


def test_div_contract_matches_duckdb_floor_division(spark):
    """The graded contract rests on Spark `div` == DuckDB `//` for
    positive integral quotients at DECIMAL(38,0)/HUGEINT width."""
    import duckdb

    num, den = 22 * 27165 * 17 * (2 * 5000 - 2 * 933 + 1) * 100_000, 7_777_777
    got = (
        spark.range(1)
        .select(
            F.expr(
                f"CAST(CAST({num} AS DECIMAL(38,0)) div CAST({den} AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("d")
        )
        .collect()[0]
        .d
    )
    want = duckdb.sql(
        f"SELECT CAST(CAST({num} AS HUGEINT) // {den} AS BIGINT)"
    ).fetchone()[0]
    assert got == want == num // den


def test_rrf_fuse_matches_exact_fraction_mirror(spark):
    """Rank parity vs a single-machine mirror computing TRUE rational
    RRF with fractions.Fraction — the scaled-integer surrogate must
    produce the identical fused ordering (scale >> any reachable
    denominator product keeps the floor exact enough to never swap
    adjacent sums built from ranks <= 40)."""
    from fractions import Fraction

    from data_lake_skyfit_spark.llm.retrieval import rrf_fuse

    import random

    rng = random.Random(11)
    lex_rows, dense_rows, mirror = [], [], {}
    for q in range(6):
        docs = rng.sample(range(100), 30)
        lex_docs, dense_docs = docs[:20], docs[10:30]  # overlap 10
        for r, d in enumerate(sorted(lex_docs, key=lambda x: rng.random()), 1):
            lex_rows.append((q, d, r))
            mirror.setdefault((q, d), Fraction(0))
            mirror[(q, d)] += Fraction(1, 60 + r)
        for r, d in enumerate(sorted(dense_docs, key=lambda x: rng.random()), 1):
            dense_rows.append((q, d, r))
            mirror.setdefault((q, d), Fraction(0))
            mirror[(q, d)] += Fraction(1, 60 + r)
    lex = spark.createDataFrame(lex_rows, "query_id int, doc_id int, rank int")
    dense = spark.createDataFrame(dense_rows, "query_id int, doc_id int, rank int")
    got = rrf_fuse({"lex": lex, "dense": dense}, k=10).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q in range(6):
        want = sorted(
            ((d, f) for (qq, d), f in mirror.items() if qq == q),
            key=lambda df_: (-df_[1], df_[0]),
        )[:10]
        rows = sorted(by_q[q], key=lambda r: r["fused_rank"])
        assert [r["doc_id"] for r in rows] == [d for d, _ in want]
        # both-system docs carry both ranks; single-system docs a null
        for r in rows:
            in_lex = (q, r["doc_id"], r["lex_rank"]) in lex_rows
            in_dense = (q, r["doc_id"], r["dense_rank"]) in dense_rows
            assert (r["lex_rank"] is None) != in_lex or in_lex
            assert (r["dense_rank"] is None) != in_dense or in_dense
            assert in_lex or in_dense
