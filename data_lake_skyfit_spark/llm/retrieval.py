"""BM25 full-text retrieval over the documents corpus.

The missing retrieval leg of the LLM-data tier: given a set of term
queries, score documents with BM25 (Robertson-Spärck Jones TF-IDF with
document-length normalization) and return the top-k per query. This is
the lexical half of a RAG / training-data-selection stack (the dense
half is `llm/similarity.py`).

Spark-first shape (reference analog: none — the reference has no
retrieval surface; this extends SURVEY.md §7.5):

- The corpus is reduced ONCE to a postings frame
  ``(term, doc_id, tf)`` via explode + map-side-combining groupBy —
  one shuffle whose row count is the number of DISTINCT (doc, term)
  pairs, never token occurrences.
- The query side is tiny by definition and is broadcast; postings are
  immediately semi-joined to query terms, so document-frequency and
  scoring aggregations run over matched postings only — the corpus
  never re-shuffles per query.
- Corpus scalars (N, total token length) ride a broadcast single-row
  cross join (the only cross join, same idiom as llm/curation.py).
- Top-k per query is a window over the scored candidates (rows ∝
  postings hit by query terms), partitioned by query — never a global
  sort.

Determinism: with ``idf="rational"`` every score is a BIGINT computed
with integer products and one integral division — exact on any engine,
so ranking and tie-breaks (score desc, doc_id asc) are hash-stable
cross-engine (the graded battery contract; CLAUDE.md forbids
libm-dependent log in a hash-compared column). ``idf="log"`` is the
textbook BM25 idf ``ln(1 + (N-df+0.5)/(df+0.5))`` for production use —
same plan, float scores — pinned against an independent numpy mirror
in tests/test_retrieval.py instead of the DuckDB hash gate.

BM25 parameters are the standard k1=1.2, b=0.75, held as exact
rationals (6/5, 3/4). With avgdl = totlen/N the per-term score is::

    idf(df) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

Multiplying numerator and denominator by 10*totlen clears every
fraction::

    tf_norm = 22*totlen*tf / (10*totlen*tf + 3*totlen + 9*dl*N)

and the rational idf surrogate (N-df+0.5)/(df+0.5) becomes
(2N-2df+1)/(2df+1). The graded score is
``(scale * tf_norm_num * idf_num) div (tf_norm_den * idf_den)``
summed per (query, doc) — an order-independent BIGINT sum. Products
run in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): both are exact and
`div` / `//` agree on positive integral quotients (validated in
tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .text import spread_small_input, tokens_expr

__all__ = ["postings", "bm25_score", "bm25_topk"]


def postings(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Inverted-index postings ``(term, doc_id, tf, dl)``.

    One explode + one map-side-combining groupBy; ``dl`` (document
    token length) is carried on every posting row so scoring never
    joins back to the corpus.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_expr(text_col).alias("__w"),
    )
    return (
        toks.select("doc_id", F.size("__w").alias("dl"), F.explode("__w").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )


def bm25_score(
    docs: DataFrame,
    queries: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    idf: str = "rational",
    scale: int = 100_000,
) -> DataFrame:
    """Score every document containing at least one query term.

    ``queries`` is ``(query_id, terms array<string>)``; duplicate terms
    within a query collapse (query tf is 1, the common BM25 choice).
    Returns ``(query_id, doc_id, score)`` — BIGINT scaled score for
    ``idf="rational"``, DOUBLE for ``idf="log"``.
    """
    if idf not in ("rational", "log"):
        raise ValueError(f"idf must be 'rational' or 'log', got {idf!r}")

    qterms = queries.select(
        "query_id", F.explode(F.array_distinct("terms")).alias("term")
    )
    # One tokenization pass over the corpus, shared by the matched-
    # postings path and the corpus scalars (the old shape tokenized the
    # whole corpus twice — once in postings(), once in _corpus_scalars).
    # Input spread keeps that pass off a single core on one-split scans
    # (no-op at real scale).
    toks = spread_small_input(docs, id_col).select(
        F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("__w")
    ).localCheckpoint(eager=False)
    # Query side is tiny: broadcast it BELOW the postings aggregation —
    # filtering exploded tokens to query terms before the
    # (term, doc_id, dl) groupBy means the aggregation (and its
    # exchange) only sees occurrences of query terms instead of the
    # whole vocabulary. Grouping commutes with the term equi-filter, so
    # the result is identical to aggregate-then-join (r9 optimization).
    ex = toks.select(
        "doc_id", F.size("__w").alias("dl"), F.explode("__w").alias("term")
    )
    matched = (
        ex.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").cast("bigint").alias("tf"))
        # matched feeds BOTH the df aggregation and the scoring join.
        .localCheckpoint(eager=False)
    )
    dfreq = matched.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))

    scalars = toks.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size("__w")).cast("bigint").alias("totlen"),
    )
    cand = (
        matched.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(scalars))
    )

    if idf == "rational":
        d38 = "decimal(38,0)"
        num = (
            F.lit(22).cast(d38)
            * F.col("totlen").cast(d38)
            * F.col("tf").cast(d38)
            * (F.lit(2) * F.col("n_docs") - F.lit(2) * F.col("df") + F.lit(1)).cast(d38)
            * F.lit(int(scale)).cast(d38)
        )
        den = (
            (
                F.lit(10).cast(d38) * F.col("totlen").cast(d38) * F.col("tf").cast(d38)
                + F.lit(3).cast(d38) * F.col("totlen").cast(d38)
                + F.lit(9).cast(d38) * F.col("dl").cast(d38) * F.col("n_docs").cast(d38)
            )
            * (F.lit(2) * F.col("df") + F.lit(1)).cast(d38)
        )
        # Spark's `div` (integral quotient) has no functions.* wrapper —
        # stage the named operands, then expr() the division.
        cand2 = cand.select(
            "query_id", "doc_id", num.alias("__num"), den.alias("__den")
        )
        scored = cand2.select(
            "query_id",
            "doc_id",
            F.expr("CAST(__num div __den AS BIGINT)").alias("contrib"),
        )
        return scored.groupBy("query_id", "doc_id").agg(
            F.sum("contrib").cast("bigint").alias("score")
        )

    # Textbook log idf (production path, float): ln(1 + (N-df+.5)/(df+.5)).
    idf_e = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    k1, b = 1.2, 0.75
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl") * F.col("n_docs") / F.col("totlen"))
    )
    scored = cand.select(
        "query_id", "doc_id", (idf_e * tf_norm).alias("contrib")
    )
    return scored.groupBy("query_id", "doc_id").agg(
        F.sum("contrib").alias("score")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    idf: str = "rational",
    scale: int = 100_000,
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k documents per query by BM25, totally ordered
    (score desc, doc_id asc). Window partitions by query over the
    sparse candidate set — never a global sort. ``exclude_self`` drops
    rows where doc_id == query_id BEFORE ranking — the document-as-
    query ("more like this") shape, where the source document would
    otherwise trivially win rank 1."""
    scored = bm25_score(
        docs, queries, text_col=text_col, id_col=id_col, idf=idf, scale=scale
    )
    if exclude_self:
        scored = scored.filter(F.col("doc_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc_nulls_last()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", F.col("rank").cast("int").alias("rank"))
    )


def rrf_fuse(
    rankings: dict[str, DataFrame],
    *,
    k_rrf: int = 60,
    scale: int = 1_000_000_000_000,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion over N independently-ranked systems —
    how production pipelines combine lexical (BM25) and dense (ANN)
    retrieval without score calibration.

    Each input frame is ``(query_id, <id_col>, rank)`` with rank 1-based
    within query. The fused score is the RRF sum Σ 1/(k_rrf + rank)
    over the systems that returned the document, held EXACT as the
    scaled integer Σ (scale div (k_rrf + rank)) — pure rank arithmetic,
    no floats, so the fused top-k is hash-stable on any engine (the
    BM25 integer-tier discipline). Output keeps each system's rank as
    a nullable ``<name>_rank`` column plus the fused rank.

    Scale: the inputs are already top-L-per-query (rows ∝ queries·L,
    never corpus-sized); fusion is one union + one groupBy on
    (query, doc) + a query-partitioned window — no corpus access at
    all, so fusion cost is independent of corpus size at 100 TB."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranked system")
    tagged = None
    for name, df in rankings.items():
        t = df.select(
            "query_id",
            F.col(id_col),
            F.col("rank").cast("int").alias("rank"),
            F.lit(name).alias("__sys"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    contrib = tagged.withColumn(
        "__c", F.expr(f"CAST({int(scale)} div ({int(k_rrf)} + rank) AS BIGINT)")
    )
    aggs = [F.sum("__c").cast("bigint").alias("rrf_score")]
    for name in rankings:
        aggs.append(
            F.max(F.when(F.col("__sys") == name, F.col("rank")))
            .cast("int")
            .alias(f"{name}_rank")
        )
    fused = contrib.groupBy("query_id", id_col).agg(*aggs)
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col(id_col).asc_nulls_last()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("fused_rank") <= k)
    )


