"""LLM-training-data pipeline queries (SURVEY.md §7.5 north star):
dedup, similarity search, text analysis, multimodal plumbing.

Registered into the same registry as the relational battery. Oracle
notes: token/shingle/hash constructions are chosen to be expressible
identically in DuckDB (md5 + string ops, integer arithmetic) so even
the "fuzzy" operators get exact oracles where the algorithm is
deterministic — every entry here has a real oracle (the driver has no
rows-only mode; see VERDICT round 1).
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import kernels
from .queries import register, _t
from .llm import curation, dedup, hnsw, multimodal, pq, retrieval, similarity, text as text_ops
from .streaming import windowed


@register(
    "streaming_hourly_counts",
    """
    SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("2.9-streaming", "I2", "A4", "2.10-datetime"),
    doc="Structured Streaming: AvailableNow file-source stream → "
    "event-time tumbling windows + watermark → memory sink "
    "(streaming.windowed.hourly_event_counts). Batch-equivalent result, "
    "so the oracle is the batch aggregation.",
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed.hourly_event_counts(spark, sf_dir)

@register(
    "streaming_sliding_counts",
    """
    WITH starts AS (
      SELECT event_type,
             UNNEST([
               TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND * (CAST(FLOOR(epoch(ts)/1800) AS BIGINT)*1800),
               TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND * (CAST(FLOOR(epoch(ts)/1800) AS BIGINT)*1800 - 1800)
             ]) AS win_start
      FROM events
    )
    SELECT win_start, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM starts GROUP BY 1, 2
    """,
    tags=("2.9-streaming",),
    doc="Sliding 1h/30min event-time windows (streaming.windowed."
    "sliding_event_counts) — every event in two overlapping windows.",
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed.sliding_event_counts(spark, sf_dir)


@register(
    "session_window_stats",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS ns
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS seq
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, seq
    """,
    tags=("2.9-streaming", "2.9-sessionization"),
    doc="Native F.session_window 30-min-gap sessions "
    "(streaming.windowed.session_window_stats). Session merging uses "
    "half-open windows, so a gap of exactly 30min splits (>= in oracle).",
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed.session_window_stats(spark, sf_dir)


@register(
    "streaming_stateful_dedup",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
    tags=("2.9-streaming", "I3"),
    doc="Streaming stateful dedup: dropDuplicates state across "
    "micro-batches, then per-type distinct-user counts "
    "(streaming.windowed.streaming_distinct_users).",
)
def streaming_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed.streaming_distinct_users(spark, sf_dir)


@register(
    "streaming_stream_stream_join",
    """
    SELECT c.user_id, c.event_id AS click_id,
           p.event_id AS purchase_id, p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts <= c.ts
     AND p.ts > c.ts - INTERVAL 60 MINUTE
    """,
    tags=("2.9-streaming", "J4"),
    doc="Stream-stream inner join (streaming.windowed."
    "stream_stream_click_purchase_join): clicks joined to the same "
    "user's purchases in the preceding hour, BOTH sides streaming with "
    "watermarks bounding the join state — the Structured Streaming "
    "operator a batch-only reference has no analog for. AvailableNow "
    "drain makes the result batch-equivalent, so the oracle is the "
    "batch interval join.",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed.stream_stream_click_purchase_join(spark, sf_dir)


@register(
    "stateful_user_sessions",
    """
    WITH flagged AS (
      SELECT user_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS ns
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT user_id, CAST(SUM(ns) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM flagged GROUP BY user_id
    """,
    tags=("2.9-streaming", "custom-stateful"),
    doc="Arbitrary stateful operator via applyInPandasWithState: "
    "per-user session counting with 30-min inactivity gap, state "
    "carried across batches (streaming.windowed.stateful_user_sessions).",
)
def stateful_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed.stateful_user_sessions(spark, sf_dir)


@register(
    "udtf_tokenize_positions",
    """
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id, CAST(x.i - 1 AS INT) AS pos, x.tok AS token
    FROM t, LATERAL (SELECT UNNEST(generate_series(1, len(w))) AS i, UNNEST(w) AS tok) x
    """,
    tags=("2.11-udtf",),
    doc="Python UDTF (Spark 4 @udtf): 1→N positional tokenizer consumed "
    "via SQL LATERAL — the custom table-function API. Row-based Python "
    "is the slow path by design here; the production tokenizers in "
    "llm/text.py stay JVM-side. Capped to 100 docs.",
)
def udtf_tokenize_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class Tokenize:
        def eval(self, text: str):
            for i, tok in enumerate((text or "").split()):
                yield i, tok

    spark.udtf.register("tokenize_positions", Tokenize)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("__docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM __docs_udtf d, LATERAL tokenize_positions(d.text) t
        WHERE d.doc_id < 100
        """
    )


# Shared DuckDB fragments ----------------------------------------------------

_DUCK_TOKENS = "list_filter(regexp_split_to_array({col}, '\\s+'), x -> x <> '')"
_DUCK_SHINGLES = (
    "CASE WHEN len({w}) >= 3 THEN "
    "list_distinct([{w}[i] || ' ' || {w}[i+1] || ' ' || {w}[i+2] for i in range(1, len({w})-1)]) "
    "ELSE [] END"
)

_JACCARD_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKENS.format(col='text')} AS w FROM documents
    ), sh AS (
      SELECT doc_id, {_DUCK_SHINGLES.format(w='w')} AS s FROM t
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           ROUND(len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)), 4) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)), 4) >= 0.8
"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT MD5(text) AS content_md5, MIN(doc_id) AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY MD5(text)
    """,
    tags=("llm-dedup", "A5", "J6"),
    doc="Exact dedup via content-hash groupBy; only the hash shuffles. "
    "(The engine-internal fingerprint is xxhash64 — llm.dedup.exact_dedup; "
    "md5 here for cross-engine oracle parity.)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5("text").alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "dedup_ngram_jaccard",
    _JACCARD_ORACLE,
    tags=("llm-dedup",),
    doc="All-pairs 3-gram-shingle Jaccard ≥ 0.8 (brute force — the "
    "verification tier; llm.dedup.jaccard_pairs_bruteforce).",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dedup.jaccard_pairs_bruteforce(d, threshold=0.8)


@register(
    "dedup_minhash_lsh",
    _JACCARD_ORACLE,
    tags=("llm-dedup", "scale-path"),
    doc="MinHash(128)+LSH(32 bands) candidate pairs verified at Jaccard "
    "≥ 0.8 (llm.dedup.minhash_lsh_pairs). Shares the brute-force oracle: "
    "at j ≥ 0.97 (this corpus's near-dup band) banding recall is "
    "1 − (1−j⁴)³² ≈ 1-1e-30, so candidate∩verify ≡ exact pairs.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, threshold=0.8)


@register(
    "dedup_minhash_incremental",
    _JACCARD_ORACLE,
    tags=("llm-dedup", "scale-path", "I3", "no-bench"),
    doc="Incrementally-maintained MinHash-LSH index (llm.dedup."
    "MinHashIndex): the corpus is ingested in TWO batches (doc_id < 350, "
    "then the rest); each batch computes only its own signatures, probes "
    "the persisted band-bucket index for collisions with the standing "
    "corpus, and MERGEs in idempotently — the 100 TB operating mode "
    "where a daily batch never re-LSHes the corpus. The union of "
    "per-batch pair outputs must equal the one-shot pair set (the exact "
    "Jaccard oracle). no-bench: deliberately persists parquet index "
    "tables twice over the full corpus — a pipeline-maintenance cost, "
    "not query latency; correctness stays gated by drive.py and "
    "test_minhash_index_incremental_equals_oneshot.",
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .llm.dedup import MinHashIndex

    d = _t(spark, sf_dir, "documents")
    idx = MinHashIndex(tempfile.mkdtemp(prefix="skyfit_mhidx_"), threshold=0.8)
    first = idx.add(d.filter(F.col("doc_id") < 350))
    second = idx.add(d.filter(F.col("doc_id") >= 350))
    return first.unionByName(second)


@register(
    "dedup_simhash",
    """
    WITH t AS (
      SELECT doc_id, """ + _DUCK_TOKENS.format(col="text") + """ AS w FROM documents
    ), tok AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS wgt
      FROM (SELECT doc_id, UNNEST(w) AS tok FROM t) GROUP BY doc_id, tok
    ), bits AS (
      SELECT doc_id, pos,
             CASE WHEN SUM(wgt * (2 * ((strpos('0123456789abcdef',
                       substr(md5(tok) || md5(tok || '#'), CAST(pos AS INT), 1)) - 1) % 2) - 1)) >= 0
                  THEN '1' ELSE '0' END AS bit
      FROM tok CROSS JOIN (SELECT UNNEST(range(1, 65)) AS pos) p
      GROUP BY doc_id, pos
    )
    SELECT doc_id, STRING_AGG(bit, '' ORDER BY pos) AS simhash
    FROM bits GROUP BY doc_id
    """,
    tags=("llm-dedup",),
    doc="64-bit SimHash signatures (llm.dedup.simhash_bits): bit source "
    "is md5 hex-digit parity so the construction is engine-portable.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash_bits(d)


@register(
    "dedup_embedding_cosine",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND(CASE WHEN list_inner_product(a.e, a.e) = 0 OR list_inner_product(b.e, b.e) = 0 THEN 0.0 ELSE list_cosine_similarity(a.e, b.e) END, 4) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE ROUND(CASE WHEN list_inner_product(a.e, a.e) = 0 OR list_inner_product(b.e, b.e) = 0 THEN 0.0 ELSE list_cosine_similarity(a.e, b.e) END, 4) >= 0.45
    """,
    tags=("llm-dedup",),
    doc="Embedding-cosine near-dup pairs ≥ 0.45 "
    "(llm.dedup.embedding_cosine_pairs; norms precomputed per vector).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_cosine_pairs(e, threshold=0.45)


@register(
    "dedup_cluster_resolution",
    f"""
    WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
    e AS (
      SELECT a_id AS s, b_id AS t FROM pairs
      UNION ALL SELECT b_id, a_id FROM pairs
    ),
    walk(id, label) AS (
      SELECT DISTINCT s, s FROM e
      UNION
      SELECT e.s, w.label FROM e JOIN walk w ON e.t = w.id
    )
    SELECT id AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY id
    """,
    tags=("llm-dedup", "iterative"),
    doc="Near-dup cluster resolution (llm.dedup.connected_components): "
    "MinHash-LSH pairs → connected components via min-label propagation "
    "(checkpointed frontier, one join+agg per round, converges in "
    "component-diameter rounds). cluster_id = canonical (min) doc id. "
    "Oracle: recursive-CTE transitive closure over the exact pairs.",
)
def dedup_cluster_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.8)
    return dedup.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


@register(
    "dedup_apply_removal",
    f"""
    WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
    e AS (
      SELECT a_id AS s, b_id AS t FROM pairs
      UNION ALL SELECT b_id, a_id FROM pairs
    ),
    walk(id, label) AS (
      SELECT DISTINCT s, s FROM e
      UNION
      SELECT e.s, w.label FROM e JOIN walk w ON e.t = w.id
    ),
    clusters AS (
      SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)
    """,
    tags=("llm-dedup", "iterative", "J5", "no-bench"),
    doc="End-to-end near-dup removal (llm.dedup.apply_near_dup_removal): "
    "MinHash-LSH pairs → connected components → corpus LEFT ANTI the "
    "non-canonical members (each cluster keeps its min-id survivor). "
    "The removal list is cluster-sized, so it broadcasts and the "
    "corpus never shuffles.",
)
def dedup_apply_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.8)
    return dedup.apply_near_dup_removal(
        d.select("doc_id", "lang", "source"), pairs
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


_ANN_EXACT_TOPK_ORACLE = """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CASE WHEN list_inner_product(q.e, q.e) = 0 OR list_inner_product(c.e, c.e) = 0 THEN 0.0 ELSE list_cosine_similarity(q.e, c.e) END AS cos_raw
      FROM v q JOIN v c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 10
    ), ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank, ROUND(cos_raw, 4) AS cosine
    FROM ranked WHERE rnk <= 5
    """


@register(
    "ann_topk_cosine",
    _ANN_EXACT_TOPK_ORACLE,
    tags=("llm-similarity",),
    doc="Brute-force cosine top-5 for 10 query vectors "
    "(llm.similarity.brute_force_topk — query side broadcast).",
)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk(q, e)


@register(
    "ann_ivf_topk",
    _ANN_EXACT_TOPK_ORACLE,
    tags=("llm-similarity", "scale-path"),
    doc="IVF bucketed approximate top-k (llm.similarity.ivf_topk): "
    "16 coarse lists; index build is one broadcast map over the corpus, "
    "probing shuffles bucket ids only. Battery contract: at this probe "
    "depth the candidate set provably covers the true top-5 on the "
    "battery corpus, so the output must EQUAL exact top-k — the oracle "
    "is the brute-force SQL, making recall itself the checked property "
    "(the driver has no rows-only mode — VERDICT r1). Production recall/"
    "latency trade-offs at lower n_probe are pinned separately in "
    "tests/test_similarity_quality.py.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(q, e, n_probe=16)


@register(
    "ann_hnsw_topk",
    _ANN_EXACT_TOPK_ORACLE,
    tags=("llm-similarity", "scale-path"),
    doc="Sharded HNSW graph ANN (llm.hnsw.hnsw_topk — Malkov & "
    "Yashunin 2018, the industry-default index family, r6): one "
    "navigable-small-world graph per md5 corpus shard built in an "
    "Arrow kernel (hash-derived layers, id-ordered insertion — fully "
    "deterministic), probe-all-shards + JVM exact rescore on the "
    "candidate union. Battery contract: at ef_search ≥ shard size the "
    "layer-0 beam never saturates and the graph is connected by "
    "construction (never-pruned parent edges), so the output must "
    "EQUAL exact top-k — the oracle is the brute-force SQL and recall "
    "itself is the checked property. Production-ef recall curves and "
    "the connectivity invariant are pinned in "
    "tests/test_similarity_quality.py.",
)
def ann_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return hnsw.hnsw_topk(q, e, n_shards=8, ef_search=512)


@register(
    "ann_hnsw_index_probe",
    _ANN_EXACT_TOPK_ORACLE,
    tags=("llm-similarity", "scale-path", "I3", "no-bench"),
    doc="Persisted incremental HNSW index (llm.hnsw.HNSWIndex — the "
    "graph-ANN analog of IVFIndex): per-shard graphs build once, a "
    "second corpus half INSERTS into the standing graphs (cost ∝ "
    "batch·log n, never a rebuild; re-adding a batch is a no-op so "
    "replays converge), then full-ef probing equals exact search — "
    "the connectivity invariant (parent edges persisted as level −1 "
    "rows) survives the round trip. no-bench: persists index tables — "
    "pipeline-maintenance cost, not query latency; production-ef "
    "recall on the incremental index is pinned in "
    "tests/test_similarity_quality.py.",
)
def ann_hnsw_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    e = _t(spark, sf_dir, "embeddings")
    idx = hnsw.HNSWIndex(tempfile.mkdtemp(prefix="skyfit_hnswidx_"))
    idx.build(e.filter(F.col("vec_id") % 2 == 0))
    idx.add(e.filter(F.col("vec_id") % 2 == 0))
    idx.add(e.filter(F.col("vec_id") % 2 == 1))
    return idx.probe(e.filter(F.col("vec_id") < 10), k=5, ef_search=512)


@register(
    "ann_lsh_topk",
    _ANN_EXACT_TOPK_ORACLE,
    tags=("llm-similarity", "scale-path"),
    doc="Sign-LSH bucketed approximate top-k (llm.similarity.lsh_topk): "
    "independent sign-LSH tables; candidates only from shared buckets — "
    "shuffle ∝ n·tables, never n². Battery contract: enough tables that "
    "candidate recall is total on the battery corpus, so the output must "
    "EQUAL exact top-k (oracle = brute-force SQL; recall is the checked "
    "property). Bucketed-recall at production settings is pinned in "
    "tests/test_similarity_quality.py.",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return similarity.lsh_topk(q, e, planes=2, tables=24)


@register(
    "ann_ivf_index_probe",
    _ANN_EXACT_TOPK_ORACLE,
    tags=("llm-similarity", "scale-path", "I3", "no-bench"),
    doc="Persisted incremental IVF index (llm.similarity.IVFIndex — the "
    "ANN analog of MinHashIndex): centroids train once, the corpus is "
    "ingested in TWO batches under the frozen centroid set (cost ∝ "
    "batch, keyed MERGE so replays converge), then probing at "
    "n_probe=n_lists makes candidate recall total, so the exact "
    "brute-force SQL is the oracle. no-bench: deliberately persists "
    "index tables over the full corpus — pipeline-maintenance cost, not "
    "query latency; the sub-exhaustive regime and incremental==one-shot "
    "contracts are pinned in tests/test_similarity_quality.py.",
)
def ann_ivf_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    e = _t(spark, sf_dir, "embeddings")
    idx = similarity.IVFIndex(tempfile.mkdtemp(prefix="skyfit_ivfidx_"))
    idx.build(e.filter(F.col("vec_id") % 2 == 0))
    idx.add(e.filter(F.col("vec_id") % 2 == 0))
    idx.add(e.filter(F.col("vec_id") % 2 == 1))
    return idx.probe(e.filter(F.col("vec_id") < 10), k=5, n_probe=16)


@register(
    "ann_sharded_probe_topk",
    """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,6))::BIGINT % 16 AS shard
      FROM embeddings
    ), probes AS (
      SELECT q.vec_id AS query_id,
             ('0x'||substr(md5(CAST(q.vec_id AS VARCHAR) || ':probe:' || CAST(j.i AS VARCHAR)),1,6))::BIGINT % 16 AS shard
      FROM v q, LATERAL (SELECT UNNEST(range(0, 4)) AS i) j
      WHERE q.vec_id < 10
      GROUP BY 1, 2
    ), scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             CASE WHEN list_inner_product(q.e, q.e) = 0 OR list_inner_product(c.e, c.e) = 0 THEN 0.0 ELSE list_cosine_similarity(q.e, c.e) END AS cos_raw
      FROM probes p
      JOIN v q ON q.vec_id = p.query_id
      JOIN v c ON c.shard = p.shard AND c.vec_id <> p.query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank, ROUND(cos_raw, 4) AS cosine
    FROM ranked WHERE rnk <= 5
    """,
    tags=("llm-similarity", "scale-path"),
    doc="SUB-EXHAUSTIVE probe-limited ANN (llm.similarity.sharded_topk): "
    "4 of 16 shards probed per query — unlike ann_ivf_topk/ann_lsh_topk "
    "(total-recall settings), the candidate set here is a strict subset "
    "of the corpus, and the md5-derived shard + probe functions are "
    "engine-reproducible, so the DuckDB oracle rebuilds the SAME "
    "candidate set and the driver grades the approximate path itself "
    "(exact top-k over the probed subset).",
)
def ann_sharded_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return similarity.sharded_topk(q, e, n_shards=16, n_probe=4)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_DUCK_W = _DUCK_TOKENS.format(col="text")


@register(
    "text_quality_scores",
    f"""
    WITH t AS (SELECT doc_id, text, {_DUCK_W} AS w FROM documents)
    SELECT doc_id,
           CAST(LENGTH(text) AS INT) AS n_chars,
           CAST(len(w) AS INT) AS n_tokens,
           CAST(len(list_distinct(w)) AS INT) AS n_distinct_tokens,
           ROUND(len(list_distinct(w)) / len(w), 4) AS type_token_ratio,
           ROUND(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) / len(w), 4) AS stopword_ratio,
           CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS n_punct,
           ROUND(LENGTH(text) / len(w), 4) AS avg_token_span
    FROM t
    """,
    tags=("llm-text",),
    doc="Per-document quality metrics (llm.text.quality_metrics): "
    "length/token/TTR/stopword/punctuation scores, all codegen'd.",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return text_ops.quality_metrics(d)


def _lang_list(lang: str) -> str:
    return "[" + ",".join(f"'{s}'" for s in text_ops.STOPWORDS[lang]) + "]"


@register(
    "text_language_id",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_W} AS w FROM documents),
    h AS (
      SELECT doc_id,
             CAST(len(list_filter(w, x -> list_contains({_lang_list('de')}, x))) AS INT) AS hits_de,
             CAST(len(list_filter(w, x -> list_contains({_lang_list('en')}, x))) AS INT) AS hits_en,
             CAST(len(list_filter(w, x -> list_contains({_lang_list('es')}, x))) AS INT) AS hits_es,
             CAST(len(list_filter(w, x -> list_contains({_lang_list('fr')}, x))) AS INT) AS hits_fr,
             CAST(len(list_filter(w, x -> list_contains({_lang_list('zh')}, x))) AS INT) AS hits_zh
      FROM t
    )
    SELECT doc_id, hits_de, hits_en, hits_es, hits_fr, hits_zh,
           CASE WHEN GREATEST(hits_de, hits_en, hits_es, hits_fr, hits_zh) <= 0 THEN 'und'
                WHEN hits_de = GREATEST(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'de'
                WHEN hits_en = GREATEST(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'en'
                WHEN hits_es = GREATEST(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'es'
                WHEN hits_fr = GREATEST(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'fr'
                ELSE 'zh' END AS predicted_lang
    FROM h
    """,
    tags=("llm-text",),
    doc="Stopword-hit language ID (llm.text.language_scores); argmax with "
    "deterministic code-order tie-break.",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return text_ops.language_scores(d)


@register(
    "text_token_counts",
    f"""
    SELECT doc_id,
           CAST(len({_DUCK_W}) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS bpe_ish_tokens,
           CAST(LENGTH(text) AS INT) AS n_chars
    FROM documents
    """,
    tags=("llm-text",),
    doc="Token counting: whitespace + BPE-ish regex segmentation "
    "(llm.text.bpe_ish_token_count).",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text_ops.token_count("text").cast("int").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), 0))
        .cast("int")
        .alias("bpe_ish_tokens"),
        F.length("text").cast("int").alias("n_chars"),
    )


@register(
    "text_fingerprint",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKENS.format(col="lower(trim(text))")} AS w FROM documents)
    SELECT doc_id, MD5(array_to_string(w[1:8], ' ')) AS fingerprint FROM t
    """,
    tags=("llm-text",),
    doc="Document fingerprinting: md5 of the 8-token normalized prefix "
    "(llm.text.doc_fingerprint) — cheap near-dup pregrouping key.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text_ops.doc_fingerprint("text").alias("fingerprint"))


# Fixture suffixes for text_unicode_normalize, one per doc_id % 5: the
# ASCII no-op, combining acute (composes to é), ring+diaeresis
# (Ångström decomposed), the ANGSTROM SIGN / OHM SIGN singletons, and
# an acute+cedilla pair whose canonical classes (230 > 202) force the
# NFC reordering step without composing. documents.text itself is
# ASCII-only (checked at fixture design), so the suffix carries ALL the
# normalization activity and both engines see identical raw bytes.
_UNICODE_SUFFIXES = (
    "",
    " cafe\u0301",  # e + COMBINING ACUTE -> composes to e-acute
    " A\u030Angstro\u0308m",  # ring + diaeresis, decomposed Angstrom
    " \u212B+\u2126",  # ANGSTROM SIGN / OHM SIGN singleton mappings
    " A\u0301\u0327",  # acute(230)+cedilla(202): NFC reorders cedilla first, acute still
    # composes with A (ccc 202 < 230 does not block) -> A-acute + cedilla
)


@register(
    "text_unicode_normalize",
    """
    WITH r AS (
      SELECT doc_id, text ||
        CASE doc_id % 5
          WHEN 0 THEN ''
          WHEN 1 THEN ' cafe' || chr(769)
          WHEN 2 THEN ' A' || chr(778) || 'ngstro' || chr(776) || 'm'
          WHEN 3 THEN ' ' || chr(8491) || '+' || chr(8486)
          ELSE ' A' || chr(769) || chr(807)
        END AS raw
      FROM documents WHERE doc_id < 400
    ), n AS (
      SELECT doc_id, raw, nfc_normalize(raw) AS norm FROM r
    )
    SELECT doc_id, CAST(length(raw) AS INT) AS n_raw,
           CAST(length(norm) AS INT) AS n_norm,
           (norm <> raw) AS changed,
           md5(norm) AS norm_md5
    FROM n
    """,
    tags=("llm-text",),
    doc="Unicode NFC canonicalization (llm.curation.normalize_unicode, "
    "Arrow-batched unicodedata kernel — the pre-hash cleanup step that "
    "stops composed/decomposed twins surviving exact dedup): fixture "
    "appends deterministic combining/singleton/reordering suffixes per "
    "doc, output hash-checks codepoint lengths, a changed flag and the "
    "md5 of every normalized string against DuckDB's utf8proc "
    "nfc_normalize — two independent UAX #15 implementations agreeing "
    "byte-for-byte IS the checked property.",
)
def text_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _UNICODE_SUFFIXES]),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    raw = d.select("doc_id", F.concat(F.col("text"), suffix).alias("raw"))
    n = curation.normalize_unicode(raw, "raw", form="NFC", out_col="norm")
    return n.select(
        "doc_id",
        F.length("raw").alias("n_raw"),
        F.length("norm").alias("n_norm"),
        (F.col("norm") != F.col("raw")).alias("changed"),
        F.md5(F.encode("norm", "UTF-8")).alias("norm_md5"),
    )


@register(
    "text_decontamination",
    """
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 5 THEN
               list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
                              for i in range(1, len(w)-3)])
             ELSE [] END AS s
      FROM t
    ), tr AS (
      SELECT doc_id AS train_id, UNNEST(s) AS g FROM sh WHERE doc_id < 450 AND len(s) > 0
    ), ev AS (
      SELECT doc_id AS eval_id, UNNEST(s) AS g FROM sh WHERE doc_id >= 450 AND len(s) > 0
    ), hits AS (
      SELECT train_id, eval_id, COUNT(*) AS shared
      FROM tr JOIN ev USING (g) GROUP BY train_id, eval_id
    ), per_train AS (
      SELECT train_id, CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
             CAST(MAX(shared) AS BIGINT) AS max_shared
      FROM hits GROUP BY train_id
    )
    SELECT d.doc_id AS train_id,
           COALESCE(p.n_eval_hits, 0) AS n_eval_hits,
           COALESCE(p.max_shared, 0) AS max_shared,
           (COALESCE(p.max_shared, 0) >= 2) AS contaminated
    FROM (SELECT doc_id FROM sh WHERE doc_id < 450) d
    LEFT JOIN per_train p ON d.doc_id = p.train_id
    """,
    tags=("llm-decontamination",),
    doc="Eval-set decontamination (llm.decontaminate.contamination_report): "
    "train docs (doc_id < 450) checked for shared 5-gram shingles against "
    "an eval corpus (doc_id >= 450) — the GPT-3/Pile overlap check before "
    "a data release. The eval shingle index is BROADCAST, so the train "
    "side (the 100 TB side) joins map-side and never shuffles for "
    "candidate generation.",
)
def text_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.decontaminate import contamination_report

    d = _t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") < 450)
    evalset = d.filter(F.col("doc_id") >= 450)
    return contamination_report(train, evalset, n=5, min_shared=2)


@register(
    "text_repetition_metrics",
    """
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
      FROM documents
    ),
    uc AS (
      SELECT doc_id, g, COUNT(*) AS cnt
      FROM (SELECT doc_id, UNNEST(w) AS g FROM t) GROUP BY 1, 2
    ),
    ur AS (
      SELECT doc_id, g, cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g ASC) AS rn
      FROM uc
    ),
    bg AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 2
                  THEN [w[i]||' '||w[i+1] for i in range(1, len(w))]
                  ELSE [] END AS g2
      FROM t
    ),
    bc AS (
      SELECT doc_id, g, COUNT(*) AS cnt
      FROM (SELECT doc_id, UNNEST(g2) AS g FROM bg) GROUP BY 1, 2
    ),
    br AS (
      SELECT doc_id, g, cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g ASC) AS rn
      FROM bc
    ),
    tot AS (SELECT doc_id, len(w) AS n1, GREATEST(len(w) - 1, 0) AS n2 FROM t),
    j AS (
      SELECT tot.doc_id,
             COALESCE(u.g, '') AS top_unigram,
             CAST(COALESCE(u.cnt, 0) AS INT) AS unigram_count,
             CASE WHEN n1 > 0 THEN ROUND(COALESCE(u.cnt, 0) / n1, 4) ELSE 0.0 END AS unigram_frac,
             COALESCE(b.g, '') AS top_bigram,
             CAST(COALESCE(b.cnt, 0) AS INT) AS bigram_count,
             CASE WHEN n2 > 0 THEN ROUND(COALESCE(b.cnt, 0) / n2, 4) ELSE 0.0 END AS bigram_frac
      FROM tot
      LEFT JOIN (SELECT * FROM ur WHERE rn = 1) u USING (doc_id)
      LEFT JOIN (SELECT * FROM br WHERE rn = 1) b USING (doc_id)
    )
    SELECT *, (unigram_frac >= 0.12 OR bigram_frac >= 0.06) AS is_repetitive FROM j
    """,
    tags=("llm-text",),
    doc="Gopher-style repetition quality filter (llm.curation."
    "top_ngram_stats): per-doc most-frequent unigram/bigram and the "
    "fraction of the text they cover; high fractions flag boilerplate. "
    "Explode -> partial-combining count -> per-doc top-1 window "
    "(partitioned by doc_id, never global); shuffle volume is bounded "
    "by token count.",
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.curation import top_ngram_stats

    d = _t(spark, sf_dir, "documents")
    uni = top_ngram_stats(d, n=1, prefix="uni")
    bi = top_ngram_stats(d, n=2, prefix="bi")
    return uni.join(bi, "doc_id").select(
        "*",
        ((F.col("unigram_frac") >= 0.12) | (F.col("bigram_frac") >= 0.06)).alias(
            "is_repetitive"
        ),
    )


@register(
    "pii_scan_redaction",
    """
    WITH corpus AS (
      SELECT c_custkey,
             c_name
             || CASE WHEN c_custkey % 3 <> 0
                     THEN ' <c' || CAST(c_custkey AS VARCHAR) || '@customer.example.com>'
                     ELSE '' END
             || CASE WHEN c_custkey % 2 = 0
                     THEN ' call ' || lpad(CAST(c_nationkey % 100 AS VARCHAR), 2, '0')
                          || '-555-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
                          || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || ' segment ' || c_mktsegment AS text
      FROM customer
    ),
    scanned AS (
      SELECT c_custkey,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
             CAST(len(regexp_extract_all(text, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
             regexp_replace(
               regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS redacted
      FROM corpus
    )
    SELECT c_custkey, n_emails, n_phones,
           md5(redacted) AS redacted_md5,
           CAST(LENGTH(redacted) AS INT) AS n_chars_redacted
    FROM scanned
    """,
    tags=("llm-text",),
    doc="PII scan + redaction (llm.curation.pii_scan): email/phone "
    "regexp counts and tokenized redaction — the pre-training scrub "
    "pass. Pure codegen'd map, zero shuffle, scan-speed at 100 TB. The "
    "battery builds a deterministic contact-card corpus from `customer` "
    "(the synthetic documents table contains no PII-shaped strings) "
    "identically on both engines, and md5s the redacted text so the "
    "checked value pins every replaced byte.",
)
def pii_scan_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.curation import pii_scan

    c = _t(spark, sf_dir, "customer")
    corpus = c.select(
        "c_custkey",
        F.concat(
            F.col("c_name"),
            F.when(
                F.col("c_custkey") % 3 != 0,
                F.concat(
                    F.lit(" <c"),
                    F.col("c_custkey").cast("string"),
                    F.lit("@customer.example.com>"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("c_custkey") % 2 == 0,
                F.concat(
                    F.lit(" call "),
                    F.lpad((F.col("c_nationkey") % 100).cast("string"), 2, "0"),
                    F.lit("-555-"),
                    F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
                    F.lit("-"),
                    F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.lit(" segment "),
            F.col("c_mktsegment"),
        ).alias("text"),
    )
    scanned = pii_scan(corpus, text_col="text", id_col="c_custkey")
    return scanned.select(
        "c_custkey",
        "n_emails",
        "n_phones",
        F.md5(F.col("redacted")).alias("redacted_md5"),
        F.length("redacted").cast("int").alias("n_chars_redacted"),
    )


@register(
    "text_vocab_oov",
    """
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
      FROM documents
    ),
    tok AS (SELECT doc_id, UNNEST(w) AS tk FROM t),
    v AS (
      SELECT tk FROM (
        SELECT tk, COUNT(*) AS freq FROM tok GROUP BY tk
        ORDER BY freq DESC, tk ASC LIMIT 16
      )
    ),
    pd AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             SUM(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM tok LEFT JOIN v ON tok.tk = v.tk GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_tokens, 0) AS INT) AS n_tokens,
           CAST(COALESCE(n_oov, 0) AS INT) AS n_oov,
           CASE WHEN COALESCE(n_tokens, 0) > 0 THEN ROUND(n_oov / n_tokens, 4) ELSE 0.0 END AS oov_frac
    FROM (SELECT doc_id FROM documents) d LEFT JOIN pd USING (doc_id)
    """,
    tags=("llm-text",),
    doc="Corpus-vocabulary coverage (llm.curation.oov_stats): top-16 "
    "corpus-frequency vocab (count desc, token asc — deterministic K "
    "boundary), then per-doc out-of-vocabulary fraction. Two-pass "
    "plan: the vocab aggregate reduces to K rows and is BROADCAST; the "
    "corpus-sized token stream joins map-side and never shuffles by "
    "token.",
)
def text_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.curation import oov_stats

    d = _t(spark, sf_dir, "documents")
    return oov_stats(d, vocab_size=16)


@register(
    "table_profile",
    """
    SELECT 'doc_id' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct
    FROM documents
    UNION ALL
    SELECT 'lang', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT lang) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'source', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT source) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'n_chars', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT n_chars) AS BIGINT)
    FROM documents
    """,
    tags=("A1", "A2", "A5"),
    doc="Generic table profiling (functions.profile.profile_table): one "
    "aggregation pass computes every column's row/null/distinct counts, "
    "then a cheap unpivot emits one row per column — the operator form "
    "of the reference's ad-hoc audit SQL (audit_stg.sql counts/null/"
    "distinct blocks). Exact mode for the oracle; approx=True (HLL++, "
    "single pass, no expand) is the 100 TB default.",
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.profile import profile_table

    d = _t(spark, sf_dir, "documents")
    return profile_table(d, ["doc_id", "lang", "source", "n_chars"])


@register(
    "value_histogram",
    """
    WITH b AS (
      SELECT MIN(CAST(l_extendedprice AS DOUBLE)) AS lo,
             MAX(CAST(l_extendedprice AS DOUBLE)) AS hi,
             COUNT(l_extendedprice) AS n_total
      FROM lineitem
    ),
    w AS (
      SELECT lo, hi, n_total,
             CASE WHEN hi = lo THEN 1.0 ELSE (hi - lo) / 16 END AS width
      FROM b
    ),
    h AS (
      SELECT CAST(LEAST(15, FLOOR((CAST(l_extendedprice AS DOUBLE) - lo) / width)) AS INT) AS bucket,
             COUNT(*) AS n
      FROM lineitem, w
      WHERE l_extendedprice IS NOT NULL
      GROUP BY 1
    )
    SELECT h.bucket,
           w.lo + h.bucket * w.width AS bucket_lo,
           CAST(h.n AS BIGINT) AS n,
           CAST(h.n AS DOUBLE) / w.n_total AS frac
    FROM h, w
    """,
    tags=("A1", "A3", "2.10-math"),
    doc="Equi-width value histogram (functions.profile."
    "equi_width_histogram): min/max aggregate (two scalars to the "
    "driver) then ONE map-side-combining groupBy on the bucket ordinal "
    "— ≤ nbins rows cross the shuffle per task. Bucket math is "
    "subtraction/division/floor, all correctly-rounded IEEE ops, so "
    "both engines bucket every value identically with no epsilon "
    "nudging.",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.profile import equi_width_histogram

    li = _t(spark, sf_dir, "lineitem")
    return equi_width_histogram(li, "l_extendedprice", 16)


@register(
    "corpus_mixture_sample",
    """
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT MIN(n) AS n_min FROM c),
    r AS (
      SELECT lang, CAST(FLOOR(1000000 * SQRT(n_min / n)) AS BIGINT) AS keep_threshold
      FROM c, m
    )
    SELECT d.doc_id, d.lang, r.keep_threshold
    FROM documents d JOIN r USING (lang)
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT % 1000000
          < r.keep_threshold
    """,
    tags=("llm-split",),
    doc="Temperature-based mixture downsampling (llm.curation."
    "temperature_sample, alpha=0.5): language g kept at rate "
    "sqrt(n_min/n_g), thinning over-represented languages toward the "
    "multilingual p_g ∝ n_g^0.5 sampling distribution. Keep decision "
    "is an integer md5-bucket-vs-threshold compare; division and sqrt "
    "are correctly-rounded IEEE ops so both engines build the identical "
    "threshold. Group counts reduce to K rows and broadcast — the "
    "corpus filters map-side, zero shuffle.",
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.curation import temperature_sample

    d = _t(spark, sf_dir, "documents")
    return temperature_sample(d, group_col="lang")


@register(
    "corpus_budget_select",
    f"""
    WITH t AS (
      SELECT doc_id, n_chars, CAST(len({_DUCK_W}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 8000
    """,
    tags=("llm-split",),
    doc="Token-budget corpus selection (llm.curation.budget_select): "
    "take documents best-first (longest here; any quality key works) "
    "until the cumulative whitespace-token count hits the budget. The "
    "running sum is the distributed prefix-sum "
    "(operators.scale.ordered_running_sum) — range partition, "
    "partition-local windows, broadcast offsets — never a global "
    "single-task Window.orderBy.",
)
def corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.curation import budget_select

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (-F.col("n_chars")).alias("__neg_chars"),
        text_ops.token_count("text").cast("long").alias("n_tokens"),
    )
    sel = budget_select(
        d,
        cost_col="n_tokens",
        order_cols=["__neg_chars", "doc_id"],
        budget=8000,
        out_col="cum_tokens",
    )
    return sel.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


@register(
    "cross_doc_duplication",
    f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKENS.format(col='text')} AS w FROM documents
    ),
    sh AS (
      SELECT doc_id, {_DUCK_SHINGLES.format(w='w')} AS s FROM t
    ),
    e AS (
      SELECT doc_id, UNNEST(s) AS g FROM sh
    ),
    c AS (
      SELECT g, COUNT(*) AS ndocs FROM e GROUP BY g
    ),
    p AS (
      SELECT e.doc_id, COUNT(*) AS n_shingles,
             SUM(CASE WHEN c.ndocs > 1 THEN 1 ELSE 0 END) AS n_shared
      FROM e JOIN c USING (g) GROUP BY e.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_shingles, 0) AS INT) AS n_shingles,
           CAST(COALESCE(p.n_shared, 0) AS INT) AS n_shared,
           CASE WHEN COALESCE(p.n_shingles, 0) > 0
                THEN ROUND(CAST(p.n_shared AS DOUBLE) / p.n_shingles, 4)
                ELSE 0.0 END AS shared_frac
    FROM documents d LEFT JOIN p USING (doc_id)
    """,
    tags=("llm-dedup", "llm-text"),
    doc="Cross-corpus duplication score (llm.curation."
    "cross_doc_duplication): fraction of each doc's distinct 3-gram "
    "shingles occurring in ≥1 other doc — the boilerplate/template "
    "filter signal complementing intra-doc repetition metrics. "
    "Inverted-index construction: shuffle ∝ shingles, no pairwise term.",
)
def cross_doc_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.curation import cross_doc_duplication as _cdd

    d = _t(spark, sf_dir, "documents")
    return _cdd(d, n=3)


@register(
    "corpus_cap_per_group",
    """
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, source FROM r WHERE rk <= 10
    """,
    tags=("llm-split", "W1"),
    doc="Per-source document cap (llm.curation.cap_per_group): at most "
    "k=10 docs per source, chosen by md5(doc_id) order — a seedless, "
    "engine-reproducible uniform draw, so no source dominates the mix "
    "and the kept set is unbiased w.r.t. ingestion order. One window "
    "shuffle on the group key.",
)
def corpus_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.curation import cap_per_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(d, group_col="source", k=10)


@register(
    "contrastive_negative_pairs",
    """
    WITH idx AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS pos FROM documents
    ),
    n AS (SELECT COUNT(*) AS n_total FROM documents),
    slots AS (
      SELECT d.doc_id AS anchor_id, s.slot
      FROM documents d CROSS JOIN (SELECT UNNEST(range(0, 4)) AS slot) s
    ),
    t AS (
      SELECT anchor_id, slot,
             ('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || '|' || CAST(slot AS VARCHAR)), 1, 15))::BIGINT
              % (SELECT n_total FROM n) AS target_idx
      FROM slots
    )
    SELECT t.anchor_id, CAST(t.slot AS INT) AS slot, i.doc_id AS negative_id
    FROM t JOIN idx i ON i.pos = t.target_idx
    WHERE t.anchor_id <> i.doc_id
    """,
    tags=("llm-split", "llm-packing"),
    doc="Contrastive-pair construction (llm.curation."
    "negative_sample_pairs): k=4 seedless md5-derived negatives per "
    "anchor, drawn by dense corpus position "
    "(operators.scale.dense_index — distributed prefix-sum, no "
    "single-task window; the same primitive is the DataFrame-native "
    "zipWithIndex). Self-pairs dropped; draws are with replacement.",
)
def contrastive_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.curation import negative_sample_pairs

    d = _t(spark, sf_dir, "documents")
    return negative_sample_pairs(d, k=4)


@register(
    "document_chunking",
    """
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
      FROM documents
    ),
    s AS (
      SELECT doc_id, w, len(w) AS n,
             CASE WHEN len(w) <= 64 THEN 1 ELSE 1 + (len(w) - 64 + 55) // 56 END AS n_chunks
      FROM t
    ),
    c AS (
      SELECT doc_id,
             UNNEST([i for i in range(0, n_chunks)]) AS chunk_id,
             UNNEST([least(64, n - i*56) for i in range(0, n_chunks)]) AS n_chunk_tokens,
             UNNEST([array_to_string(w[i*56+1 : least(i*56+64, n)], ' ')
                     for i in range(0, n_chunks)]) AS chunk_text
      FROM s
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(n_chunk_tokens AS INT) AS n_chunk_tokens,
           md5(chunk_text) AS chunk_md5
    FROM c
    """,
    tags=("llm-packing",),
    doc="Long-document chunking (llm.curation.chunk_documents): 64-token "
    "chunks with 8-token overlap (stride 56), final remainder chunk kept "
    "— the doc → training-sequence step that feeds sequence packing. "
    "Pure map + explode, no shuffle; output rows ∝ tokens/stride. The "
    "battery md5s each chunk's text so every token boundary is pinned.",
)
def document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.curation import chunk_documents

    d = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(d, chunk_tokens=64, overlap=8)
    return chunks.select(
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )


@register(
    "embedding_quantize_int8",
    """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), s AS (
      SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS scale FROM v
    ), q AS (
      SELECT vec_id, scale,
             CASE WHEN scale > 0
                  THEN list_transform(e, x -> CAST(ROUND(x / scale * 127) AS INT))
                  ELSE list_transform(e, x -> 0) END AS qvec
      FROM s
    )
    SELECT vec_id, scale, CAST(len(qvec) AS INT) AS n_dims,
           md5(array_to_string(qvec, ',')) AS qvec_md5
    FROM q
    """,
    tags=("llm-similarity", "storage"),
    doc="Symmetric int8 embedding quantization (llm.similarity."
    "quantize_embeddings): per-vector scale + rounded codes — 4-16x "
    "smaller embedding tables for ANN probing at 100TB. The battery "
    "projects the code array to an md5 signature: the driver's "
    "canonicalizer cannot hash list cells (VERDICT r1), and the scalar "
    "scale is an exact max of stored doubles (no arithmetic, no "
    "rounding) so both engines agree bit-for-bit.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = similarity.quantize_embeddings(e)
    return q.select(
        "vec_id",
        "scale",
        F.size("qvec").cast("int").alias("n_dims"),
        F.md5(F.concat_ws(",", F.transform("qvec", lambda x: x.cast("string")))).alias(
            "qvec_md5"
        ),
    )


@register(
    "continuous_aggregate_hourly",
    """
    SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS __bucket_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2
    """,
    tags=("temporal-rollup", "I3"),
    doc="Hypertable-style continuous aggregate (operators/rollup."
    "ContinuousAggregate): hourly rollup built over all but the last "
    "day of events, then incrementally refreshed with that day — only "
    "touched buckets recompute. Final table must equal the one-shot "
    "batch aggregation (the oracle).",
)
def continuous_aggregate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .operators.rollup import ContinuousAggregate
    from .tables import load_table

    e = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")

    def agg_fn(df, bucket_col):
        return df.groupBy(bucket_col, "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(15,2)"))
            .cast("double")
            .alias("total"),
        )

    split = "2024-01-28"
    historical = e.filter(F.col("ts") < split)
    late = e.filter(F.col("ts") >= split)
    agg = ContinuousAggregate(
        tempfile.mkdtemp(prefix="skyfit_rollup_"),
        ts_col="ts",
        bucket="1 hour",
        agg_fn=agg_fn,
    )
    agg.build(historical)
    agg.refresh(e, late)  # incremental: only post-split buckets recompute
    out = agg.read(spark)
    return out.select(
        F.col("__bucket_start").cast("timestamp_ntz").alias("__bucket_start"),
        "event_type",
        "n",
        "total",
    )


@register(
    "gapfill_locf_hourly",
    """
    WITH obs AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket_ts, MAX(value) AS v
      FROM events WHERE user_id < 40
      GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(bucket_ts) AS b0, MAX(bucket_ts) AS b1
      FROM obs GROUP BY 1
    ), spine AS (
      SELECT user_id, UNNEST(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket_ts
      FROM span
    ), joined AS (
      SELECT s.user_id, s.bucket_ts, o.v
      FROM spine s LEFT JOIN obs o
        ON o.user_id = s.user_id AND o.bucket_ts = s.bucket_ts
    )
    SELECT user_id, bucket_ts,
           LAST_VALUE(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket_ts ASC NULLS LAST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
    FROM joined
    """,
    tags=("2.10-datetime", "A3"),
    doc="Time-bucket gap filling with last-observation-carried-forward "
    "(r5, operators/temporal.gapfill_locf — the TimescaleDB "
    "time_bucket_gapfill + locf analog): hourly MAX downsample per "
    "user (an exact order-free aggregate — no cross-engine tie-break "
    "problem), a per-key bucket spine exploded from each key's own "
    "observed range (never keys × a global calendar), and an "
    "ignorenulls last() forward fill over an unbounded-preceding row "
    "frame. The first spine bucket is observed by construction, so "
    "the filled value is never null. Oracle: generate_series + "
    "LAST_VALUE IGNORE NULLS — both windows pinned ASC NULLS LAST "
    "(the r4 ordering rule).",
)
def gapfill_locf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import gapfill_locf

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 40)
        .select("user_id", "ts", "value")
    )
    return gapfill_locf(e, key_cols=["user_id"], ts_col="ts", value_col="value")


@register(
    "asof_join_last_purchase",
    """
    WITH clicks AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.ts, c.event_id, p.value AS last_purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
    tags=("temporal-asof",),
    doc="As-of join (operators/temporal.asof_join): every click gets the "
    "user's most recent at-or-before purchase value. Spark lacks a "
    "native ASOF; the engine composes it as union + per-key ordered "
    "window forward-fill — one shuffle, no per-row subqueries. Oracle "
    "is DuckDB's native ASOF LEFT JOIN.",
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import asof_join
    from .tables import load_table

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    out = asof_join(clicks, purchases, ["user_id"], value_cols=["value"])
    return out.select(
        "user_id", "ts", "event_id", F.col("value").alias("last_purchase_value")
    )


@register(
    "range_join_maintenance_windows",
    """
    WITH w AS (
      SELECT CAST(i + 1 AS BIGINT) AS window_id,
             TIMESTAMP '2024-01-01 02:00:00' + INTERVAL 1 DAY * i AS w_start,
             TIMESTAMP '2024-01-01 06:00:00' + INTERVAL 1 DAY * i AS w_end
      FROM (SELECT UNNEST(range(0, 30)) AS i)
    )
    SELECT w.window_id, CAST(COUNT(e.event_id) AS BIGINT) AS n_events
    FROM w LEFT JOIN events e ON w.w_start <= e.ts AND e.ts < w.w_end
    GROUP BY w.window_id
    """,
    tags=("temporal-range",),
    doc="Range (point-in-interval) join (operators/temporal."
    "bucketed_range_join): events within daily maintenance windows. "
    "Intervals explode into time buckets and the join is a hash "
    "equi-join on bucket id — never a nested-loop over points×intervals.",
)
def range_join_maintenance_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import bucketed_range_join
    from .tables import load_table

    e = load_table(spark, sf_dir, "events").select("event_id", "ts")
    w = spark.range(30).select(
        (F.col("id") + 1).alias("window_id"),
        (F.to_timestamp(F.lit("2024-01-01 02:00:00")) + F.make_dt_interval(days=F.col("id"))).alias("w_start"),
        (F.to_timestamp(F.lit("2024-01-01 06:00:00")) + F.make_dt_interval(days=F.col("id"))).alias("w_end"),
    )
    joined = bucketed_range_join(
        e, w, point_ts="ts", start_col="w_start", end_col="w_end", how="right"
    )
    return joined.groupBy("window_id").agg(F.count("event_id").alias("n_events"))


@register(
    "dataset_split_assignment",
    """
    WITH t AS (
      SELECT doc_id,
             ('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100 AS bucket,
             ('0x'||substr(md5(source), 1, 4))::INT % 100 AS gbucket
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'validation'
                ELSE 'test' END AS split,
           CASE WHEN gbucket < 90 THEN 'train'
                WHEN gbucket < 95 THEN 'validation'
                ELSE 'test' END AS group_split
    FROM t
    """,
    tags=("llm-split",),
    doc="Deterministic 90/5/5 dataset split via content-independent id "
    "hash (md5 % 100) — reproducible across runs, engines, and cluster "
    "layouts; no sampling state, no shuffle, pure map. `group_split` "
    "hashes the doc's `source` instead: every document of one source "
    "lands in the SAME split (leakage-safe grouping — near-identical "
    "docs from one origin can't straddle train and test).",
)
def dataset_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")

    def bucketed_split(key):
        bucket = F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("long") % 100
        return (
            F.when(bucket < 90, F.lit("train"))
            .when(bucket < 95, F.lit("validation"))
            .otherwise(F.lit("test"))
        )

    return d.select(
        "doc_id",
        bucketed_split(F.col("doc_id").cast("string")).alias("split"),
        bucketed_split(F.col("source")).alias("group_split"),
    )


@register(
    "sequence_packing",
    """
    WITH t AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           CAST(FLOOR((cum - n_tokens) / 2048) AS BIGINT) AS pack_id
    FROM c
    """,
    tags=("llm-packing",),
    doc="Greedy sequential packing of documents into 2048-token context "
    "windows: running token total → pack id (the batch-construction "
    "step of an LLM training pipeline). The running total is a "
    "distributed prefix-sum (operators.scale.ordered_running_sum): "
    "range-partition + partition-local windows + broadcast offsets — "
    "never a global Window.orderBy, which would drag every row through "
    "one task at 100 TB.",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.scale import ordered_running_sum

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", text_ops.token_count("text").alias("n_tokens"))
    cum = ordered_running_sum(toks, ["doc_id"], "n_tokens", out_col="__cum")
    return cum.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.floor((F.col("__cum") - F.col("n_tokens")) / 2048).alias("pack_id"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "multimodal_extract_embeddings",
    """
    SELECT doc_id,
           ('0x'||substr(md5(text),  1, 2))::INT / 255.0 AS f0,
           ('0x'||substr(md5(text),  3, 2))::INT / 255.0 AS f1,
           ('0x'||substr(md5(text),  5, 2))::INT / 255.0 AS f2,
           ('0x'||substr(md5(text),  7, 2))::INT / 255.0 AS f3,
           ('0x'||substr(md5(text),  9, 2))::INT / 255.0 AS f4,
           ('0x'||substr(md5(text), 11, 2))::INT / 255.0 AS f5,
           ('0x'||substr(md5(text), 13, 2))::INT / 255.0 AS f6,
           ('0x'||substr(md5(text), 15, 2))::INT / 255.0 AS f7
    FROM documents WHERE doc_id < 200
    """,
    tags=("llm-multimodal",),
    doc="Media feature extraction plumbing (llm.multimodal."
    "extract_embeddings): payload → fixed-width float vector via Arrow "
    "mapInPandas (the encoder seam of a vision/audio pipeline; encoder "
    "stubbed to md5-derived bytes). Battery projects the vector to 8 "
    "scalar columns — same doubles both engines (byte/255.0), and the "
    "driver canonicalizer can't hash arrays.",
)
def multimodal_extract_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = multimodal.attach_binary_payload(d, "text")
    feats = multimodal.extract_embeddings(media, dims=8)
    return feats.select(
        "doc_id",
        *[
            (F.element_at("features", i + 1).cast("double")).alias(f"f{i}")
            for i in range(8)
        ],
    )


@register(
    "multimodal_manifest",
    """
    SELECT doc_id, MD5(text) AS content_md5,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           'text/plain' AS mime
    FROM documents
    """,
    tags=("llm-multimodal",),
    doc="Media manifest over a binary payload column "
    "(llm.multimodal.attach_binary_payload + media_manifest).",
)
def multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    media = multimodal.attach_binary_payload(d, "text", mime="text/plain")
    return multimodal.media_manifest(media, "doc_id")


@register(
    "multimodal_decode_images",
    """
    WITH p AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h
      FROM documents WHERE doc_id < 300
    ), s AS (
      SELECT p.doc_id, p.w, p.h,
             SUM((p.doc_id + 3*x.i + 7*y.i + c.i) % 256) AS psum
      FROM p,
           LATERAL (SELECT UNNEST(range(0, p.w)) AS i) x,
           LATERAL (SELECT UNNEST(range(0, p.h)) AS i) y,
           LATERAL (SELECT UNNEST(range(0, 3)) AS i) c
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels, CAST(psum AS BIGINT) AS pixel_sum
    FROM s
    """,
    tags=("llm-multimodal",),
    doc="REAL image decode (llm.multimodal): synthesize_bmp_payloads encodes "
    "an actual 24-bpp BMP per doc (deterministic pixels, 0xFF row padding), "
    "then decode_images parses the BITMAPINFOHEADER and sums every pixel "
    "channel byte, skipping padding. The oracle recomputes width/height/"
    "pixel_sum arithmetically from the same closed-form pixel function — "
    "a byte-level codec round-trip graded exactly.",
)
def multimodal_decode_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = multimodal.synthesize_bmp_payloads(d, id_col="doc_id")
    return multimodal.decode_images(media)


@register(
    "multimodal_decode_audio",
    """
    WITH p AS (
      SELECT doc_id,
             list_value(8000,16000,22050,44100,48000)[1 + doc_id % 5] AS sr,
             64 + doc_id % 97 AS n
      FROM documents WHERE doc_id < 300
    ), s AS (
      SELECT p.doc_id, p.sr, p.n,
             SUM(((p.doc_id * 7919 + i.i * 104729) % 65536) - 32768) AS ssum,
             SUM((((p.doc_id * 7919 + i.i * 104729) % 65536) - 32768)
               * (((p.doc_id * 7919 + i.i * 104729) % 65536) - 32768)) AS ssq
      FROM p, LATERAL (SELECT UNNEST(range(0, p.n)) AS i) i
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, CAST(sr AS INT) AS sample_rate, CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 // sr AS BIGINT) AS duration_ms,
           CAST(ssum AS BIGINT) AS sample_sum,
           sqrt(CAST(ssq AS DOUBLE) / n) AS rms
    FROM s
    """,
    tags=("llm-multimodal",),
    doc="REAL audio decode (llm.multimodal): synthesize_wav_payloads encodes "
    "an actual 16-bit PCM RIFF/WAVE file per doc (deterministic samples), "
    "then decode_audio parses it with the stdlib `wave` reader + struct "
    "sample unpack, computing exact integer sample_sum and rms = "
    "sqrt(ssq/n). The oracle recomputes all stats arithmetically from the "
    "same closed-form sample generator (sqrt and / are correctly-rounded "
    "IEEE ops, so rms hash-compares exactly).",
)
def multimodal_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = multimodal.synthesize_wav_payloads(d, id_col="doc_id")
    return multimodal.decode_audio(media)


@register(
    "multimodal_decode_aiff",
    """
    WITH p AS (
      SELECT doc_id,
             list_value(8000,16000,22050,44100,48000)[1 + (doc_id + 2) % 5] AS sr,
             50 + doc_id % 89 AS nf,
             1 + doc_id % 2 AS ch
      FROM documents WHERE doc_id < 300
    ), s AS (
      SELECT p.doc_id, p.sr, p.nf, p.ch,
             SUM(((p.doc_id * 6007 + i.i * 31337) % 65536) - 32768) AS ssum,
             SUM((((p.doc_id * 6007 + i.i * 31337) % 65536) - 32768)
               * (((p.doc_id * 6007 + i.i * 31337) % 65536) - 32768)) AS ssq
      FROM p, LATERAL (SELECT UNNEST(range(0, p.nf * p.ch)) AS i) i
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_id, CAST(sr AS INT) AS sample_rate,
           CAST(nf * ch AS BIGINT) AS n_samples,
           CAST(nf * 1000 // sr AS BIGINT) AS duration_ms,
           CAST(ssum AS BIGINT) AS sample_sum,
           sqrt(CAST(ssq AS DOUBLE) / (nf * ch)) AS rms
    FROM s
    """,
    tags=("llm-multimodal",),
    doc="REAL AIFF decode (llm.multimodal): synthesize_aiff_payloads encodes "
    "an actual FORM/AIFF file per doc — COMM with the 80-bit-extended "
    "sampleRate (byte golden: 44100 = 400E AC44…), SSND big-endian PCM, "
    "every other payload stereo — then decode_audio's AIFF leg walks the "
    "chunk list and unpacks every sample. Same stat contract as the WAV "
    "entry: exact integer sample_sum, rms = sqrt(ssq/n) (correctly-rounded "
    "IEEE ops, hash-safe), duration from FRAMES not samples — the oracle "
    "recomputes everything arithmetically from the closed-form generator.",
)
def multimodal_decode_aiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = multimodal.synthesize_aiff_payloads(d, id_col="doc_id")
    return multimodal.decode_audio(media)


@register(
    "multimodal_resize_images",
    """
    SELECT doc_id, CAST(64 AS INT) AS width, CAST(64 AS INT) AS height,
           md5(substr(repeat(md5(text), 129), 1, 4096)) AS payload_md5
    FROM documents WHERE doc_id < 200
    """,
    tags=("llm-multimodal",),
    doc="Image resize plumbing (llm.multimodal.resize_images): payload → "
    "resized payload + dims; the normalize step before a vision encoder. "
    "The stub codec tiles the ASCII content hash to width·height bytes, "
    "so even the fake path has an exact cross-engine oracle.",
)
def multimodal_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = multimodal.attach_binary_payload(d, "text", mime="image/png")
    resized = multimodal.resize_images(media, width=64, height=64)
    return resized.select("doc_id", "width", "height", F.md5("payload").alias("payload_md5"))


@register(
    "multimodal_resize_decode",
    """
    WITH p AS (
      SELECT doc_id, 4 + doc_id % 13 AS sw, 4 + doc_id % 11 AS sh
      FROM documents WHERE doc_id < 200
    ), s AS (
      SELECT p.doc_id,
             SUM((p.doc_id + 3 * ((x.i * p.sw) // 16) + 7 * ((y.i * p.sh) // 12) + c.i) % 256) AS psum
      FROM p,
           LATERAL (SELECT UNNEST(range(0, 16)) AS i) x,
           LATERAL (SELECT UNNEST(range(0, 12)) AS i) y,
           LATERAL (SELECT UNNEST(range(0, 3)) AS i) c
      GROUP BY 1
    )
    SELECT doc_id, CAST(16 AS INT) AS width, CAST(12 AS INT) AS height,
           CAST(3 AS INT) AS n_channels, CAST(psum AS BIGINT) AS pixel_sum
    FROM s
    """,
    tags=("llm-multimodal",),
    doc="REAL image resize roundtrip (llm.multimodal): synthesize real "
    "24-bpp BMPs, nearest-neighbor resample to 16x12 over the decoded "
    "pixel array (integer source sampling (x*sw)//16, re-encoded as "
    "BMP), then decode_images parses the result and sums every channel "
    "byte. The oracle recomputes the resampled pixel_sum arithmetically "
    "from the closed-form source pixel function — every byte of the "
    "resized image is graded.",
)
def multimodal_resize_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = multimodal.synthesize_bmp_payloads(d, id_col="doc_id")
    resized = multimodal.resize_images(media, width=16, height=12)
    return multimodal.decode_images(resized)


@register(
    "multimodal_audio_resample",
    """
    WITH p AS (
      SELECT doc_id,
             list_value(8000,16000,22050,44100,48000)[1 + doc_id % 5] // 4 AS sr,
             64 + doc_id % 97 AS n0
      FROM documents WHERE doc_id < 200
    ), q AS (
      SELECT doc_id, sr, (n0 + 3) // 4 AS n FROM p
    ), s AS (
      SELECT q.doc_id, q.sr, q.n,
             SUM(((q.doc_id * 7919 + (4*i.i) * 104729) % 65536) - 32768) AS ssum,
             SUM((((q.doc_id * 7919 + (4*i.i) * 104729) % 65536) - 32768)
               * (((q.doc_id * 7919 + (4*i.i) * 104729) % 65536) - 32768)) AS ssq
      FROM q, LATERAL (SELECT UNNEST(range(0, q.n)) AS i) i
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, CAST(sr AS INT) AS sample_rate, CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 // sr AS BIGINT) AS duration_ms,
           CAST(ssum AS BIGINT) AS sample_sum,
           sqrt(CAST(ssq AS DOUBLE) / n) AS rms
    FROM s
    """,
    tags=("llm-multimodal",),
    doc="REAL audio downsample roundtrip (llm.multimodal.resample_audio): "
    "synthesize real PCM WAVs, decimate by 4 (keep every 4th sample, "
    "rate/4, re-encoded container), then decode_audio re-parses the "
    "result. The oracle recomputes the decimated sample set "
    "arithmetically (sample index i → source index 4i), so every "
    "surviving sample is graded — the audio analog of "
    "multimodal_resize_decode.",
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = multimodal.synthesize_wav_payloads(d, id_col="doc_id")
    resampled = multimodal.resample_audio(media, factor=4).select("doc_id", "payload")
    return multimodal.decode_audio(resampled)


@register(
    "multimodal_frame_sample",
    """
    WITH p AS (
      SELECT doc_id, 4 * (1 + doc_id % 3) AS w, 3 + doc_id % 4 AS h,
             3 + doc_id % 6 AS nf
      FROM documents WHERE doc_id < 200
    ), f AS (
      SELECT doc_id, w, h, i.i AS frame_idx
      FROM p, LATERAL (SELECT UNNEST(range(0, nf)) AS i) i
      WHERE i.i % 2 = 0
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(frame_idx * 500 AS BIGINT) AS ts_ms,
           md5(substr(repeat('doc' || CAST(doc_id AS VARCHAR) || 'f'
                 || CAST(frame_idx AS VARCHAR) || 'x', w*h*3), 1, w*h*3)) AS frame_md5
    FROM f
    """,
    tags=("llm-multimodal",),
    doc="REAL video frame sampling (llm.multimodal): synthesize_avi_payloads "
    "encodes an actual RIFF/AVI container per doc (hdrl header with 2 fps "
    "timing + movi LIST of uncompressed '00db' DIB frames whose bytes are "
    "a closed-form ASCII tile), then sample_video_frames walks the chunks "
    "for real — frame timing from the avih header, one frame per second of "
    "stream time (every 2nd frame at 2 fps), md5 over the actual frame "
    "bytes. The oracle rebuilds each sampled frame's payload as a SQL "
    "string and md5s it — the 1→N container round-trip graded exactly.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = multimodal.synthesize_avi_payloads(d, id_col="doc_id")
    return multimodal.sample_video_frames(media, every_ms=1000)


@register(
    "multimodal_decode_png",
    """
    WITH p AS (
      SELECT doc_id, 4 + doc_id % 17 AS w, 4 + doc_id % 15 AS h
      FROM documents WHERE doc_id < 300
    ), s AS (
      SELECT p.doc_id, p.w, p.h,
             SUM((5*p.doc_id + 11*x.i + 13*y.i + 17*c.i) % 256) AS psum
      FROM p,
           LATERAL (SELECT UNNEST(range(0, p.w)) AS i) x,
           LATERAL (SELECT UNNEST(range(0, p.h)) AS i) y,
           LATERAL (SELECT UNNEST(range(0, 3)) AS i) c
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels, CAST(psum AS BIGINT) AS pixel_sum
    FROM s
    """,
    tags=("llm-multimodal",),
    doc="REAL compressed-image decode (llm.multimodal): "
    "synthesize_png_payloads encodes an actual 8-bit RGB PNG per doc — "
    "deterministic pixels, scanline filter cycling y % 5 through all five "
    "PNG filter types, zlib-deflated IDAT, real chunk CRCs — then "
    "decode_images inflates the stream and reverses the Sub/Up/Average/"
    "Paeth per-scanline filters (_png_pixels) before summing every "
    "channel byte. The oracle recomputes width/height/pixel_sum "
    "arithmetically from the closed-form pixel function — a compressed "
    "byte-level codec round-trip graded exactly.",
)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = multimodal.synthesize_png_payloads(d, id_col="doc_id")
    return multimodal.decode_images(media)


@register(
    "dedup_semantic_sharded",
    """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,6))::BIGINT % 16 AS shard
      FROM embeddings
    ), d AS (
      SELECT b.vec_id AS id, MIN(a.vec_id) AS dup_of
      FROM v a JOIN v b ON a.shard = b.shard AND a.vec_id < b.vec_id
      WHERE ROUND(CASE WHEN list_inner_product(a.e, a.e) = 0 OR list_inner_product(b.e, b.e) = 0 THEN 0.0 ELSE list_cosine_similarity(a.e, b.e) END, 4) >= 0.25
      GROUP BY b.vec_id
    )
    SELECT v.vec_id AS id, CAST(v.shard AS INT) AS shard,
           CAST(d.dup_of IS NOT NULL AS INT) AS is_dup, d.dup_of
    FROM v LEFT JOIN d ON d.id = v.vec_id
    """,
    tags=("llm-dedup", "scale-path"),
    doc="SemDeDup-style semantic dedup (llm.dedup.semantic_dedup): "
    "cluster the embedding space (md5 shard here — engine-reproducible, "
    "same convention as ann_sharded_probe_topk; k-means cluster ids in "
    "production), BLAS Gram matrix per shard, mark vectors with a "
    "lower-id cluster-mate at ROUND(cos,4) >= 0.25 as duplicates of the "
    "smallest such id. Work is sum(|cluster|^2), never n^2 — the oracle "
    "rebuilds the identical intra-shard pair set.",
)
def dedup_semantic_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return dedup.semantic_dedup(e, n_shards=16, threshold=0.25)


@register(
    "quality_filter_gopher",
    """
    WITH t AS (SELECT doc_id, text,
                      list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
               FROM documents),
    m AS (
      SELECT doc_id, len(w) AS n_words,
             list_sum(list_transform(w, x -> LENGTH(x))) AS sum_len,
             len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
             len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS stopword_hits,
             LENGTH(text) - LENGTH(REPLACE(text, '#', ''))
               + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_symbols
      FROM t
    ), r AS (
      SELECT doc_id, CAST(n_words AS INT) AS n_words,
             CASE WHEN n_words > 0 THEN ROUND(sum_len / n_words, 4) END AS mean_word_len,
             CASE WHEN n_words > 0 THEN ROUND(n_alpha / n_words, 4) END AS alpha_word_frac,
             CASE WHEN n_words > 0 THEN ROUND(n_symbols / n_words, 4) END AS symbol_ratio,
             CAST(stopword_hits AS INT) AS stopword_hits
      FROM m
    )
    SELECT doc_id, n_words, mean_word_len, alpha_word_frac, symbol_ratio, stopword_hits,
           CASE WHEN n_words >= 10 AND n_words <= 100000 THEN 1 ELSE 0 END AS r_word_count,
           CASE WHEN mean_word_len >= 2.0 AND mean_word_len <= 12.0 THEN 1 ELSE 0 END AS r_mean_word_len,
           CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END AS r_symbol_ratio,
           CASE WHEN alpha_word_frac >= 0.8 THEN 1 ELSE 0 END AS r_alpha_words,
           CASE WHEN stopword_hits >= 2 THEN 1 ELSE 0 END AS r_stopwords,
           CASE WHEN n_words >= 10 AND n_words <= 100000
                 AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
                 AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8
                 AND stopword_hits >= 2 THEN 1 ELSE 0 END AS keep
    FROM r
    """,
    tags=("llm-text",),
    doc="Gopher document-level quality gate (llm.curation.gopher_rules): "
    "word-count bounds, mean-word-length band, symbol-to-word ratio, "
    "alphabetic-word fraction, stopword-hit minimum — per-rule 0/1 flags "
    "plus the conjunction. Pure codegen'd map, one staged tokenization, "
    "zero shuffle; ROUND(,4) ratio boundaries are engine-identical.",
)
def quality_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.curation import gopher_rules

    d = _t(spark, sf_dir, "documents")
    return gopher_rules(d)


@register(
    "curation_pipeline",
    """
WITH RECURSIVE
tall AS (SELECT doc_id, text, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
         FROM documents),
t AS (SELECT * FROM tall WHERE doc_id < 450),
m AS (
  SELECT doc_id, len(w) AS n_words,
         list_sum(list_transform(w, x -> LENGTH(x))) AS sum_len,
         len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
         len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS stop_hits,
         LENGTH(text) - LENGTH(REPLACE(text, '#', '')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_symbols
  FROM t
),
q AS (
  SELECT doc_id,
         CASE WHEN n_words >= 10 AND n_words <= 100000
               AND (CASE WHEN n_words > 0 THEN ROUND(sum_len / n_words, 4) END) >= 2.0
               AND (CASE WHEN n_words > 0 THEN ROUND(sum_len / n_words, 4) END) <= 12.0
               AND (CASE WHEN n_words > 0 THEN ROUND(n_symbols / n_words, 4) END) <= 0.1
               AND (CASE WHEN n_words > 0 THEN ROUND(n_alpha / n_words, 4) END) >= 0.8
               AND stop_hits >= 2 THEN 1 ELSE 0 END AS q_keep
  FROM m
),
p1 AS (SELECT t.* FROM t JOIN q USING (doc_id) WHERE q_keep = 1),
ex AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY MD5(text)) AS canon FROM p1),
exdrop AS (SELECT doc_id FROM ex WHERE doc_id <> canon),
p2 AS (SELECT * FROM p1 WHERE doc_id NOT IN (SELECT doc_id FROM exdrop)),
sh AS (SELECT doc_id,
              CASE WHEN len(w) >= 3 THEN
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])
              ELSE [] END AS s
       FROM p2),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)), 4) >= 0.8
),
e AS (SELECT a_id AS s, b_id AS t FROM pairs UNION ALL SELECT b_id, a_id FROM pairs),
walk(id, label) AS (
  SELECT DISTINCT s, s FROM e
  UNION
  SELECT e.s, w2.label FROM e JOIN walk w2 ON e.t = w2.id
),
labels AS (SELECT id, MIN(label) AS cluster FROM walk GROUP BY id),
ndrop AS (SELECT id AS doc_id FROM labels WHERE id <> cluster),
p3 AS (SELECT * FROM p2 WHERE doc_id NOT IN (SELECT doc_id FROM ndrop)),
sh5t AS (SELECT doc_id,
                CASE WHEN len(w) >= 5 THEN
                  list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
                                 for i in range(1, len(w)-3)])
                ELSE [] END AS s
         FROM p3),
sh5e AS (SELECT doc_id,
                CASE WHEN len(w) >= 5 THEN
                  list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
                                 for i in range(1, len(w)-3)])
                ELSE [] END AS s
         FROM tall WHERE doc_id >= 450),
tr AS (SELECT doc_id AS train_id, UNNEST(s) AS g FROM sh5t WHERE len(s) > 0),
ev AS (SELECT doc_id AS eval_id, UNNEST(s) AS g FROM sh5e WHERE len(s) > 0),
hits AS (SELECT train_id, eval_id, COUNT(*) AS shared FROM tr JOIN ev USING (g) GROUP BY 1, 2),
contam AS (SELECT train_id AS doc_id FROM hits GROUP BY train_id HAVING MAX(shared) >= 2),
disp AS (
  SELECT t.doc_id,
         CASE WHEN q.q_keep = 0 THEN 'quality'
              WHEN t.doc_id IN (SELECT doc_id FROM exdrop) THEN 'exact_dup'
              WHEN t.doc_id IN (SELECT doc_id FROM ndrop) THEN 'near_dup'
              WHEN t.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
              ELSE 'kept' END AS drop_reason
  FROM t JOIN q USING (doc_id)
)
SELECT doc_id, drop_reason, CAST(drop_reason = 'kept' AS INT) AS kept FROM disp
""",
    tags=("llm-text", "llm-dedup", "llm-decontamination", "iterative"),
    doc="END-TO-END corpus curation (llm.curation.curate_corpus): the "
    "full pre-training gate in one call — Gopher quality rules, then "
    "exact content-hash dedup (min-id canonical), then MinHash-LSH "
    "near-dup removal via connected components, then n-gram "
    "decontamination against the eval corpus (doc_id >= 450), each stage "
    "over the previous stage's survivors. Output is the per-document "
    "disposition audit (first dropping stage wins). The oracle replays "
    "all four stages in SQL, including the recursive-CTE transitive "
    "closure for clusters; the near-dup stage relies on the pinned "
    "property that LSH at these settings has no false negatives on this "
    "corpus (dedup_minhash_lsh), which restriction to a survivor subset "
    "preserves (banding is per-pair).",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.curation import curate_corpus

    d = _t(spark, sf_dir, "documents")
    return curate_corpus(
        d.filter(F.col("doc_id") < 450), d.filter(F.col("doc_id") >= 450)
    )


@register(
    "multimodal_decode_gif",
    """
    WITH p AS (
      SELECT doc_id, 4 + doc_id % 14 AS w, 4 + doc_id % 12 AS h
      FROM documents WHERE doc_id < 300
    ), s AS (
      SELECT p.doc_id, p.w, p.h,
             SUM((3*p.doc_id + 5*x.i + 7*y.i) % 256) AS isum
      FROM p,
           LATERAL (SELECT UNNEST(range(0, p.w)) AS i) x,
           LATERAL (SELECT UNNEST(range(0, p.h)) AS i) y
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels, CAST(3 * isum AS BIGINT) AS pixel_sum
    FROM s
    """,
    tags=("llm-multimodal",),
    doc="REAL palette-image decode (llm.multimodal): "
    "synthesize_gif_payloads encodes an actual GIF87a per doc — 256-entry "
    "grayscale global color table, image data compressed with a real "
    "variable-width LZW encoder (9-12 bit codes, clear/EOI, dictionary "
    "reset at 4096) split into sub-blocks — then decode_images walks the "
    "container, LZW-decompresses the index stream (_lzw_decode handles "
    "width growth one entry behind the encoder and the KwKwK case) and "
    "resolves every index through the palette before summing r+g+b. The "
    "oracle recomputes width/height/pixel_sum arithmetically from the "
    "closed-form index function — a compressed codec round-trip graded "
    "exactly.",
)
def multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = multimodal.synthesize_gif_payloads(d, id_col="doc_id")
    return multimodal.decode_images(media)


@register(
    "ann_knn_join",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             CASE WHEN list_inner_product(a.e, a.e) = 0 OR list_inner_product(b.e, b.e) = 0 THEN 0.0 ELSE list_cosine_similarity(a.e, b.e) END AS cos_raw
      FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank, ROUND(cos_raw, 4) AS cosine
    FROM ranked WHERE rnk <= 3
    """,
    tags=("llm-similarity", "scale-path"),
    doc="EXACT k-NN self-join (llm.similarity.knn_join): top-3 cosine "
    "neighbors of EVERY corpus vector via block-matmul candidate "
    "generation (shuffle n·num_blocks rows, per-group BLAS local top-k "
    "with a 1e-9 ulp slack) + JVM-sequential exact rescoring, so the "
    "final ranking is bit-identical to the brute-force SQL oracle — "
    "numpy proposes, the JVM decides. The all-vectors analog of "
    "ann_topk_cosine (whose query side is 10 vectors).",
)
def ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return similarity.knn_join(e, k=3, num_blocks=4)


@register(
    "multimodal_image_features",
    """
    WITH p AS (
      SELECT doc_id, 4 + doc_id % 14 AS w, 4 + doc_id % 12 AS h
      FROM documents WHERE doc_id < 250
    ), s AS (
      SELECT p.doc_id, p.w, p.h,
             SUM((3*p.doc_id + 5*x.i + 7*y.i) % 256) AS vsum,
             SUM(((3*p.doc_id + 5*x.i + 7*y.i) % 256) * ((3*p.doc_id + 5*x.i + 7*y.i) % 256)) AS vsq,
             SUM(CASE WHEN (3*p.doc_id + 5*x.i + 7*y.i) % 256 > 127 THEN 1 ELSE 0 END) AS nhigh,
             MIN((3*p.doc_id + 5*x.i + 7*y.i) % 256) AS vmin,
             MAX((3*p.doc_id + 5*x.i + 7*y.i) % 256) AS vmax
      FROM p,
           LATERAL (SELECT UNNEST(range(0, p.w)) AS i) x,
           LATERAL (SELECT UNNEST(range(0, p.h)) AS i) y
      GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           CAST(w AS DOUBLE) AS f_width, CAST(h AS DOUBLE) AS f_height,
           CAST(3 AS DOUBLE) AS f_channels,
           CAST(vsum AS DOUBLE) / (w*h) AS f_mean,
           SQRT(CAST(vsq AS DOUBLE) / (w*h)) AS f_rms,
           CAST(nhigh AS DOUBLE) / (w*h) AS f_frac_high,
           CAST(vmin AS DOUBLE) AS f_min, CAST(vmax AS DOUBLE) AS f_max
    FROM s
    """,
    tags=("llm-multimodal",),
    doc="REAL image feature extraction (llm.multimodal.extract_embeddings "
    "real path): GIF payloads are LZW-decoded and palette-resolved, then "
    "8 classical content features are computed from the ACTUAL channel "
    "bytes — dims, byte mean, rms, frac>127, min, max. Exact integer "
    "accumulation + one IEEE divide (and sqrt, correctly rounded both "
    "engines), so the oracle recomputes every feature arithmetically "
    "from the closed-form pixel function. For a grayscale palette the "
    "per-channel stats equal the per-index stats (each index appears "
    "3x), which the oracle exploits: mean = 3*sum_v/(3*w*h) = sum_v/(w*h).",
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    media = multimodal.synthesize_gif_payloads(d, id_col="doc_id")
    feats = multimodal.extract_embeddings(media, dims=8)
    names = [
        "f_width", "f_height", "f_channels", "f_mean",
        "f_rms", "f_frac_high", "f_min", "f_max",
    ]
    return feats.select(
        "doc_id",
        *[F.element_at("features", i + 1).alias(n) for i, n in enumerate(names)],
    )


@register(
    "grouped_exact_percentiles",
    """
    WITH r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value NULLS LAST, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(MAX(CASE WHEN rn = (n+1)//2 THEN value END) AS DOUBLE) AS p50,
           CAST(MAX(CASE WHEN rn = (9*n+9)//10 THEN value END) AS DOUBLE) AS p90,
           CAST(MAX(CASE WHEN rn = (99*n+99)//100 THEN value END) AS DOUBLE) AS p99
    FROM r GROUP BY event_type
    """,
    tags=("A2", "W1", "2.10-math"),
    doc="EXACT per-group discrete percentiles (percentile_disc "
    "semantics): rank ceil(q*n) picked with INTEGER arithmetic — "
    "(q_num*n + q_num) // q_den — because float q*n lands just below "
    "whole numbers when q*n is integral and floor/ceil then selects the "
    "wrong rank (IEEE float-boundary trap). One exchange+sort per "
    "group; complements the scalar exact percentiles of "
    "approx_sketch_stats and the pytest-bounded sketch tier.",
)
def grouped_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    # Spark defaults to NULLS FIRST on asc, DuckDB to NULLS LAST — pin
    # NULLS LAST on both sides so a regenerated testdata with NULL values
    # cannot shift ranks between engines (code-review r3).
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_last(), "event_id"
    )
    r = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    pick = lambda num, den: F.max(  # noqa: E731
        F.when(F.col("rn") == F.expr(f"div({num}*n + {num}, {den})"), F.col("value"))
    ).cast("double")
    return r.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        pick(1, 2).alias("p50"),
        pick(9, 10).alias("p90"),
        pick(99, 100).alias("p99"),
    )


@register(
    "multimodal_audio_features",
    """
    WITH p AS (
      SELECT doc_id,
             CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                  WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS sr,
             64 + doc_id % 97 AS n
      FROM documents WHERE doc_id < 250
    ), s AS (
      SELECT p.doc_id, p.sr, p.n,
             SUM(t.v) AS vsum, SUM(t.v * t.v) AS vsq,
             MIN(t.v) AS vmin, MAX(t.v) AS vmax,
             SUM(CASE WHEN t.i < p.n - 1 AND t.v * t.vnext < 0 THEN 1 ELSE 0 END) AS zc
      FROM p, LATERAL (
        SELECT i.i AS i,
               ((p.doc_id*7919 + i.i*104729) % 65536) - 32768 AS v,
               ((p.doc_id*7919 + (i.i+1)*104729) % 65536) - 32768 AS vnext
        FROM (SELECT UNNEST(range(0, p.n)) AS i) i
      ) t
      GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           CAST(sr AS DOUBLE) AS f_rate, CAST(n AS DOUBLE) AS f_nsamples,
           CAST((n*1000)//sr AS DOUBLE) AS f_duration_ms,
           CAST(vsum AS DOUBLE) / n AS f_mean,
           SQRT(CAST(vsq AS DOUBLE) / n) AS f_rms,
           CAST(zc AS DOUBLE) / (n-1) AS f_zcr,
           CAST(vmin AS DOUBLE) AS f_min, CAST(vmax AS DOUBLE) AS f_max
    FROM s
    """,
    tags=("llm-multimodal",),
    doc="REAL audio feature extraction (llm.multimodal.extract_embeddings "
    "WAV path): payloads are real RIFF/WAVE containers whose PCM samples "
    "are struct-unpacked, then 8 classical features computed from the "
    "ACTUAL samples — rate/count/duration, mean, rms, strict "
    "zero-crossing rate (s_i*s_{i+1} < 0), min, max. Exact integer "
    "accumulation + one IEEE divide (and sqrt), so the oracle recomputes "
    "every feature arithmetically from the closed-form sample function.",
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    media = multimodal.synthesize_wav_payloads(d, id_col="doc_id")
    feats = multimodal.extract_embeddings(media, dims=8)
    names = [
        "f_rate", "f_nsamples", "f_duration_ms", "f_mean",
        "f_rms", "f_zcr", "f_min", "f_max",
    ]
    return feats.select(
        "doc_id",
        *[F.element_at("features", i + 1).alias(n) for i, n in enumerate(names)],
    )


@register(
    "multimodal_video_features",
    """
WITH p AS (
  SELECT doc_id, 4*(1 + doc_id % 3) AS w, 3 + doc_id % 4 AS h, 3 + doc_id % 6 AS nf
  FROM documents WHERE doc_id < 200
), fr AS (
  SELECT p.doc_id, p.w, p.h, p.nf, f.i AS fi,
         'doc' || CAST(p.doc_id AS VARCHAR) || 'f' || CAST(f.i AS VARCHAR) || 'x' AS tile
  FROM p, LATERAL (SELECT UNNEST(range(0, p.nf)) AS i) f
), ch AS (
  SELECT doc_id, w, h, nf, fi, LENGTH(tile) AS L,
         SUM(ord(substr(tile, j.j, 1))) AS csum,
         SUM(ord(substr(tile, j.j, 1)) * ord(substr(tile, j.j, 1))) AS csq,
         MIN(ord(substr(tile, j.j, 1))) AS cmin,
         MAX(ord(substr(tile, j.j, 1))) AS cmax,
         COALESCE(SUM(CASE WHEN j.j <= (w*h*3) % LENGTH(tile) THEN ord(substr(tile, j.j, 1)) END), 0) AS psum,
         COALESCE(SUM(CASE WHEN j.j <= (w*h*3) % LENGTH(tile) THEN ord(substr(tile, j.j, 1)) * ord(substr(tile, j.j, 1)) END), 0) AS psq
  FROM fr, LATERAL (SELECT UNNEST(range(1, LENGTH(fr.tile) + 1)) AS j) j
  GROUP BY 1, 2, 3, 4, 5, 6
), perdoc AS (
  SELECT doc_id, w, h, nf,
         SUM((w*h*3 // L) * csum + psum) AS vsum,
         SUM((w*h*3 // L) * csq + psq) AS vsq,
         MIN(cmin) AS vmin, MAX(cmax) AS vmax
  FROM ch GROUP BY 1, 2, 3, 4
)
SELECT doc_id,
       CAST(nf AS DOUBLE) AS f_frames, CAST(1000000 AS DOUBLE)/500000 AS f_fps,
       CAST(nf * 500 AS DOUBLE) AS f_duration_ms,
       CAST(vsum AS DOUBLE) / (nf*w*h*3) AS f_mean,
       SQRT(CAST(vsq AS DOUBLE) / (nf*w*h*3)) AS f_rms,
       CAST(0 AS DOUBLE) AS f_frac_high,
       CAST(vmin AS DOUBLE) AS f_min, CAST(vmax AS DOUBLE) AS f_max
FROM perdoc
""",
    tags=("llm-multimodal",),
    doc="REAL video feature extraction (llm.multimodal.extract_embeddings "
    "AVI path): the RIFF/AVI container is walked for real (avih timing + "
    "movi frame chunks) and 8 classical features computed over the ACTUAL "
    "concatenated frame bytes — frame count, fps from the header, "
    "duration, byte mean/rms/frac>127/min/max. The oracle rebuilds every "
    "frame's ASCII tile arithmetically (per-tile char-code sums x full "
    "repeats + prefix remainder) — completing real content-derived "
    "features for all four media types (image/audio/video + manifest).",
)
def multimodal_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = multimodal.synthesize_avi_payloads(d, id_col="doc_id")
    feats = multimodal.extract_embeddings(media, dims=8)
    names = [
        "f_frames", "f_fps", "f_duration_ms", "f_mean",
        "f_rms", "f_frac_high", "f_min", "f_max",
    ]
    return feats.select(
        "doc_id",
        *[F.element_at("features", i + 1).alias(n) for i, n in enumerate(names)],
    )


@register(
    "multimodal_video_pixels",
    """
    WITH p AS (
      SELECT doc_id, doc_id % 2 AS variant,
             8*(1 + doc_id % 3) AS w, 8*(1 + doc_id % 2) AS h,
             126 + doc_id % 5 AS cb, 125 + doc_id % 7 AS cr,
             2 + doc_id % 4 AS nf
      FROM documents WHERE doc_id < 250
    ), fr AS (
      SELECT p.*, f.f AS frame_idx
      FROM p, LATERAL (SELECT UNNEST(range(0, p.nf, 2)) AS f) f
    ), b AS (
      SELECT fr.doc_id, fr.variant, fr.w, fr.h, fr.frame_idx,
             (3*fr.doc_id + 11*fr.frame_idx + 5*bx.i + 7*by.i) % 256 AS yv,
             LEAST(255, GREATEST(0, CAST(FLOOR(((3*fr.doc_id + 11*fr.frame_idx + 5*bx.i + 7*by.i) % 256)
                 + 1.402*(fr.cr - 128) + 0.5) AS BIGINT))) AS r,
             LEAST(255, GREATEST(0, CAST(FLOOR(((3*fr.doc_id + 11*fr.frame_idx + 5*bx.i + 7*by.i) % 256)
                 - 0.344136*(fr.cb - 128) - 0.714136*(fr.cr - 128) + 0.5) AS BIGINT))) AS g,
             LEAST(255, GREATEST(0, CAST(FLOOR(((3*fr.doc_id + 11*fr.frame_idx + 5*bx.i + 7*by.i) % 256)
                 + 1.772*(fr.cb - 128) + 0.5) AS BIGINT))) AS bl
      FROM fr,
           LATERAL (SELECT UNNEST(range(0, fr.w // 8)) AS i) bx,
           LATERAL (SELECT UNNEST(range(0, fr.h // 8)) AS i) by
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(frame_idx * 250 AS BIGINT) AS ts_ms,
           CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
           CAST(CASE WHEN MAX(variant) = 0 THEN 1 ELSE 3 END AS INT) AS n_channels,
           CAST(SUM(64 * CASE WHEN variant = 0 THEN yv ELSE r + g + bl END) AS BIGINT) AS pixel_sum
    FROM b GROUP BY doc_id, frame_idx
    """,
    tags=("llm-multimodal",),
    doc="PIXEL-TRUE video decode (VERDICT r4 next #1): "
    "synthesize_mjpeg_avi_payloads encodes a REAL Motion-JPEG AVI per "
    "doc — each '00dc' movi chunk a complete entropy-coded baseline "
    "JFIF stream (grayscale / 4:4:4 color alternating by id) — and "
    "decode_video_pixels walks the RIFF container for real (avih "
    "timing, strf MJPG format, movi chunks), samples one frame per "
    "500 ms and runs the FULL JPEG decode (Huffman + dequant + IDCT + "
    "YCbCr→RGB) on each sampled frame, making video the fourth "
    "modality with pixel-true features. Per-8x8-block-constant luma "
    "and constant chroma make the DC quant round trip exactly lossless "
    "(DC step 8 divides 8·(y−128)), so the oracle recomputes every "
    "decoded pixel of every sampled frame in closed form, floor(x+0.5) "
    "color rounding mirrored as the same IEEE mult/add/floor sequence. "
    "Scale: one mapInPandas over payload rows, zero shuffles; cost is "
    "sampled-frames × decoded pixels, corpus-parallel like "
    "decode_images.",
)
def multimodal_video_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    media = multimodal.synthesize_mjpeg_avi_payloads(d, id_col="doc_id")
    return multimodal.decode_video_pixels(media, every_ms=500)


_JPEG_ORACLE_BLOCKS = """
    WITH p AS (
      SELECT doc_id, doc_id % 3 AS variant,
             CASE WHEN doc_id % 3 = 2 THEN 16*(1 + (doc_id % 5) % 2)
                  ELSE 8*(1 + doc_id % 5) END AS w,
             CASE WHEN doc_id % 3 = 2 THEN 16*(1 + (doc_id % 7) % 2)
                  ELSE 8*(1 + doc_id % 4) END AS h,
             126 + doc_id % 5 AS cb, 125 + doc_id % 7 AS cr
      FROM documents WHERE doc_id < 300
    ), b AS (
      SELECT p.doc_id, p.variant, p.w, p.h,
             (3*p.doc_id + 5*bx.i + 7*by.i) % 256 AS yv,
             LEAST(255, GREATEST(0, CAST(FLOOR(((3*p.doc_id + 5*bx.i + 7*by.i) % 256)
                 + 1.402*(p.cr - 128) + 0.5) AS BIGINT))) AS r,
             LEAST(255, GREATEST(0, CAST(FLOOR(((3*p.doc_id + 5*bx.i + 7*by.i) % 256)
                 - 0.344136*(p.cb - 128) - 0.714136*(p.cr - 128) + 0.5) AS BIGINT))) AS g,
             LEAST(255, GREATEST(0, CAST(FLOOR(((3*p.doc_id + 5*bx.i + 7*by.i) % 256)
                 + 1.772*(p.cb - 128) + 0.5) AS BIGINT))) AS bl
      FROM p,
           LATERAL (SELECT UNNEST(range(0, p.w // 8)) AS i) bx,
           LATERAL (SELECT UNNEST(range(0, p.h // 8)) AS i) by
    )
"""


@register(
    "multimodal_decode_jpeg",
    _JPEG_ORACLE_BLOCKS
    + """
    SELECT doc_id, CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
           CAST(CASE WHEN MAX(variant) = 0 THEN 1 ELSE 3 END AS INT) AS n_channels,
           CAST(SUM(64 * CASE WHEN variant = 0 THEN yv
                              WHEN variant = 1 THEN 3 * yv
                              ELSE r + g + bl END) AS BIGINT) AS pixel_sum
    FROM b GROUP BY doc_id
    """,
    tags=("llm-multimodal",),
    doc="REAL entropy-coded JPEG decode (llm.multimodal, VERDICT r3 "
    "next #1): synthesize_jpeg_payloads encodes an actual baseline JFIF "
    "stream per doc — real float64 forward DCT, Annex-K-derived quant "
    "tables (DC step 8), canonical Huffman DC-diff + AC-RLE entropy "
    "coding, 0xFF byte stuffing — cycling grayscale, 4:4:4 color and "
    "4:2:0 subsampled color; decode_images parses DQT/SOF0/DHT/SOS, "
    "Huffman-decodes the MCU stream, dequantizes, runs the matrix IDCT, "
    "upsamples chroma and converts JFIF YCbCr to RGB. Luma is per-block "
    "constant so the DC coefficient 8*(y-128) is exactly divisible by "
    "the DC quant step: the lossy pipeline is exactly lossless for "
    "these payloads and the oracle recomputes every decoded pixel in "
    "closed form (floor(x+0.5) color rounding mirrored as the same IEEE "
    "mult/add/floor sequence in SQL).",
)
def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = multimodal.synthesize_jpeg_payloads(d, id_col="doc_id")
    return multimodal.decode_images(media)


@register(
    "multimodal_jpeg_features",
    _JPEG_ORACLE_BLOCKS
    + """
    , s AS (
      SELECT doc_id, MAX(w) AS w, MAX(h) AS h, MAX(variant) AS variant,
             MAX(w) * MAX(h) * (CASE WHEN MAX(variant) = 0 THEN 1 ELSE 3 END) AS n,
             SUM(64 * CASE WHEN variant = 0 THEN yv WHEN variant = 1 THEN 3*yv
                           ELSE r + g + bl END) AS vsum,
             SUM(64 * CASE WHEN variant = 0 THEN yv*yv WHEN variant = 1 THEN 3*yv*yv
                           ELSE r*r + g*g + bl*bl END) AS vsq,
             SUM(64 * CASE WHEN variant = 0 THEN CASE WHEN yv > 127 THEN 1 ELSE 0 END
                           WHEN variant = 1 THEN 3 * (CASE WHEN yv > 127 THEN 1 ELSE 0 END)
                           ELSE (CASE WHEN r > 127 THEN 1 ELSE 0 END)
                              + (CASE WHEN g > 127 THEN 1 ELSE 0 END)
                              + (CASE WHEN bl > 127 THEN 1 ELSE 0 END) END) AS nhigh,
             MIN(CASE WHEN variant IN (0, 1) THEN yv ELSE LEAST(r, g, bl) END) AS vmin,
             MAX(CASE WHEN variant IN (0, 1) THEN yv ELSE GREATEST(r, g, bl) END) AS vmax
      FROM b GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(w AS DOUBLE) AS f_width, CAST(h AS DOUBLE) AS f_height,
           CAST(CASE WHEN variant = 0 THEN 1 ELSE 3 END AS DOUBLE) AS f_channels,
           CAST(vsum AS DOUBLE) / n AS f_mean,
           SQRT(CAST(vsq AS DOUBLE) / n) AS f_rms,
           CAST(nhigh AS DOUBLE) / n AS f_frac_high,
           CAST(vmin AS DOUBLE) AS f_min, CAST(vmax AS DOUBLE) AS f_max
    FROM s
    """,
    tags=("llm-multimodal",),
    doc="Feature extraction over ACTUALLY-DECODED JPEG channel bytes "
    "(llm.multimodal.extract_embeddings real path through _jpeg_pixels): "
    "the full entropy decode + IDCT + color conversion runs first, then "
    "the 8 classical features accumulate over the decoded interleaved "
    "RGB/gray bytes exactly as for BMP/PNG/GIF. Exact integer sums + "
    "one IEEE divide (and correctly-rounded sqrt), so the oracle "
    "recomputes every feature from the closed-form decoded pixels.",
)
def multimodal_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = multimodal.synthesize_jpeg_payloads(d, id_col="doc_id")
    feats = multimodal.extract_embeddings(media, dims=8)
    names = [
        "f_width", "f_height", "f_channels", "f_mean",
        "f_rms", "f_frac_high", "f_min", "f_max",
    ]
    return feats.select(
        "doc_id",
        *[F.element_at("features", i + 1).alias(n) for i, n in enumerate(names)],
    )


def _trigram_lang_oracle() -> str:
    """Oracle generated FROM TRIGRAM_PROFILES so the SQL can never
    drift from the Spark profile constants: same normalization, same
    replace-based non-overlapping counts, same integer dot/ssq, same
    SQRT/division chain (correctly-rounded IEEE ops both engines)."""
    langs = sorted(text_ops.TRIGRAM_PROFILES)
    grams = sorted({g for p in text_ops.TRIGRAM_PROFILES.values() for g in p})
    gname = {g: f"g{i}" for i, g in enumerate(grams)}
    cnts = ",\n             ".join(
        f"CAST((LENGTH(t) - LENGTH(REPLACE(t, '{g}', ''))) / 3 AS BIGINT) AS {gname[g]}"
        for g in grams
    )
    scores = []
    for lang in langs:
        prof = text_ops.TRIGRAM_PROFILES[lang]
        dot = " + ".join(gname[g] for g in prof)
        ssq = " + ".join(f"{gname[g]}*{gname[g]}" for g in prof)
        scores.append(
            f"CASE WHEN ({dot}) = 0 THEN CAST(0 AS DOUBLE) "
            f"ELSE ({dot}) / (SQRT({ssq}) * SQRT({len(prof)})) END AS score_{lang}"
        )
    best = "GREATEST(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    pred = "CASE WHEN " + best + " <= 0 THEN 'und'\n"
    for lang in langs:
        pred += f"                WHEN score_{lang} = {best} THEN '{lang}'\n"
    pred += "                ELSE 'und' END AS predicted_lang"
    score_sel = ", ".join(f"score_{lg}" for lg in langs)
    return f"""
    WITH t AS (
      SELECT doc_id,
             ' ' || regexp_replace(lower(COALESCE(text, '')), '[^a-z ]', ' ', 'g') || ' ' AS t
      FROM documents
    ), c AS (
      SELECT doc_id,
             {cnts}
      FROM t
    ), s AS (
      SELECT doc_id,
             {",  ".join(scores)}
      FROM c
    )
    SELECT doc_id, {score_sel},
           {pred}
    FROM s
    """


@register(
    "text_language_id_trigram",
    _trigram_lang_oracle(),
    tags=("llm-text",),
    doc="Char-trigram profile language ID "
    "(llm.text.language_scores_trigram, VERDICT r3 #7): Cavnar-Trenkle-"
    "style 16-trigram profiles per language, replace-based "
    "non-overlapping occurrence counts over lowercase [a-z ]-normalized "
    "text, per-language cosine Sum(c)/(SQRT(Sum(c^2))*SQRT(16)) against "
    "the binary profile, argmax prediction with code-order tie-break. "
    "Robust where the graded stopword tier is blind (short or stopword-"
    "free text: affix trigrams fire on content words) — accuracy "
    "comparison pinned in test_curation. Zero-shuffle codegen map; the "
    "oracle SQL is GENERATED from the same profile constants.",
)
def text_language_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return text_ops.language_scores_trigram(d)


@register(
    "multimodal_mp4_frame_sample",
    """
    WITH p AS (
      SELECT doc_id, 3 + doc_id % 6 AS nf
      FROM documents WHERE doc_id < 200
    ), f AS (
      SELECT doc_id, i.i AS frame_idx, 24 + 8 * (i.i % 3) AS sz
      FROM p, LATERAL (SELECT UNNEST(range(0, nf)) AS i) i
      WHERE i.i % 2 = 0
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(frame_idx * 500 AS BIGINT) AS ts_ms,
           md5(substr(repeat('doc' || CAST(doc_id AS VARCHAR) || 'f'
                 || CAST(frame_idx AS VARCHAR) || 'x', sz), 1, sz)) AS frame_md5
    FROM f
    """,
    tags=("llm-multimodal",),
    doc="REAL ISO BMFF (MP4) frame sampling (llm.multimodal, r4): "
    "synthesize_mp4_payloads writes an actual ftyp+mdat+moov box tree "
    "per doc — video trak, stts timing, VARYING per-sample stsz sizes, "
    "two-sample stsc chunking, absolute stco offsets — and "
    "sample_video_frames resolves the sample tables for real (the "
    "ffprobe enumeration path), slices each sampled frame out of mdat "
    "by offset and md5s the actual bytes. One frame per second of "
    "stream time at 500 ms deltas = every 2nd sample. The codec inside "
    "the samples stays opaque (H.264 would need pyav); the CONTAINER "
    "walk is the graded machinery, same contract as the AVI entry.",
)
def multimodal_mp4_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = multimodal.synthesize_mp4_payloads(d, id_col="doc_id")
    return multimodal.sample_video_frames(media, every_ms=1000)


@register(
    "multimodal_mp3_header_scan",
    """
    WITH p AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr,
             4 + doc_id % 9 AS nf
      FROM documents WHERE doc_id < 300
    )
    SELECT doc_id, CAST(sr AS INT) AS sample_rate,
           CAST(nf * 1152 AS BIGINT) AS n_samples,
           CAST(nf * 1152 * 1000 // sr AS BIGINT) AS duration_ms,
           CAST(NULL AS BIGINT) AS sample_sum,
           CAST(NULL AS DOUBLE) AS rms
    FROM p
    """,
    tags=("llm-multimodal",),
    doc="REAL MPEG-1 Layer III header walk (llm.multimodal, r4): "
    "synthesize_mp3_payloads writes an actual VBR frame sequence per "
    "doc (per-frame bitrate index and padding bit vary, so the walker's "
    "144000*kbps//sr + padding frame stepping must land on every sync "
    "word exactly) and decode_audio walks the headers for real - exact "
    "sample counts and duration, the ffprobe-without-decoding contract. "
    "sample_sum/rms are NULL by design: the frame payload needs the "
    "Layer III Huffman+IMDCT chain (librosa), which stays behind the "
    "documented fake-path gate.",
)
def multimodal_mp3_header_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = multimodal.synthesize_mp3_payloads(d, id_col="doc_id")
    return multimodal.decode_audio(media)


@register(
    "multimodal_decode_jpeg_progressive",
    _JPEG_ORACLE_BLOCKS
    + """
    SELECT doc_id, CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
           CAST(CASE WHEN MAX(variant) = 0 THEN 1 ELSE 3 END AS INT) AS n_channels,
           CAST(SUM(64 * CASE WHEN variant = 0 THEN yv
                              WHEN variant = 1 THEN 3 * yv
                              ELSE r + g + bl END) AS BIGINT) AS pixel_sum
    FROM b GROUP BY doc_id
    """,
    tags=("llm-multimodal",),
    doc="REAL progressive JPEG decode (llm.multimodal, r4 — extends the "
    "graded baseline entry): the same closed-form fixtures re-encoded "
    "as SOF2 multi-scan streams (interleaved DC first at Al=1, raw-bit "
    "DC refinement, per-component AC first scans with cross-block "
    "EOBRUN folding, AC refinement scans with buffered correction "
    "bits); decode_images accumulates every scan into raw coefficient "
    "arrays per T.81 G.2 before one dequant+IDCT pass. Successive "
    "approximation reconstructs the exact baseline coefficients, so "
    "the SAME arithmetic oracle grades the progressive path; the "
    "equivalence is also pinned pixel-exact across gradient/checker/"
    "noise/color content in test_multimodal_codecs.",
)
def multimodal_decode_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = multimodal.synthesize_jpeg_payloads(d, id_col="doc_id", progressive=True)
    return multimodal.decode_images(media)


@register(
    "multimodal_gif_frame_sample",
    """
    WITH p AS (
      SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
             2 + doc_id % 5 AS nf
      FROM documents WHERE doc_id < 200
    ), f AS (
      SELECT doc_id, i.i AS frame_idx, w * h AS sz
      FROM p, LATERAL (SELECT UNNEST(range(0, nf)) AS i) i
      WHERE i.i % 2 = 0
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(frame_idx * 500 AS BIGINT) AS ts_ms,
           md5(substr(repeat('doc' || CAST(doc_id AS VARCHAR) || 'f'
                 || CAST(frame_idx AS VARCHAR) || 'x', sz), 1, sz)) AS frame_md5
    FROM f
    """,
    tags=("llm-multimodal",),
    doc="REAL animated-GIF frame sampling (llm.multimodal, r4): "
    "synthesize_gif_animation_payloads writes an actual GIF89a "
    "animation per doc - NETSCAPE loop extension, per-frame Graphic "
    "Control Extensions carrying 50 cs delays, every frame's index "
    "plane really LZW-compressed - and sample_video_frames walks the "
    "block stream for real: GCE delays accumulate into frame "
    "timestamps, each sampled frame's data sub-blocks are "
    "LZW-decompressed and md5'd (the stored-bytes convention shared "
    "with the AVI/MP4 legs). One frame per second of stream time at "
    "500 ms delays = every 2nd frame.",
)
def multimodal_gif_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = multimodal.synthesize_gif_animation_payloads(d, id_col="doc_id")
    return multimodal.sample_video_frames(media, every_ms=1000)


@register(
    "text_line_dedup",
    r"""
    WITH d AS (
      SELECT doc_id, regexp_replace(text, '(.{40})', '\1' || chr(10), 'g') AS t
      FROM documents
    ), l AS (
      SELECT doc_id, u.i - 1 AS pos, u.ln
      FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d),
           LATERAL (SELECT UNNEST(ls) AS ln, generate_subscripts(ls, 1) AS i) u
    ), k AS (
      SELECT doc_id, pos, ln,
             CASE WHEN LENGTH(ln) < 10 THEN TRUE
                  ELSE ROW_NUMBER() OVER (PARTITION BY ln ORDER BY doc_id, pos) = 1
             END AS keep
      FROM l
    )
    SELECT doc_id,
           COALESCE(STRING_AGG(CASE WHEN keep THEN ln END, chr(10) ORDER BY pos), '') AS text,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
    FROM k GROUP BY doc_id
    """,
    tags=("llm-dedup", "llm-text"),
    doc="CORPUS-WIDE line-level dedup (llm.dedup.line_level_dedup, r4 - "
    "the C4/RefinedWeb cleanup tier, a distinct dedup granularity from "
    "the document-level exact/MinHash/SimHash family): the fixture "
    "inserts a newline every 40 chars (same regexp_replace both "
    "engines), then every 10+-char line may appear once in the corpus "
    "- first (doc_id, pos) wins, later copies drop, documents rebuild "
    "from surviving lines. Winner selection is a map-side-combinable "
    "min-struct aggregation over an 8-byte line hash (never a "
    "data-sized rank window, never line text over the shuffle).",
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", "(.{40})", "$1\n").alias("text"),
    )
    out = dedup.line_level_dedup(d)
    return out.select(
        F.col("id").alias("doc_id"), "text", "n_lines", "n_kept", "n_dropped"
    )


@register(
    "multimodal_decode_png_variants",
    """
    WITH p AS (
      SELECT doc_id, doc_id % 3 AS variant,
             4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h,
             CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 4 ELSE 2 END AS ch
      FROM documents WHERE doc_id < 300
    ), px AS (
      SELECT p.doc_id, p.w, p.h, p.ch,
             CASE WHEN p.variant = 0 THEN
               ((CASE c.i WHEN 0 THEN 3 WHEN 1 THEN 5 ELSE 7 END)
                  * ((p.doc_id + 11*x.i + 13*y.i) % 256)) % 256
             ELSE (5*p.doc_id + 11*x.i + 13*y.i + 17*c.i) % 256
             END AS val
      FROM p,
           LATERAL (SELECT UNNEST(range(0, p.w)) AS i) x,
           LATERAL (SELECT UNNEST(range(0, p.h)) AS i) y,
           LATERAL (SELECT UNNEST(range(0, p.ch)) AS i) c
    )
    SELECT doc_id, CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
           CAST(MAX(ch) AS INT) AS n_channels,
           CAST(SUM(val) AS BIGINT) AS pixel_sum
    FROM px GROUP BY doc_id
    """,
    tags=("llm-multimodal",),
    doc="REAL non-RGB PNG decode (llm.multimodal, r4): "
    "synthesize_png_variant_payloads cycles palette (color type 3, PLTE "
    "resolved to RGB after unfiltering - filters operate on the stored "
    "index bytes per the spec), RGBA (6) and gray+alpha (4), all "
    "through the full five-filter scanline reconstruction at 2-4 bytes "
    "per pixel. The oracle recomputes every decoded channel byte "
    "arithmetically, palette mapping included.",
)
def multimodal_decode_png_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = multimodal.synthesize_png_variant_payloads(d, id_col="doc_id")
    return multimodal.decode_images(media)


@register(
    "dedup_span_removal",
    """
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
      FROM documents
    ), g AS (
      SELECT doc_id, u.i - 1 AS start, u.gram
      FROM (SELECT doc_id,
                   CASE WHEN len(w) >= 6 THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] for i in range(1, len(w) - 4)]
                        ELSE [] END AS gs
            FROM t),
           LATERAL (SELECT UNNEST(gs) AS gram, generate_subscripts(gs, 1) AS i) u
    ), r AS (
      SELECT doc_id, start,
             COUNT(*) OVER (PARTITION BY gram) AS n,
             ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, start) AS rn
      FROM g
    ), cov AS (
      SELECT DISTINCT doc_id, start + o.i AS pos
      FROM r, LATERAL (SELECT UNNEST(range(0, 6)) AS i) o
      WHERE n > 1 AND rn > 1
    ), tk AS (
      SELECT t.doc_id, u.i - 1 AS pos, u.tok
      FROM t, LATERAL (SELECT UNNEST(w) AS tok, generate_subscripts(w, 1) AS i) u
    ), kept AS (
      SELECT tk.doc_id, tk.pos, tk.tok
      FROM tk LEFT JOIN cov ON cov.doc_id = tk.doc_id AND cov.pos = tk.pos
      WHERE cov.pos IS NULL
    )
    SELECT t.doc_id,
           COALESCE(STRING_AGG(kp.tok, ' ' ORDER BY kp.pos), '') AS text,
           CAST(MAX(len(t.w)) AS BIGINT) AS n_tokens,
           CAST(COUNT(kp.tok) AS BIGINT) AS n_kept,
           CAST(MAX(len(t.w)) - COUNT(kp.tok) AS BIGINT) AS n_removed
    FROM t LEFT JOIN kept kp ON kp.doc_id = t.doc_id
    GROUP BY t.doc_id
    """,
    tags=("llm-dedup", "scale-path"),
    doc="EXACT-SUBSTRING dedup at 6-token granularity "
    "(llm.dedup.duplicate_span_removal, r4 - the Lee et al. 2021 tier "
    "in its distributed positional-k-gram form): every 6-token span "
    "occurring more than once corpus-wide survives only at its first "
    "(doc_id, start); later occurrences' token positions are cut and "
    "documents re-join their surviving tokens. Winner+count per gram "
    "is one map-side-combinable aggregation over an 8-byte gram hash; "
    "covered positions are proportional to DUPLICATED text, never the "
    "corpus. Completes the dedup granularity family: document / line / "
    "span. k=50 in production; k=6 here so the word-soup fixture "
    "actually contains repeated spans.",
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    out = dedup.duplicate_span_removal(d, k=6)
    return out.select(
        F.col("id").alias("doc_id"), "text", "n_tokens", "n_kept", "n_removed"
    )


@register(
    "format_shard_compressed",
    """
    WITH p AS (
      SELECT doc_id, 4 + doc_id % 7 AS nl
      FROM documents WHERE doc_id < 300
    ), l AS (
      SELECT p.doc_id, j.j AS line_idx,
             65 + (p.doc_id + j.j) % 26 AS ch,
             10 + (p.doc_id * 7 + j.j) % 23 AS len
      FROM p, LATERAL (SELECT UNNEST(range(0, p.nl)) AS j) j
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(len) AS BIGINT) AS n_bytes,
           CAST(SUM(ch * len) AS BIGINT) AS byte_sum,
           CAST(SUM(ch * ch * len) AS BIGINT) AS byte_sq_sum
    FROM l GROUP BY doc_id
    """,
    tags=("sources-formats",),
    doc="REAL compressed-shard ingestion (r7 — the wire formats public "
    "LLM corpora actually ship): payload-COLUMN decompression in Arrow "
    "kernels where Spark's file-level JVM codecs can't reach, through "
    "ONE magic-sniffed contract (sources/zstd_shards.decompress_shard) "
    "cycling SEVEN codecs across the fixture ids — sequence-coded "
    "zstd (pure-Python RFC 8878: greedy LZ77 + predefined-FSE "
    "interleaved-state bitstream, so the FSE machine, offset codes and "
    "backward streams run for real), store-mode zstd (raw/RLE blocks), "
    "LZ4 frames (sources/lz4_codec), multi-member-capable gzip, and "
    "(r7b) bzip2 + xz (stdlib-backed, multistream-looped, growth "
    "bounded chunk-by-chunk) + brotli (pure-Python RFC 7932 decoder, "
    "sources/brotli_codec — headerless, so the fixture carries the "
    "'br' codec-hint column a real ingest gets from the extension). "
    "One task per shard, nothing shuffling but the aggregate. Content "
    "is closed-form repeated-byte lines, so the oracle checks the "
    "first TWO exact byte moments (sum + sum of squares — the r5 "
    "fingerprint rule) in pure integer SQL. Wire conventions pinned "
    "BOTH directions against the system references (libzstd 1.5.4: "
    "90-case level/shape sweep decodes bit-exactly and the predefined "
    "FSE distributions are binary-extracted from libzstd.so.1; "
    "liblz4.so.1 round-trips both ways; libbrotli 1.0.9: full "
    "quality/window sweep decodes bit-exactly, dictionary + context "
    "tables + transforms binary-extracted, all 121 transforms "
    "arbitrated on hand streams) — tests/test_zstd_codec.py, "
    "tests/test_lz4_codec.py, tests/test_brotli_codec.py.",
)
def format_shard_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.zstd_shards import (
        read_compressed_jsonl_lines,
        synthesize_zst_jsonl_payloads,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    lines = read_compressed_jsonl_lines(
        synthesize_zst_jsonl_payloads(d), codec_col="codec"
    )
    # lines are single-char repeats by construction, but the moments
    # are computed from EVERY decoded byte, not the first one — a
    # mid-line corruption must break the hash
    staged = lines.select(
        "doc_id",
        "line_idx",
        F.length("line").alias("len"),
        F.transform(
            F.split(F.col("line"), ""),
            lambda c: F.ascii(c).cast("long"),
        ).alias("bytes_arr"),
    ).withColumn(
        "bytes_arr", F.filter("bytes_arr", lambda b: b > 0)
    )
    agg = staged.select(
        "doc_id",
        "len",
        F.aggregate("bytes_arr", F.lit(0).cast("long"), lambda a, x: a + x).alias("bsum"),
        F.aggregate(
            "bytes_arr", F.lit(0).cast("long"), lambda a, x: a + x * x
        ).alias("bsq"),
    )
    return agg.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("len").cast("long").alias("n_bytes"),
        F.sum("bsum").cast("long").alias("byte_sum"),
        F.sum("bsq").cast("long").alias("byte_sq_sum"),
    )


# Fixed BPE merge table for the graded apply-path entry (rank order).
# The class words below exercise every application regime: multi-step
# merges of merged tokens (abcef), rank-order-beats-greedy-length
# (abcd -> abc+d, never ab+cd), pair disappearance after a merge
# (ababcd: the (c,d) rank-2 pair dies when (ab,c) fires), multiple
# non-overlapping occurrences in one pass (abab), and the no-merge
# fallthrough (xyz). Token/char counts per class are closed-form
# constants of this table, so the DuckDB oracle mirrors them exactly.
_BPE_FIXED_MERGES = [
    ("a", "b"),
    ("ab", "c"),
    ("c", "d"),
    ("e", "f"),
    ("abc", "ef"),
    ("d", "e"),
]
_BPE_CLASS_WORDS = ["abcd", "abcef", "cdef", "ade", "xyz", "abab", "ababcd"]
# per-class (n_bpe_tokens, n_chars) under _BPE_FIXED_MERGES — verified
# by tests/test_curation.py::test_bpe_fixture_class_counts
_BPE_CLASS_TOKENS = [2, 1, 2, 2, 3, 2, 3]


@register(
    "text_bpe_encode",
    """
    WITH p AS (
      SELECT doc_id, 4 + doc_id % 5 AS nw
      FROM documents WHERE doc_id < 400
    ), w AS (
      SELECT p.doc_id, p.nw,
             (p.doc_id * 3 + k.k * k.k + k.k) % 7 AS cls
      FROM p, LATERAL (SELECT UNNEST(range(0, p.nw)) AS k) k
    )
    SELECT doc_id,
           CAST(MAX(nw) AS INTEGER) AS n_words,
           CAST(SUM(CASE cls WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 2
                             WHEN 3 THEN 2 WHEN 4 THEN 3 WHEN 5 THEN 2
                             ELSE 3 END) AS INTEGER) AS n_bpe_tokens,
           CAST(SUM(CASE cls WHEN 0 THEN 4 WHEN 1 THEN 5 WHEN 2 THEN 4
                             WHEN 3 THEN 3 WHEN 4 THEN 3 WHEN 5 THEN 4
                             ELSE 6 END) AS INTEGER) AS n_chars
    FROM w GROUP BY doc_id
    """,
    tags=("llm-text", "llm-tokenizer"),
    doc="BPE tokenizer APPLY path graded (r7, VERDICT r6 #4 — "
    "llm.tokenizer.apply_bpe): GPT-2-style iterative lowest-rank merge "
    "with a FIXED six-rule merge table over a closed-form fixture "
    "corpus (seven word classes chosen to hit rank-order-not-greedy, "
    "merged-token merges, pair disappearance and the no-merge path). "
    "The ranks broadcast once; tokenization runs in mapInPandas Arrow "
    "batches with per-batch word memoization, so cost is proportional "
    "to DISTINCT words per batch — the 100 TB contract. The oracle "
    "replays the per-class token/char constants from the fixture's "
    "construction (the counts are pure functions of the fixed table, "
    "pinned by a dedicated pytest). Closes the last un-graded LLM "
    "family: sequence-level token counts feed the packing/budget tier.",
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.tokenizer import apply_bpe

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    class_arr = F.array(*[F.lit(w) for w in _BPE_CLASS_WORDS])
    fix = d.select(
        "doc_id", (F.lit(4) + F.col("doc_id") % 5).cast("int").alias("nw")
    ).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.col("nw") - 1),
                lambda k: F.element_at(
                    class_arr,
                    ((F.col("doc_id") * 3 + k * k + k) % 7 + 1).cast("int"),
                ),
            ),
        ).alias("text"),
    )
    return apply_bpe(fix, _BPE_FIXED_MERGES)


@register(
    "curation_importance_scores",
    """
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
      FROM documents
    ), bg AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 2 THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
                  ELSE [] END AS gs
      FROM t
    ), tgt AS (
      SELECT ('0x' || substr(md5(u.g), 1, 12))::BIGINT % 1048576 AS f,
             COUNT(*) AS tc
      FROM bg, LATERAL (SELECT UNNEST(gs) AS g) u
      WHERE doc_id % 17 = 3
      GROUP BY 1
    ), d AS (
      SELECT doc_id, ('0x' || substr(md5(u.g), 1, 12))::BIGINT % 1048576 AS f
      FROM bg, LATERAL (SELECT UNNEST(gs) AS g) u
    ), s AS (
      SELECT d.doc_id, COUNT(*) AS n_feats, SUM(COALESCE(tgt.tc, 0)) AS raw
      FROM d LEFT JOIN tgt USING (f) GROUP BY d.doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(s.n_feats, 0) AS BIGINT) AS n_feats,
           CAST(COALESCE(s.raw, 0) AS BIGINT) AS raw_score,
           CASE WHEN COALESCE(s.n_feats, 0) = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(s.raw AS DOUBLE) / s.n_feats END AS score
    FROM t LEFT JOIN s USING (doc_id)
    """,
    tags=("llm-text", "llm-split"),
    doc="DSIR-shaped data-selection scoring "
    "(llm.curation.target_importance_scores, r4): rank every document "
    "by hashed-bigram mass on a target slice (doc_id % 17 = 3 plays "
    "the domain corpus). 48-bit md5-derived feature hashing is "
    "engine-reproducible, so the oracle reproduces even hash "
    "collisions; integer dot-product accumulation with one final IEEE "
    "division. Target counts broadcast; the corpus never shuffles by "
    "feature.",
)
def curation_importance_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.curation import target_importance_scores

    d = _t(spark, sf_dir, "documents")
    target = d.filter(F.col("doc_id") % 17 == 3)
    out = target_importance_scores(d, target, n=2)
    return out.select(
        F.col("id").alias("doc_id"), "n_feats", "raw_score", "score"
    )


@register(
    "multimodal_flac_streaminfo",
    """
    WITH p AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 96000 END AS sr,
             1000 + doc_id * 37 AS n
      FROM documents WHERE doc_id < 300
    )
    SELECT doc_id, CAST(sr AS INT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 // sr AS BIGINT) AS duration_ms,
           CAST(NULL AS BIGINT) AS sample_sum,
           CAST(NULL AS DOUBLE) AS rms
    FROM p
    """,
    tags=("llm-multimodal",),
    doc="REAL FLAC metadata walk (llm.multimodal, r4): "
    "synthesize per-doc fLaC containers with a spec-packed STREAMINFO "
    "block (20-bit rate / 3-bit channels / 5-bit bps / 36-bit total "
    "samples) + a last-flagged PADDING block; decode_audio chains the "
    "metadata blocks and unpacks the bit layout for exact sample "
    "counts and duration - the ffprobe metadata layer. Sample stats "
    "NULL by design (FLAC frames need a real codec).",
)
def multimodal_flac_streaminfo(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = kernels.payload_map(
        d,
        "doc_id",
        lambda rid: multimodal.encode_flac_streaminfo(
            (44100, 48000, 96000)[rid % 3], 1000 + rid * 37, n_channels=1 + rid % 2
        ),
    )
    return multimodal.decode_audio(media)


@register(
    "multimodal_decode_flac",
    """
    WITH p AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 22050 END AS sr,
             1 + doc_id % 2 AS ch, 150 + (doc_id % 7) * 25 AS nfr
      FROM documents WHERE doc_id < 220
    ), s AS (
      SELECT p.doc_id, p.sr, p.ch, p.nfr,
             ((k.k * 7919 + p.doc_id * 104729) % 65536) - 32768 AS v
      FROM p, LATERAL (SELECT UNNEST(range(0, p.nfr * p.ch)) AS k) k
    )
    SELECT doc_id, CAST(sr AS INT) AS sample_rate,
           CAST(nfr * ch AS BIGINT) AS n_samples,
           CAST(nfr * 1000 // sr AS BIGINT) AS duration_ms,
           CAST(SUM(v) AS BIGINT) AS sample_sum,
           SQRT(CAST(SUM(v * v) AS DOUBLE) / (nfr * ch)) AS rms
    FROM s GROUP BY doc_id, sr, ch, nfr
    """,
    tags=("llm-multimodal",),
    doc="REAL FLAC sample decode (VERDICT r4 next #2): "
    "synthesize_flac_payloads encodes actual multi-frame FLAC streams — "
    "CRC-8'd frame headers, CONSTANT/FIXED/LPC subframes, Rice-coded "
    "residuals, stereo channel decorrelation (left/side, right/side, "
    "mid/side), CRC-16 footers, spec MD5 in STREAMINFO — and "
    "decode_audio routes fLaC payloads carrying frames through the "
    "full integer-exact frame decoder (_flac_samples), validating "
    "every CRC and the decoded-PCM MD5. FLAC is lossless by design, "
    "so the oracle recomputes every decoded sample from the closed-form "
    "input lattice; rms is exact-integer sum-of-squares through one "
    "correctly-rounded divide + sqrt on both engines. Wire convention "
    "pinned by a hand-assembled byte golden in tests. Scale: one "
    "mapInPandas over payload rows, zero shuffles, corpus-parallel.",
)
def multimodal_decode_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 220)
    media = multimodal.synthesize_flac_payloads(d, id_col="doc_id")
    return multimodal.decode_audio(media)


@register(
    "multimodal_decode_webp",
    """
    WITH p AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
      FROM documents WHERE doc_id < 250
    ), s AS (
      SELECT p.doc_id, p.w, p.h,
             SUM(((3*p.doc_id + 5*(x.i // 4) + 7*(y.i // 2)) % 256)
               + ((11*p.doc_id + 3*(x.i // 4) + 13*(y.i // 2)) % 256)
               + ((7*p.doc_id + 9*(x.i // 4) + (y.i // 2)) % 256)) AS rgb
      FROM p,
           LATERAL (SELECT UNNEST(range(0, p.w)) AS i) x,
           LATERAL (SELECT UNNEST(range(0, p.h)) AS i) y
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(4 AS INT) AS n_channels,
           CAST(rgb + 255 * w * h AS BIGINT) AS pixel_sum
    FROM s
    """,
    tags=("llm-multimodal",),
    doc="REAL WebP-lossless (VP8L) pixel decode (r5 — the lossless "
    "half of the last image format that had only a metadata walk): "
    "synthesize_webp_lossless_payloads entropy-codes actual VP8L "
    "streams — per-channel canonical Huffman from real frequencies "
    "(package-merge length-limited), code lengths RLE-coded on the "
    "wire, cycling plain-literal / SUBTRACT_GREEN-transform / "
    "distance-1-run-backref encodings by id — and decode_images runs "
    "the full decoder: LSB bitstream, simple AND code-length-coded "
    "prefix forms, LZ77 copies through the spec's distance mapping, "
    "inverse transforms. Lossless: decoded pixels equal the closed "
    "form for every wire variant, alpha constant 255. Wire convention "
    "pinned by hand-assembled bitstream goldens (incl. color cache, "
    "palette, predictor and color-transform streams the encoder never "
    "emits).",
)
def multimodal_decode_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    media = multimodal.synthesize_webp_lossless_payloads(d, id_col="doc_id")
    return multimodal.decode_images(media)


@register(
    "multimodal_decode_webp_lossy",
    """
    WITH p AS (
      SELECT doc_id,
             16 + doc_id % 49 AS w,
             16 + doc_id % 33 AS h,
             CASE doc_id % 4 WHEN 0 THEN 22 WHEN 1 THEN 46
                  WHEN 2 THEN 88 ELSE 150 END AS q2dc,
             CASE doc_id % 4 WHEN 0 THEN 11 WHEN 1 THEN 23
                  WHEN 2 THEN 44 ELSE 75 END AS quv,
             1 + doc_id % 40 AS ty,
             1 + doc_id % 12 AS tu,
             1 + (doc_id // 3) % 12 AS tv
      FROM documents WHERE doc_id < 300
    )
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           CAST(w * h * ((128 + ((ty * q2dc + 3) // 8 + 4) // 8)
                       + (128 + (tu * quv + 4) // 8)
                       + (128 + (tv * quv + 4) // 8)) AS BIGINT) AS pixel_sum
    FROM p
    """,
    tags=("llm-multimodal",),
    doc="REAL lossy-WebP (VP8 keyframe, RFC 6386) pixel decode (r6 — "
    "the first arithmetic-coded lossy transform codec in the tier): "
    "synthesize_webp_lossy_payloads writes actual VP8 keyframes — "
    "boolean arithmetic coder, kf mode trees, DC coefficient tokens "
    "under the default probability tables — and decode_images runs "
    "the full decoder (llm/vp8.py): header + segmentation parse, "
    "token partitions, dequant, inverse WHT feeding the Y blocks, "
    "inverse DCT, intra prediction, loop filter. The fixture's "
    "DC-only frames reconstruct to closed-form uniform planes "
    "(vp8_flat_expected) the oracle mirrors in integer SQL — the "
    "quantizer lookup constants are inlined per the cycling qindex. "
    "Wire convention pinned bit-exactly against the system libwebp "
    "both directions (tests/test_libwebp_parity.py: 42 reference-"
    "encoded frames across qualities 0-100 decode to identical YUV "
    "planes; libwebp decodes this encoder's output identically), "
    "plus embedded reference-encoded goldens that run without "
    "libwebp.",
)
def multimodal_decode_webp_lossy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = multimodal.synthesize_webp_lossy_payloads(d, id_col="doc_id")
    return multimodal.decode_images(media)


def _avc_deblock_leg_sql(lo: int = 240, hi: int = 330) -> str:
    """Oracle leg for the deblocking-enabled stepped AVC fixtures
    (doc_id lo..hi-1; 240-329 = CAVLC, 375-419 = the r7 CABAC twin —
    identical closed form, the entropy tier is invisible to the
    reconstruction): mirrors h264_steps_expected's integer closed
    form — the per-MB DC chain (exact FLOOR arithmetic, negative
    steps included), the §8.7 bS=4 strong/weak/no-filter MB-edge sum
    deltas, the cascaded internal bS=3 p1 correction with its beta
    gates and tC0 clip, and the flat chroma planes — with the
    Table 8-16/8-17 constants for qp 36/40/44/48 inlined."""

    def edge(P: str, Q: str) -> str:
        q1p = f"((3*{Q} + {P} + 2) // 4)"
        q2p = f"((7*{Q} + {P} + 4) // 8)"
        strong = (
            f"(5*{P} + 3*{Q} + 4) // 8 + (3*{P} + {Q} + 2) // 4"
            f" + (7*{P} + {Q} + 4) // 8 - 3*{P}"
            f" + (5*{Q} + 3*{P} + 4) // 8 + {q1p} + {q2p} - 3*{Q}"
            f" + (CASE WHEN ABS({q2p} - {Q}) < beta AND ABS({q1p} - {Q}) < beta"
            f" THEN GREATEST(-tc0, LEAST(tc0,"
            f" CAST(FLOOR(({q1p} + {Q} - 2*{q2p}) / 2.0) AS BIGINT)))"
            f" ELSE 0 END)"
        )
        weak = (
            f"(3*{P} + {Q} + 2) // 4 - {P}"
            f" + (3*{Q} + {P} + 2) // 4 - {Q}"
        )
        return (
            f"CASE WHEN ABS({P} - {Q}) >= alpha THEN 0"
            f" WHEN ABS({P} - {Q}) < alpha // 4 + 2 THEN ({strong})"
            f" ELSE ({weak}) END"
        )

    edges = " + ".join(
        f"(CASE WHEN nmb > {j + 1} THEN ({edge(f'a{j}', f'a{j + 1}')}) ELSE 0 END)"
        for j in range(4)
    )
    asum = "a0 + " + " + ".join(
        f"(CASE WHEN nmb > {j} THEN a{j} ELSE 0 END)" for j in range(1, 5)
    )
    return f"""
    UNION ALL
    SELECT doc_id, CAST(0 AS INT) AS frame_idx, CAST(0 AS BIGINT) AS ts_ms,
           CAST(CASE WHEN horiz = 1 THEN 16 ELSE 16 * nmb END AS INT) AS width,
           CAST(CASE WHEN horiz = 1 THEN 16 * nmb ELSE 16 END AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           CAST(256 * ({asum}) + 16 * ({edges})
                + 64 * nmb * (256 + (cu * kc + 32) // 64 + (cv * kc + 32) // 64)
             AS BIGINT) AS pixel_sum
    FROM (
      SELECT doc_id, horiz, nmb, cu, cv, alpha, beta, tc0, kc,
             a0, a0 + dplus AS a1, a0 + dplus + dminus AS a2,
             a0 + 2 * dplus + dminus AS a3, a0 + 2 * dplus + 2 * dminus AS a4
      FROM (
        SELECT doc_id, horiz, nmb, cu, cv, alpha, beta, tc0, kc,
               128 + CAST(FLOOR((s * base + 32) / 64.0) AS BIGINT) AS a0,
               CAST((s * stepf + 32) // 64 AS BIGINT) AS dplus,
               CAST(FLOOR((32 - s * stepf) / 64.0) AS BIGINT) AS dminus
        FROM (
          SELECT doc_id, k % 2 AS horiz,
                 2 + (k // 24) % 4 AS nmb, (k % 5) - 2 AS base,
                 1 + k % 40 AS cu, 1 + (k // 3) % 40 AS cv,
                 CASE (k // 2) % 4 WHEN 0 THEN 10 WHEN 1 THEN 16
                      WHEN 2 THEN 26 ELSE 40 END AS s,
                 CASE (k // 2) % 4 WHEN 0 THEN 50 WHEN 1 THEN 80
                      WHEN 2 THEN 127 ELSE 203 END AS alpha,
                 CASE (k // 2) % 4 WHEN 0 THEN 11 WHEN 1 THEN 13
                      WHEN 2 THEN 15 ELSE 17 END AS beta,
                 CASE (k // 2) % 4 WHEN 0 THEN 4 WHEN 1 THEN 7
                      WHEN 2 THEN 11 ELSE 18 END AS tc0,
                 CASE (k // 2) % 4 WHEN 0 THEN 16 WHEN 1 THEN 20
                      WHEN 2 THEN 22 ELSE 28 END AS kc,
                 CASE WHEN (k // 2) % 4 <= 1 THEN
                        (CASE (k // 8) % 3 WHEN 0 THEN 60 WHEN 1 THEN 150 ELSE 330 END)
                      WHEN (k // 2) % 4 = 2 THEN
                        (CASE (k // 8) % 3 WHEN 0 THEN 60 WHEN 1 THEN 150 ELSE 200 END)
                      ELSE
                        (CASE (k // 8) % 3 WHEN 0 THEN 60 WHEN 1 THEN 150 ELSE 160 END)
                 END AS stepf
          FROM (SELECT doc_id, doc_id - {lo} AS k FROM documents
                WHERE doc_id >= {lo} AND doc_id < {hi})
        )
      )
    )
    """


@register(
    "multimodal_decode_h264",
    """
    WITH p AS (
      SELECT doc_id, 2 + doc_id % 4 AS nf,
             32 + 2 * (doc_id % 9) AS w, 32 + 2 * (doc_id % 7) AS h,
             doc_id % 4 AS qk, doc_id % 5 = 0 AS is_pcm
      FROM documents WHERE doc_id < 240
    ), f AS (
      SELECT p.*, CAST(x.i AS BIGINT) AS fi
      FROM p, LATERAL (SELECT UNNEST(range(0, p.nf)) AS i) x
    ), c AS (
      SELECT doc_id, w, h, fi, is_pcm, qk,
             1 + (doc_id + 3 * fi) % 90 AS cy,
             1 + (doc_id + fi) % 40 AS cu,
             1 + (doc_id // 3 + fi) % 40 AS cv,
             (doc_id * 7 + 11 * fi) % 256 AS yl,
             (doc_id * 11 + 5 * fi) % 256 AS ul,
             (doc_id * 13 + 3 * fi) % 256 AS vl
      FROM f
    )
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(fi * 500 AS BIGINT) AS ts_ms,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           CAST(CASE WHEN is_pcm
             THEN w * h * yl + (w // 2) * (h // 2) * (ul + vl)
             ELSE w * h * (128 + ((CASE qk WHEN 0 THEN (13 * cy + 4) // 8
                                           WHEN 1 THEN (16 * cy + 2) // 4
                                           WHEN 2 THEN 10 * cy
                                           ELSE 26 * cy END + 32) // 64))
                + (w // 2) * (h // 2) *
                  ((128 + ((CASE qk WHEN 0 THEN (13 * cu) // 4
                                    WHEN 1 THEN 8 * cu
                                    WHEN 2 THEN 16 * cu
                                    ELSE 22 * cu END + 32) // 64))
                 + (128 + ((CASE qk WHEN 0 THEN (13 * cv) // 4
                                    WHEN 1 THEN 8 * cv
                                    WHEN 2 THEN 16 * cv
                                    ELSE 22 * cv END + 32) // 64)))
           END AS BIGINT) AS pixel_sum
    FROM c
    """
    + _avc_deblock_leg_sql()
    # r7 CABAC leg A (ids 330-374): flat Intra_16x16 frames through the
    # arithmetic entropy tier — the SAME h264_flat_expected closed form
    # as the CAVLC ids < 240 (single frame, no PCM: I_PCM is the
    # documented CABAC exclusion)
    + """
    UNION ALL
    SELECT doc_id, CAST(0 AS INT) AS frame_idx, CAST(0 AS BIGINT) AS ts_ms,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           CAST(w * h * (128 + ((CASE qk WHEN 0 THEN (13 * cy + 4) // 8
                                         WHEN 1 THEN (16 * cy + 2) // 4
                                         WHEN 2 THEN 10 * cy
                                         ELSE 26 * cy END + 32) // 64))
              + (w // 2) * (h // 2) *
                ((128 + ((CASE qk WHEN 0 THEN (13 * cu) // 4
                                  WHEN 1 THEN 8 * cu
                                  WHEN 2 THEN 16 * cu
                                  ELSE 22 * cu END + 32) // 64))
               + (128 + ((CASE qk WHEN 0 THEN (13 * cv) // 4
                                  WHEN 1 THEN 8 * cv
                                  WHEN 2 THEN 16 * cv
                                  ELSE 22 * cv END + 32) // 64)))
           AS BIGINT) AS pixel_sum
    FROM (
      SELECT doc_id, 32 + 2 * ((doc_id - 330) % 9) AS w,
             32 + 2 * ((doc_id - 330) % 7) AS h,
             (doc_id - 330) % 4 AS qk,
             1 + (doc_id - 330) % 90 AS cy,
             1 + (doc_id - 330) % 40 AS cu,
             1 + ((doc_id - 330) // 3) % 40 AS cv
      FROM documents WHERE doc_id >= 330 AND doc_id < 365
    )
    """
    # r8 High-profile leg (ids 365-374): Intra_8x8 frames — luma rides
    # the §8.5.13.2 8x8 dequant closed form (v8 DC norm classes 26/32/
    # 20/26 at qp 20/28/36/44, flat weight 16, (dq + 32) >> 6 over a
    # 128 DC prediction); chroma follows the shared 2x2-DC formula
    + """
    UNION ALL
    SELECT doc_id, CAST(0 AS INT) AS frame_idx, CAST(0 AS BIGINT) AS ts_ms,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           CAST(w * h * (128 + ((CASE qk WHEN 0 THEN (416 * cy + 4) // 8
                                         WHEN 1 THEN (512 * cy + 2) // 4
                                         WHEN 2 THEN 320 * cy
                                         ELSE 832 * cy END + 32) // 64))
              + (w // 2) * (h // 2) *
                ((128 + ((CASE qk WHEN 0 THEN (13 * cu) // 4
                                  WHEN 1 THEN 8 * cu
                                  WHEN 2 THEN 16 * cu
                                  ELSE 22 * cu END + 32) // 64))
               + (128 + ((CASE qk WHEN 0 THEN (13 * cv) // 4
                                  WHEN 1 THEN 8 * cv
                                  WHEN 2 THEN 16 * cv
                                  ELSE 22 * cv END + 32) // 64)))
           AS BIGINT) AS pixel_sum
    FROM (
      SELECT doc_id, 32 + 2 * ((doc_id - 365) % 9) AS w,
             32 + 2 * ((doc_id - 365) % 7) AS h,
             (doc_id - 365) % 4 AS qk,
             1 + (doc_id - 365) % 9 AS cy,
             1 + (doc_id - 365) % 40 AS cu,
             1 + ((doc_id - 365) // 3) % 40 AS cv
      FROM documents WHERE doc_id >= 365 AND doc_id < 375
    )
    """
    # r7 CABAC leg B (ids 375-419): the deblocked stepped strips again,
    # arithmetic-coded — same generated closed form, shifted id range
    + _avc_deblock_leg_sql(lo=375, hi=420)
    # r7b GOP leg (ids 420-459): IDR + three P frames through the
    # inter tier — P_Skip and constant-field quarter-pel MC are
    # identities, frame 3 adds the uniform dequantized DC per block
    # (the same Table 8-15/§8.5 arms as the flat legs, plus the
    # inter-AC luma arm: qp 20 -> (13c+1)//2, 28 -> 16c, 36 -> 40c,
    # 44 -> 104c)
    + """
    UNION ALL
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(fi * 500 AS BIGINT) AS ts_ms,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           CAST(w * h * (yv + CASE WHEN fi = 3 THEN dy ELSE 0 END)
              + (w // 2) * (h // 2)
                * (uv + vv + CASE WHEN fi = 3 THEN 2 * dc ELSE 0 END)
           AS BIGINT) AS pixel_sum
    FROM (
      SELECT doc_id, w, h, fi,
             128 + ((CASE qk WHEN 0 THEN (13 * cy + 4) // 8
                             WHEN 1 THEN (16 * cy + 2) // 4
                             WHEN 2 THEN 10 * cy
                             ELSE 26 * cy END + 32) // 64) AS yv,
             128 + ((CASE qk WHEN 0 THEN (13 * cu) // 4
                             WHEN 1 THEN 8 * cu
                             WHEN 2 THEN 16 * cu
                             ELSE 22 * cu END + 32) // 64) AS uv,
             128 + ((CASE qk WHEN 0 THEN (13 * cv) // 4
                             WHEN 1 THEN 8 * cv
                             WHEN 2 THEN 16 * cv
                             ELSE 22 * cv END + 32) // 64) AS vv,
             ((CASE qk WHEN 0 THEN (13 * py + 1) // 2
                       WHEN 1 THEN 16 * py
                       WHEN 2 THEN 40 * py
                       ELSE 104 * py END) + 32) // 64 AS dy,
             ((CASE qk WHEN 0 THEN (13 * pc) // 4
                       WHEN 1 THEN 8 * pc
                       WHEN 2 THEN 16 * pc
                       ELSE 22 * pc END) + 32) // 64 AS dc
      FROM (
        SELECT doc_id,
               32 + 2 * ((doc_id - 420) % 9) AS w,
               32 + 2 * ((doc_id - 420) % 7) AS h,
               (doc_id - 420) % 4 AS qk,
               1 + (doc_id - 420) % 60 AS cy,
               1 + (doc_id - 420) % 30 AS cu,
               1 + (doc_id - 420) % 25 AS cv,
               1 + (doc_id - 420) % 8 AS py,
               1 + (doc_id - 420) % 5 AS pc
        FROM documents WHERE doc_id >= 420 AND doc_id < 460
      ), LATERAL (SELECT UNNEST(range(0, 4)) AS fi) f
    )
    """
    # r7c B leg (ids 460-489): seven-frame IBP GOPs through the B-slice
    # tier — decode order [IDR, P+res, B_skip, B_bi+res, B_mixed8x8,
    # B_L1, B_L0L1_16x8]; bi-prediction is (a0 + a1 + 1) >> 1 on the
    # two flat anchors, the mixed frame patterns each MB's 8x8s as
    # [avg, avg, avg, a0], the two-partition frame splits halves
    # between the anchors (all values stay far below 255, so the
    # clip in the decoder's closed form never binds)
    + """
    UNION ALL
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(fi * 500 AS BIGINT) AS ts_ms,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           CAST(CASE fi
             WHEN 0 THEN w * h * yv + (w // 2) * (h // 2) * (uv + vv)
             WHEN 1 THEN w * h * (yv + dy1)
                  + (w // 2) * (h // 2) * (uv + dc1 + vv + dc1)
             WHEN 2 THEN w * h * ay + (w // 2) * (h // 2) * (au + av)
             WHEN 3 THEN w * h * (ay + dyb)
                  + (w // 2) * (h // 2) * (au + dcb + av + dcb)
             WHEN 4 THEN w * h * (3 * ay + yv) // 4
                  + (w // 2) * (h // 2) * ((3 * au + uv) + (3 * av + vv)) // 4
             WHEN 5 THEN w * h * (yv + dy1)
                  + (w // 2) * (h // 2) * (uv + dc1 + vv + dc1)
             ELSE w * (h // 2) * (yv + yv + dy1)
                  + (w // 2) * (h // 4) * (uv + uv + dc1 + vv + vv + dc1)
           END AS BIGINT) AS pixel_sum
    FROM (
      SELECT doc_id, w, h, fi, yv, uv, vv, dy1, dc1, dyb, dcb,
             (yv + yv + dy1 + 1) // 2 AS ay,
             (uv + uv + dc1 + 1) // 2 AS au,
             (vv + vv + dc1 + 1) // 2 AS av
      FROM (
        SELECT doc_id, w, h,
               128 + ((CASE qk WHEN 0 THEN (13 * cy + 4) // 8
                               WHEN 1 THEN (16 * cy + 2) // 4
                               WHEN 2 THEN 10 * cy
                               ELSE 26 * cy END + 32) // 64) AS yv,
               128 + ((CASE qk WHEN 0 THEN (13 * cu) // 4
                               WHEN 1 THEN 8 * cu
                               WHEN 2 THEN 16 * cu
                               ELSE 22 * cu END + 32) // 64) AS uv,
               128 + ((CASE qk WHEN 0 THEN (13 * cv) // 4
                               WHEN 1 THEN 8 * cv
                               WHEN 2 THEN 16 * cv
                               ELSE 22 * cv END + 32) // 64) AS vv,
               ((CASE qk WHEN 0 THEN (13 * py + 1) // 2
                         WHEN 1 THEN 16 * py
                         WHEN 2 THEN 40 * py
                         ELSE 104 * py END) + 32) // 64 AS dy1,
               ((CASE qk WHEN 0 THEN (13 * pc) // 4
                         WHEN 1 THEN 8 * pc
                         WHEN 2 THEN 16 * pc
                         ELSE 22 * pc END) + 32) // 64 AS dc1,
               ((CASE qk WHEN 0 THEN (13 * byy + 1) // 2
                         WHEN 1 THEN 16 * byy
                         WHEN 2 THEN 40 * byy
                         ELSE 104 * byy END) + 32) // 64 AS dyb,
               ((CASE qk WHEN 0 THEN (13 * bc) // 4
                         WHEN 1 THEN 8 * bc
                         WHEN 2 THEN 16 * bc
                         ELSE 22 * bc END) + 32) // 64 AS dcb
        FROM (
          SELECT doc_id,
                 32 + 16 * ((doc_id - 460) % 3) AS w,
                 32 + 16 * ((doc_id - 460) % 2) AS h,
                 (doc_id - 460) % 4 AS qk,
                 1 + (doc_id - 460) % 60 AS cy,
                 1 + (doc_id - 460) % 30 AS cu,
                 1 + (doc_id - 460) % 25 AS cv,
                 1 + (doc_id - 460) % 8 AS py,
                 1 + (doc_id - 460) % 5 AS pc,
                 1 + (doc_id - 460) % 7 AS byy,
                 1 + (doc_id - 460) % 4 AS bc
          FROM documents WHERE doc_id >= 460 AND doc_id < 490
        )
      ), LATERAL (SELECT UNNEST(range(0, 7)) AS fi) f
    )
    """
    # r7c weighted-prediction leg (ids 490-499): IDR, explicit-WP
    # all-skip P (logWD 5: ((a0*w + 16) >> 5) + o per plane — values
    # stay far from the 0/255 clips by construction), then two
    # implicit-weighted all-skip B pictures at POC 2/4 between anchors
    # at 0/6 — weights (43, 21) and (22, 42), pinned by
    # test_implicit_weight_constants
    + """
    UNION ALL
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(fi * 500 AS BIGINT) AS ts_ms,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           CAST(CASE fi
             WHEN 0 THEN w * h * yv + (w // 2) * (h // 2) * (uv + vv)
             WHEN 1 THEN w * h * y1 + (w // 2) * (h // 2) * (u1 + v1)
             WHEN 2 THEN w * h * ((43 * yv + 21 * y1 + 32) // 64)
                  + (w // 2) * (h // 2)
                    * ((43 * uv + 21 * u1 + 32) // 64
                       + (43 * vv + 21 * v1 + 32) // 64)
             ELSE w * h * ((22 * yv + 42 * y1 + 32) // 64)
                  + (w // 2) * (h // 2)
                    * ((22 * uv + 42 * u1 + 32) // 64
                       + (22 * vv + 42 * v1 + 32) // 64)
           END AS BIGINT) AS pixel_sum
    FROM (
      SELECT doc_id, w, h, fi, yv, uv, vv,
             (yv * wy + 16) // 32 + oy AS y1,
             (uv * wu + 16) // 32 + ou AS u1,
             (vv * wv + 16) // 32 + ov AS v1
      FROM (
        SELECT doc_id, w, h, wy, oy, wu, ou, wv, ov,
               128 + ((CASE qk WHEN 0 THEN (13 * cy + 4) // 8
                               WHEN 1 THEN (16 * cy + 2) // 4
                               WHEN 2 THEN 10 * cy
                               ELSE 26 * cy END + 32) // 64) AS yv,
               128 + ((CASE qk WHEN 0 THEN (13 * cu) // 4
                               WHEN 1 THEN 8 * cu
                               WHEN 2 THEN 16 * cu
                               ELSE 22 * cu END + 32) // 64) AS uv,
               128 + ((CASE qk WHEN 0 THEN (13 * cv) // 4
                               WHEN 1 THEN 8 * cv
                               WHEN 2 THEN 16 * cv
                               ELSE 22 * cv END + 32) // 64) AS vv
        FROM (
          SELECT doc_id,
                 32 + 2 * ((doc_id - 490) % 9) AS w,
                 32 + 2 * ((doc_id - 490) % 7) AS h,
                 (doc_id - 490) % 4 AS qk,
                 1 + (doc_id - 490) % 60 AS cy,
                 1 + (doc_id - 490) % 30 AS cu,
                 1 + (doc_id - 490) % 25 AS cv,
                 20 + (doc_id - 490) % 25 AS wy,
                 (doc_id - 490) % 9 - 4 AS oy,
                 24 + (doc_id - 490) % 17 AS wu,
                 (doc_id - 490) % 7 - 3 AS ou,
                 40 - (doc_id - 490) % 13 AS wv,
                 (doc_id - 490) % 5 - 2 AS ov
          FROM documents WHERE doc_id >= 490 AND doc_id < 500
        )
      ), LATERAL (SELECT UNNEST(range(0, 4)) AS fi) f
    )
    """,
    tags=("llm-multimodal",),
    doc="REAL H.264/AVC baseline I-frame decode inside the MP4 sample "
    "walk (r6 — VERDICT r5 #1): synthesize_avc_mp4_payloads writes "
    "actual IDR streams muxed as spec-conformant avc1 (r7: avcC "
    "parameter sets + 4-byte length-prefixed samples, the AVCC "
    "dispatch path) — Exp-Golomb headers, CAVLC coefficient tokens, "
    "SPS frame-cropping, qp cycling both §8.5 dequant branches, every "
    "5th id all-I_PCM macroblocks — and decode_video_pixels runs the "
    "full decoder (llm/h264.py): avcC extraction, NAL re-framing, "
    "CAVLC residuals, luma-DC Hadamard + core transform, intra "
    "prediction, PCM byte path; docs 420-459 (r7b) add IDR+P GOPs "
    "through the inter tier (450-459 CABAC-coded, r8 — the VERDICT "
    "r7 #1 directive: llm/h264_cabac_pb decodes P/B slices through "
    "the shared slice control flow, and the entropy-independent "
    "closed forms grade both tiers from one oracle leg) and docs "
    "460-489 (r7c) seven-frame IBP "
    "GOPs through the B-slice tier (480-489 CABAC-coded, r8) "
    "(llm/h264_bslice.py: spatial-"
    "direct B_Skip, B_Bi_16x16 with motion + residual, mixed B_8x8 "
    "sub-types, B_L1_16x16, B_L0_L1_16x8) decoded via the "
    "POC-ordered DPB, with a signed ctts recording the display "
    "reorder; docs 490-499 add weighted prediction — an explicit-WP P anchor (pred_weight_table, 8.4.2.3.2 weighting incl. P_Skip) and two implicit POC-weighted B pictures. docs 240-329 (r7, VERDICT r6 #1) are "
    "deblocking-ENABLED stepped-DC strips exercising the §8.7 filter "
    "for real: bS=4 strong/weak/no-filter MB edges plus the cascaded "
    "internal bS=3 correction, both orientations, qp 36-48; the "
    "oracle leg mirrors h264_steps_expected's integer closed form "
    "with Table 8-16/8-17 constants inlined. docs 330-419 (r7, "
    "VERDICT r6 #3) are CABAC-coded — flat frames then deblocked "
    "strips through the full §9.3 arithmetic tier (llm/h264_cabac.py: "
    "context-modelled mb_type/CBP/qp-delta, significance maps, UEG0 "
    "levels); same entropy-independent closed forms, so the oracle "
    "legs replay the flat and stepped formulas over the shifted id "
    "ranges. docs 365-374 (r8, VERDICT r7 #3) are HIGH-PROFILE "
    "Intra_8x8 frames: profile_idc 100 SPS/PPS extensions, "
    "transform_size_8x8_flag, interleaved-CAVLC 8x8 residuals, the "
    "§8.5.13.2 dequant (v8 norm classes inlined in the oracle: "
    "416c/512c/320c/832c at qp 20/28/36/44) + §8.5.12.3 butterfly "
    "IDCT and §8.3.2 DC prediction with reference filtering. Wire pinned by hand-derived bit goldens + a 4000-case "
    "CAVLC round-trip sweep + an independent in-test transcription "
    "of the §8.7 filter + engine tables binary-extracted from "
    "libde265/libx265 + a cross-entropy equivalence sweep "
    "(tests/test_h264_cabac.py; no AVC reference exists in-container "
    "— see both module docstrings for the validation contract).",
)
def multimodal_decode_h264(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    media = multimodal.synthesize_avc_mp4_payloads(d, id_col="doc_id")
    return multimodal.decode_video_pixels(media, every_ms=400)


@register(
    "multimodal_decode_hevc",
    """
    WITH p AS (
      SELECT doc_id, 1 + doc_id % 2 AS nf, 32 + 16 * (doc_id % 3) AS w
      FROM documents WHERE doc_id < 120
    ), f AS (
      SELECT p.doc_id, p.w, CAST(x.i AS BIGINT) AS fi
      FROM p, LATERAL (SELECT UNNEST(range(0, p.nf)) AS i) x
    )
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(fi * 500 AS BIGINT) AS ts_ms,
           CAST(w AS INT) AS width, CAST(32 AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           CAST(v * (w * 32 - 256) + 256 * (v + 1 + (doc_id + fi) % 9) + 128
              + (w // 2) * 16 * (118 + (11 * doc_id + 17 * fi) % 21
                               + 118 + (13 * doc_id + 23 * fi) % 21)
            AS BIGINT) AS pixel_sum
    FROM (SELECT doc_id, w, fi,
                 118 + (7 * doc_id + 29 * fi) % 21 AS v FROM f)
    UNION ALL
    -- lossy DC leg: v = 128 + DC-only dequant+DCT closed form
    -- (hevc_dc_expected); chroma stays at the 128 substitution
    SELECT doc_id, CAST(0 AS INT) AS frame_idx, CAST(0 AS BIGINT) AS ts_ms,
           CAST(w AS INT) AS width, CAST(32 AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           CAST(w * 32 * (128 + (((((c * 16 * s + 64) // 128) * 64 + 64)
                                  // 128) * 64 + 2048) // 4096)
              + (w // 2) * 16 * 256 AS BIGINT) AS pixel_sum
    FROM (
      SELECT doc_id, 32 + 16 * (doc_id % 3) AS w, 1 + doc_id % 25 AS c,
             CASE doc_id % 4 WHEN 0 THEN 512 WHEN 1 THEN 912
                             WHEN 2 THEN 1632 ELSE 2880 END AS s
      FROM documents WHERE doc_id >= 120 AND doc_id < 200
    )
    UNION ALL
    -- r8 P-GOP leg (ids 200-219): IRAP DC picture, all-skip P
    -- (identical planes — zero-mv merge copies the reference), and a
    -- DC-residual P (frame0 + the same dequant+DCT delta without the
    -- 128 base); chroma stays 128 throughout
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(fi * 500 AS BIGINT) AS ts_ms,
           CAST(w AS INT) AS width, CAST(32 AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           CAST(w * 32 * (CASE WHEN fi = 2 THEN v0 + d2 ELSE v0 END)
              + (w // 2) * 16 * 256 AS BIGINT) AS pixel_sum
    FROM (
      SELECT doc_id, w, fi,
             128 + (((((c0 * 16 * s + 64) // 128) * 64 + 64)
                     // 128) * 64 + 2048) // 4096 AS v0,
             (((((c2 * 16 * s + 64) // 128) * 64 + 64)
               // 128) * 64 + 2048) // 4096 AS d2
      FROM (
        SELECT doc_id, 32 + 16 * (doc_id % 3) AS w,
               1 + (doc_id - 200) % 25 AS c0,
               1 + (doc_id - 200) % 7 AS c2,
               CASE (doc_id - 200) % 4 WHEN 0 THEN 512 WHEN 1 THEN 912
                                       WHEN 2 THEN 1632 ELSE 2880 END AS s
        FROM documents WHERE doc_id >= 200 AND doc_id < 220
      ), LATERAL (SELECT UNNEST(range(0, 3)) AS fi) f
    )
    UNION ALL
    -- r8 IBP leg (ids 220-239): decode-order samples [IRAP(v0),
    -- skip-P(v0), residual-P(v0+d2), B((v0 + v0+d2 + 1)/2)] — the B
    -- bi-averages its anchors exactly through the 14-bit pipeline
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(fi * 500 AS BIGINT) AS ts_ms,
           CAST(w AS INT) AS width, CAST(32 AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           CAST(w * 32 * (CASE fi WHEN 2 THEN v0 + d2
                                  WHEN 3 THEN (2 * v0 + d2 + 1) // 2
                                  ELSE v0 END)
              + (w // 2) * 16 * 256 AS BIGINT) AS pixel_sum
    FROM (
      SELECT doc_id, w, fi,
             128 + (((((c0 * 16 * s + 64) // 128) * 64 + 64)
                     // 128) * 64 + 2048) // 4096 AS v0,
             (((((c2 * 16 * s + 64) // 128) * 64 + 64)
               // 128) * 64 + 2048) // 4096 AS d2
      FROM (
        SELECT doc_id, 32 + 16 * (doc_id % 3) AS w,
               1 + (doc_id - 220) % 25 AS c0,
               1 + (doc_id - 220) % 7 AS c2,
               CASE (doc_id - 220) % 4 WHEN 0 THEN 512 WHEN 1 THEN 912
                                       WHEN 2 THEN 1632 ELSE 2880 END AS s
        FROM documents WHERE doc_id >= 220 AND doc_id < 240
      ), LATERAL (SELECT UNNEST(range(0, 4)) AS fi) f
    )
    """,
    tags=("llm-multimodal",),
    doc="HEVC / H.265 decode inside MP4 (r7d): synthesize_hevc_mp4_"
    "payloads muxes spec-conformant hvc1 tracks (hvcC parameter sets "
    "+ length-prefixed samples) whose IRAP pictures come from the "
    "pure-Python fixture encoder (transquant-bypass DC-mode CUs — "
    "decode is lossless, so the oracle mirrors the synthesized "
    "per-CU closed form exactly: luma 256·v+128 checkerboard, flat "
    "chroma blocks). The decoder (llm/hevc.py) is the full "
    "main-profile intra tier — HEVC CABAC with binary-extracted "
    "context-init tables, CTU quadtree, all 35 intra modes, DST/DCT "
    "transforms, deblocking + SAO — validated bit-exactly against "
    "libde265 on libx265-encoded streams across qp/CTU/feature "
    "sweeps (tests/test_hevc_codec.py), and the fixture wire is "
    "arbitrated by libde265 too. The graded legs pin the Spark "
    "plumbing, the hvc1 mux/demux walk, the bypass decode path AND "
    "(ids 120-199) the lossy tier: single-DC-coefficient pictures at "
    "four qps run the real §8.6.3 dequant + 16x16 DCT, the oracle "
    "inlining hevc_dc_expected's integer closed form. ids 200-219 "
    "(r8, VERDICT r7 #4) are three-picture P GOPs through the INTER "
    "tier — cu_skip/merge zero-mv copy, then a merge CU whose "
    "inferred-cbf luma residual adds the DC delta; decoded via the "
    "incremental AU decoder threading the single-reference DPB "
    "through the sample walk. ids 210-219 re-carve the middle "
    "picture's WIRE onto the partition tier (late r8): every "
    "§9.3.3.7 shape — rect, all four AMP modes, split 8x8 CUs with "
    "8x4/4x8 PUs — as zero-mvd AMVP units over the min-CB-8/AMP "
    "fixture SPS; zero motion means an exact reference copy, so the "
    "closed forms grade unchanged while a partition-derivation bug "
    "hash-mismatches (libde265 arbitrates the wire and pytest pins "
    "shape coverage across the graded ids). The inter tier is validated bit-exactly "
    "against libde265 on x265-encoded P GOPs (qp/CTU/preset/feature "
    "sweeps) and the fixture wire is libde265-arbitrated too. ids "
    "220-239 (r8) are four-picture IBP GOPs: an all-skip B between "
    "the anchors bi-averages them exactly ((a+b+1)>>1 through the "
    "14-bit §8.5.4.2.3.2 pipeline), decoded through the POC-reorder "
    "DPB with signed ctts; the B tier itself is bit-exact vs "
    "libde265 on x265 --bframes 1 streams across 11 configs. ids "
    "230-239 re-carve the B wire onto EXPLICIT WEIGHTED PREDICTION "
    "(late r8): an identity pred_weight_table routes §8.5.4.2.3.3, "
    "which reduces exactly to the default bi average — same oracle, "
    "new graded syntax surface, libde265-arbitrated (pytest pins "
    "plane equality with the plain GOPs across all ten ids). The "
    "full lossy "
    "spectrum (all modes/sizes/filters incl. the late-r8 REXT "
    "4:2:2/4:4:4 tier) rides the reference cross-pins in pytest.",
)
def multimodal_decode_hevc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every synthesize kernel spreads its one-split id range itself
    # (kernels.id_kernel, r9) — no query-level repartition needed
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 240)
    media = multimodal.synthesize_hevc_mp4_payloads(d, id_col="doc_id")
    return multimodal.decode_video_pixels(media, every_ms=400)


@register(
    "multimodal_decode_heic",
    """
    WITH ssum AS (
      SELECT doc_id, w, 32 AS h,
             v * (w * 32 - 256) + 256 * (v + 1 + doc_id % 9) + 128
             + (w // 2) * 16 * (118 + (7 * doc_id) % 21
                              + 118 + (3 * doc_id) % 21) AS ps
      FROM (
        SELECT doc_id, 32 + 16 * (doc_id % 3) AS w,
               118 + (9 * doc_id) % 21 AS v
        FROM documents WHERE doc_id < 160 AND doc_id % 4 != 3
      )
    ), grid AS (
      SELECT g.doc_id, CAST(tt.i AS BIGINT) AS t
      FROM (SELECT doc_id FROM documents
            WHERE doc_id < 160 AND doc_id % 4 = 3) g,
           LATERAL (SELECT UNNEST(range(0, 4)) AS i) tt
    ), gsum AS (
      SELECT doc_id, 64 AS w, 64 AS h,
             SUM(1024 * (118 + (9 * doc_id + 41 * t) % 21)
               + 256 * (118 + (7 * doc_id + 41 * t) % 21
                      + 118 + (3 * doc_id + 41 * t) % 21)) AS ps
      FROM grid GROUP BY doc_id
    )
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels, CAST(ps AS BIGINT) AS pixel_sum
    FROM (SELECT * FROM ssum UNION ALL SELECT * FROM gsum)
    """,
    tags=("llm-multimodal",),
    doc="HEIC still-image decode (r7d): synthesize_heic_payloads writes "
    "REAL .heic files — single hvc1 items for most ids, and for "
    "ids ≡ 3 (mod 4) the Apple GRID layout (four hvc1 tiles under a "
    "'grid' primary whose ImageGrid config rides idat with "
    "construction_method 1, tile references in iref/dimg). "
    "decode_images walks meta/pitm/iinf/iloc/iprp/iref, decodes every "
    "tile through the full HEVC intra tier and composites row-major. "
    "Tiles are lossless (transquant-bypass) so the oracle mirrors the "
    "per-CU closed forms exactly; libheif arbitrates the container "
    "convention and libde265 the wire in tests/test_heif_codec.py.",
)
def multimodal_decode_heic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # synthesize kernels spread their own id range (kernels.id_kernel)
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 160)
    media = multimodal.synthesize_heic_payloads(d, id_col="doc_id")
    return multimodal.decode_images(media, id_col="doc_id")


@register(
    "multimodal_decode_h264_multiref",
    """
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(fi * 500 AS BIGINT) AS ts_ms,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           CAST(CASE fi
             WHEN 0 THEN w * h * yv + (w // 2) * (h // 2) * (uv + vv)
             WHEN 1 THEN w * h * (yv + dy)
                  + (w // 2) * (h // 2) * (uv + dc + vv + dc)
             ELSE 256 * (ne * (yv + dy) + no * yv)
                  + 64 * (ne * (uv + dc + vv + dc) + no * (uv + vv))
           END AS BIGINT) AS pixel_sum
    FROM (
      SELECT doc_id, w, h, fi, yv, uv, vv, dy, dc,
             ((w // 16) * (h // 16) + 1) // 2 AS ne,
             (w // 16) * (h // 16) // 2 AS no
      FROM (
        SELECT doc_id, w, h,
               128 + ((CASE qk WHEN 0 THEN (13 * cy + 4) // 8
                               WHEN 1 THEN (16 * cy + 2) // 4
                               WHEN 2 THEN 10 * cy
                               ELSE 26 * cy END + 32) // 64) AS yv,
               128 + ((CASE qk WHEN 0 THEN (13 * cu) // 4
                               WHEN 1 THEN 8 * cu
                               WHEN 2 THEN 16 * cu
                               ELSE 22 * cu END + 32) // 64) AS uv,
               128 + ((CASE qk WHEN 0 THEN (13 * cv) // 4
                               WHEN 1 THEN 8 * cv
                               WHEN 2 THEN 16 * cv
                               ELSE 22 * cv END + 32) // 64) AS vv,
               ((CASE qk WHEN 0 THEN (13 * py + 1) // 2
                         WHEN 1 THEN 16 * py
                         WHEN 2 THEN 40 * py
                         ELSE 104 * py END) + 32) // 64 AS dy,
               ((CASE qk WHEN 0 THEN (13 * pc) // 4
                         WHEN 1 THEN 8 * pc
                         WHEN 2 THEN 16 * pc
                         ELSE 22 * pc END) + 32) // 64 AS dc
        FROM (
          SELECT doc_id,
                 32 + 16 * (doc_id % 3) AS w,
                 32 + 16 * (doc_id % 2) AS h,
                 doc_id % 4 AS qk,
                 1 + doc_id % 60 AS cy,
                 1 + doc_id % 30 AS cu,
                 1 + doc_id % 25 AS cv,
                 1 + doc_id % 8 AS py,
                 1 + doc_id % 5 AS pc
          FROM documents WHERE doc_id < 60
        )
      ), LATERAL (SELECT UNNEST(range(0, 3)) AS fi) f
    )
    """,
    tags=("llm-multimodal",),
    doc="Multi-reference P decode (r7c): synthesize_avc_multiref_"
    "payloads writes GOPs whose third picture declares "
    "num_ref_idx_l0_active=2 and alternates a te(v) ref_idx per "
    "macroblock — even MBs read RefPicList0[0] (the residual P), odd "
    "MBs reach PAST it to RefPicList0[1] (the IDR), so a list-"
    "construction or te-coding error flips every other macroblock's "
    "value and breaks the hash. The oracle mirrors the per-parity MB "
    "counts times the two flat closed forms. Decoded through "
    "H264AuDecoder's sliding-window DPB (llm/h264_inter.py "
    "_decode_pslice with refs list + refIdx-aware MV prediction and "
    "deblock bS).",
)
def multimodal_decode_h264_multiref(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    media = multimodal.synthesize_avc_multiref_payloads(d, id_col="doc_id")
    return multimodal.decode_video_pixels(media, every_ms=400)


@register(
    "multimodal_decode_h264_tdirect",
    """
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(fi * 500 AS BIGINT) AS ts_ms,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           CAST(CASE fi
             WHEN 0 THEN w * h * yv + (w // 2) * (h // 2) * (uv + vv)
             WHEN 1 THEN w * h * (yv + dy)
                  + (w // 2) * (h // 2) * (uv + dc + vv + dc)
             ELSE w * h * ((yv + yv + dy + 1) // 2)
                  + (w // 2) * (h // 2)
                    * ((uv + uv + dc + 1) // 2 + (vv + vv + dc + 1) // 2)
           END AS BIGINT) AS pixel_sum
    FROM (
      SELECT doc_id, w, h, yv, uv, vv, dy, dc
      FROM (
        SELECT doc_id, w, h,
               128 + ((CASE qk WHEN 0 THEN (13 * cy + 4) // 8
                               WHEN 1 THEN (16 * cy + 2) // 4
                               WHEN 2 THEN 10 * cy
                               ELSE 26 * cy END + 32) // 64) AS yv,
               128 + ((CASE qk WHEN 0 THEN (13 * cu) // 4
                               WHEN 1 THEN 8 * cu
                               WHEN 2 THEN 16 * cu
                               ELSE 22 * cu END + 32) // 64) AS uv,
               128 + ((CASE qk WHEN 0 THEN (13 * cv) // 4
                               WHEN 1 THEN 8 * cv
                               WHEN 2 THEN 16 * cv
                               ELSE 22 * cv END + 32) // 64) AS vv,
               ((CASE qk WHEN 0 THEN (13 * py + 1) // 2
                         WHEN 1 THEN 16 * py
                         WHEN 2 THEN 40 * py
                         ELSE 104 * py END) + 32) // 64 AS dy,
               ((CASE qk WHEN 0 THEN (13 * pc) // 4
                         WHEN 1 THEN 8 * pc
                         WHEN 2 THEN 16 * pc
                         ELSE 22 * pc END) + 32) // 64 AS dc
        FROM (
          SELECT doc_id,
                 32 + 2 * (doc_id % 9) AS w,
                 32 + 2 * (doc_id % 7) AS h,
                 doc_id % 4 AS qk,
                 1 + doc_id % 60 AS cy,
                 1 + doc_id % 30 AS cu,
                 1 + doc_id % 25 AS cv,
                 1 + doc_id % 8 AS py,
                 1 + doc_id % 5 AS pc
          FROM documents WHERE doc_id < 40
        )
      )
    ), LATERAL (SELECT UNNEST(range(0, 3)) AS fi) f
    """,
    tags=("llm-multimodal",),
    doc="Temporal direct mode (r7c, 8.4.1.2.3): "
    "synthesize_avc_tdirect_payloads writes GOPs whose B picture "
    "declares direct_spatial_mv_pred_flag=0, so its motion derives "
    "from the COLOCATED P picture's motion field scaled by POC "
    "distances (DistScaleFactor 128 at the midpoint: mvL0 = "
    "col_mv/2, mvL1 = -col_mv/2 — nonzero on the wire, identity over "
    "the flat anchors; tests pin the scaling itself on PCM gradients "
    "where the B frame reproduces the motion-interpolated source "
    "sample-exactly). Oracle = flat / flat+residual / bi-average "
    "closed forms.",
)
def multimodal_decode_h264_tdirect(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    media = multimodal.synthesize_avc_tdirect_payloads(d, id_col="doc_id")
    return multimodal.decode_video_pixels(media, every_ms=400)


@register(
    "multimodal_decode_h264_bpyramid",
    """
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(fi * 500 AS BIGINT) AS ts_ms,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           CAST(CASE fi
             WHEN 0 THEN w * h * y0 + (w // 2) * (h // 2) * (u0 + v0)
             WHEN 1 THEN w * h * y1 + (w // 2) * (h // 2) * (u1 + v1)
             WHEN 2 THEN w * h * y4 + (w // 2) * (h // 2) * (u4 + v4)
             WHEN 3 THEN w * h * ((y0 + y4 + 1) // 2)
                  + (w // 2) * (h // 2)
                    * ((u0 + u4 + 1) // 2 + (v0 + v4 + 1) // 2)
             ELSE w * h * ((y4 + y1 + 1) // 2)
                  + (w // 2) * (h // 2)
                    * ((u4 + u1 + 1) // 2 + (v4 + v1 + 1) // 2)
           END AS BIGINT) AS pixel_sum
    FROM (
      SELECT doc_id, w, h, y0, u0, v0, y1, u1, v1,
             (y0 + y1 + 1) // 2 AS y4,
             (u0 + u1 + 1) // 2 AS u4,
             (v0 + v1 + 1) // 2 AS v4
      FROM (
        SELECT doc_id, w, h, yv AS y0, uv AS u0, vv AS v0,
               yv + dy AS y1, uv + dc AS u1, vv + dc AS v1
        FROM (
          SELECT doc_id, w, h,
                 128 + ((CASE qk WHEN 0 THEN (13 * cy + 4) // 8
                                 WHEN 1 THEN (16 * cy + 2) // 4
                                 WHEN 2 THEN 10 * cy
                                 ELSE 26 * cy END + 32) // 64) AS yv,
                 128 + ((CASE qk WHEN 0 THEN (13 * cu) // 4
                                 WHEN 1 THEN 8 * cu
                                 WHEN 2 THEN 16 * cu
                                 ELSE 22 * cu END + 32) // 64) AS uv,
                 128 + ((CASE qk WHEN 0 THEN (13 * cv) // 4
                                 WHEN 1 THEN 8 * cv
                                 WHEN 2 THEN 16 * cv
                                 ELSE 22 * cv END + 32) // 64) AS vv,
                 ((CASE qk WHEN 0 THEN (13 * py + 1) // 2
                           WHEN 1 THEN 16 * py
                           WHEN 2 THEN 40 * py
                           ELSE 104 * py END) + 32) // 64 AS dy,
                 ((CASE qk WHEN 0 THEN (13 * pc) // 4
                           WHEN 1 THEN 8 * pc
                           WHEN 2 THEN 16 * pc
                           ELSE 22 * pc END) + 32) // 64 AS dc
          FROM (
            SELECT doc_id,
                   32 + 2 * (doc_id % 9) AS w,
                   32 + 2 * (doc_id % 7) AS h,
                   doc_id % 4 AS qk,
                   1 + doc_id % 60 AS cy,
                   1 + doc_id % 30 AS cu,
                   1 + doc_id % 25 AS cv,
                   1 + doc_id % 8 AS py,
                   1 + doc_id % 5 AS pc
            FROM documents WHERE doc_id < 30
          )
        )
      )
    ), LATERAL (SELECT UNNEST(range(0, 5)) AS fi) f
    """,
    tags=("llm-multimodal",),
    doc="Hierarchical-B (B-pyramid) decode (r7c): "
    "synthesize_avc_bpyramid_payloads writes GOPs whose midpoint B is "
    "a REFERENCE picture (nal_ref_idc != 0, dec_ref_pic_marking "
    "parsed) that enters the sliding-window DPB with its exported "
    "colocated motion field; the outer Bs at POC 2/6 anchor on it, so "
    "the oracle's closed forms are NESTED bi-averages — a DPB-"
    "membership or anchor-selection error collapses the nesting and "
    "breaks the hash. x264's default GOP structure.",
)
def multimodal_decode_h264_bpyramid(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    media = multimodal.synthesize_avc_bpyramid_payloads(d, id_col="doc_id")
    return multimodal.decode_video_pixels(media, every_ms=400)


@register(
    "multimodal_h264_keyframe_sampling",
    """
    SELECT doc_id, CAST(0 AS INT) AS frame_idx, CAST(0 AS BIGINT) AS ts_ms,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           CAST(w * h * (128 + ((CASE qk WHEN 0 THEN (13 * cy + 4) // 8
                                         WHEN 1 THEN (16 * cy + 2) // 4
                                         WHEN 2 THEN 10 * cy
                                         ELSE 26 * cy END + 32) // 64))
              + (w // 2) * (h // 2) *
                ((128 + ((CASE qk WHEN 0 THEN (13 * cu) // 4
                                  WHEN 1 THEN 8 * cu
                                  WHEN 2 THEN 16 * cu
                                  ELSE 22 * cu END + 32) // 64))
               + (128 + ((CASE qk WHEN 0 THEN (13 * cv) // 4
                                  WHEN 1 THEN 8 * cv
                                  WHEN 2 THEN 16 * cv
                                  ELSE 22 * cv END + 32) // 64)))
           AS BIGINT) AS pixel_sum
    FROM (
      SELECT doc_id,
             CASE WHEN doc_id < 460 THEN 32 + 2 * ((doc_id - 420) % 9)
                  WHEN doc_id < 490 THEN 32 + 16 * ((doc_id - 460) % 3)
                  ELSE 32 + 2 * ((doc_id - 490) % 9) END AS w,
             CASE WHEN doc_id < 460 THEN 32 + 2 * ((doc_id - 420) % 7)
                  WHEN doc_id < 490 THEN 32 + 16 * ((doc_id - 460) % 2)
                  ELSE 32 + 2 * ((doc_id - 490) % 7) END AS h,
             CASE WHEN doc_id < 460 THEN (doc_id - 420) % 4
                  WHEN doc_id < 490 THEN (doc_id - 460) % 4
                  ELSE (doc_id - 490) % 4 END AS qk,
             CASE WHEN doc_id < 460 THEN 1 + (doc_id - 420) % 60
                  WHEN doc_id < 490 THEN 1 + (doc_id - 460) % 60
                  ELSE 1 + (doc_id - 490) % 60 END AS cy,
             CASE WHEN doc_id < 460 THEN 1 + (doc_id - 420) % 30
                  WHEN doc_id < 490 THEN 1 + (doc_id - 460) % 30
                  ELSE 1 + (doc_id - 490) % 30 END AS cu,
             CASE WHEN doc_id < 460 THEN 1 + (doc_id - 420) % 25
                  WHEN doc_id < 490 THEN 1 + (doc_id - 460) % 25
                  ELSE 1 + (doc_id - 490) % 25 END AS cv
      FROM documents WHERE doc_id >= 420 AND doc_id < 500
    )
    """,
    tags=("llm-multimodal",),
    doc="Keyframe-only video sampling (r7c): decode_video_pixels"
    "(keyframes_only=True) walks the REAL stss sync-sample table the "
    "avc1 muxer writes (IDR samples only; absent stss = all-sync per "
    "ISO 14496-12) and decodes NOTHING but self-contained IDR "
    "pictures — the production 100-TB sampling knob that pays none "
    "of the P/B reference-chain cost. Over the GOP fixture ids "
    "(420-499: P-GOPs, IBP GOPs, weighted-prediction GOPs) exactly "
    "one row per id survives — the flat IDR anchor, whose closed "
    "form the oracle mirrors; a full-decode pass would emit 4-7 rows "
    "per id with MC/bi-pred/weighted values, so a sync-table error "
    "in either direction breaks the hash.",
)
def multimodal_h264_keyframe_sampling(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") >= 420) & (F.col("doc_id") < 500))
    media = multimodal.synthesize_avc_mp4_payloads(d, id_col="doc_id")
    return multimodal.decode_video_pixels(media, every_ms=400,
                                          keyframes_only=True)


@register(
    "multimodal_decode_tiff",
    """
    WITH p AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h,
             CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 3 END AS ch
      FROM documents WHERE doc_id < 300
    ), s AS (
      SELECT p.doc_id, p.w, p.h, p.ch,
             SUM((7*p.doc_id + 5*x.i + 3*y.i + 17*c.i) % 256) AS psum
      FROM p,
           LATERAL (SELECT UNNEST(range(0, p.w)) AS i) x,
           LATERAL (SELECT UNNEST(range(0, p.h)) AS i) y,
           LATERAL (SELECT UNNEST(range(0, p.ch)) AS i) c
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(ch AS INT) AS n_channels, CAST(psum AS BIGINT) AS pixel_sum
    FROM s
    """,
    tags=("llm-multimodal",),
    doc="REAL TIFF decode (llm.multimodal, r4; LZW/PackBits wire r9): "
    "synthesize_tiff_payloads writes an actual IFD per doc - required "
    "tags, inline-SHORT left-justification (the big-endian trap), "
    "offset-stored strip-offset/count arrays, 4-row strips, BOTH byte "
    "orders alternating by doc, and the strip compression cycling by "
    "id%3 (uncompressed / TIFF 6.0 s13 LZW, predictor-2 on ids 1 mod "
    "6 / s9 PackBits) - and decode_images walks the IFD, inflates "
    "each strip and reassembles. The LZW width transitions are "
    "arbitrated bit-exactly against libtiff in BOTH directions "
    "(tests/test_tiff_lzw.py); the closed-form oracle is unchanged "
    "by the wire (lossless codecs, identical pixel sums). "
    "JPEG-in-TIFF falls to the fake path. Oracle recomputes every "
    "channel byte arithmetically.",
)
def multimodal_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = multimodal.synthesize_tiff_payloads(d, id_col="doc_id")
    return multimodal.decode_images(media)


@register(
    "multimodal_decode_avif",
    """
    WITH p AS (
      SELECT doc_id, 16 + doc_id % 29 AS w, 16 + doc_id % 23 AS h,
             40 + doc_id % 57 AS n
      FROM documents WHERE doc_id < 320
    ), s AS (
      SELECT p.doc_id, p.w, p.h, p.n,
             SUM((31 * p.doc_id + 7 * x.i) % 256) AS tsum
      FROM p, LATERAL (SELECT UNNEST(range(0, p.n)) AS i) x
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           0 AS profile, 8 AS bit_depth, 1 AS lossless,
           4 AS n_obus, CAST(n AS INT) AS tile_bytes,
           CAST(tsum AS BIGINT) AS tile_sum
    FROM s
    """,
    tags=("llm-multimodal",),
    doc="AVIF container + AV1 bitstream-header walk (llm.av1 + "
    "llm.multimodal, r9): synthesize_avif_payloads writes REAL .avif "
    "files - ftyp/meta(pitm/iinf/iprp/iloc)/mdat with an av01 primary "
    "item, an av1C configuration record carrying a real AV1 "
    "sequence-header OBU, a real KEY-frame-header OBU and a tile-group "
    "OBU - and decode_avif_structure walks the container (the same "
    "_HeifMeta machinery as HEIC), validates av1C against ispe, parses "
    "the sequence + frame headers (CodedLossless derivation, tile "
    "grid) and extracts/sums the tile-group bytes. The OBU/header "
    "layers are arbitrated against all five in-container AV1 "
    "reference implementations on aom/rav1e-encoded streams "
    "(tests/test_av1_codec.py, test_avif_codec.py: 32/32 header "
    "sweeps, libheif reads our containers, our walker parses "
    "libheif's); the AV1 SYMBOL tier (MSAC + default CDFs) is the r10 "
    "frontier - this leg grades the layers that are complete, "
    "stated plainly. Oracle recomputes every structural fact and the "
    "tile-byte checksum arithmetically.",
)
def multimodal_decode_avif(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 320)
    media = multimodal.synthesize_avif_payloads(d, id_col="doc_id")
    return multimodal.decode_avif_structure(media)


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ tier)
# ---------------------------------------------------------------------------


def _pq_adc_oracle(
    n_sub: int = 8,
    n_centroids: int = 16,
    sub_dim: int = 8,
    k: int = 5,
    n_queries: int = 10,
) -> str:
    """Oracle generated FROM the same deterministic codebook the Spark
    plan embeds (`pq.deterministic_codebook`), so the two can never
    drift: identical left-associated (+, -, x) distance chains (which
    neither engine reassociates for doubles), LEAST+first-match-CASE
    argmin mirroring array_min's lowest-centroid tie-break, and the
    same Sum-of-lookups ADC association — every double is bit-identical
    across engines, making ROUND/rank hash-safe with no epsilon."""
    cb = pq.deterministic_codebook(n_sub, n_centroids, sub_dim)

    def dist(prefix: str, s: int, cent) -> str:
        parts = []
        for j, v in enumerate(cent):
            t = f"({prefix}[{s * sub_dim + j + 1}] - ({v!r}))"
            parts.append(f"{t} * {t}")
        return " + ".join(parts)

    dcols = ",\n             ".join(
        f"{dist('e', s, cb[s][c])} AS d_{s}_{c}"
        for s in range(n_sub)
        for c in range(n_centroids)
    )
    mins = ",\n             ".join(
        f"LEAST({', '.join(f'd_{s}_{c}' for c in range(n_centroids))}) AS m_{s}"
        for s in range(n_sub)
    )
    codecols = []
    for s in range(n_sub):
        whens = " ".join(
            f"WHEN d_{s}_{c} = m_{s} THEN {c}" for c in range(n_centroids)
        )
        codecols.append(f"CASE {whens} END AS c_{s}")
    adc_terms = []
    for s in range(n_sub):
        whens = " ".join(
            f"WHEN {c} THEN {dist('q.e', s, cb[s][c])}"
            for c in range(n_centroids)
        )
        adc_terms.append(f"(CASE c.c_{s} {whens} END)")
    adc = "\n             + ".join(adc_terms)
    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), d AS (
      SELECT vec_id,
             {dcols}
      FROM v
    ), mn AS (
      SELECT *,
             {mins}
      FROM d
    ), codes AS (
      SELECT vec_id, {', '.join(codecols)}
      FROM mn
    ), q AS (
      SELECT vec_id, e FROM v WHERE vec_id < {n_queries}
    ), pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {adc} AS adc_raw
      FROM q JOIN codes c ON q.vec_id <> c.vec_id
    ), ranked AS (
      SELECT query_id, neighbor_id, adc_raw,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY adc_raw ASC NULLS LAST, neighbor_id ASC
             ) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank,
           ROUND(adc_raw, 4) AS adc
    FROM ranked WHERE rnk <= {k}
    """


@register(
    "ann_pq_adc_topk",
    _pq_adc_oracle(),
    tags=("llm-similarity", "scale-path", "storage"),
    doc="Product-quantization ADC top-k (llm.pq, r4; Jegou et al. 2011 "
    "- the billion-scale ANN compression leg): vectors PQ-encoded to 8 "
    "codes of 16 centroids (512 raw bytes -> 4 packed bytes, the "
    "storage tier succeeding embedding_quantize_int8's graded slot), "
    "then queries rank the corpus by asymmetric distance - a per-query "
    "128-entry exact LUT broadcast with the query side, Sum of n_sub "
    "lookups per pair, NO full-width vector math on the corpus side. "
    "Graded with the deterministic integer-arithmetic codebook so the "
    "generated oracle restates the exact same doubles; the TRAINED "
    "codebook path (pq.pq_train, per-subspace distributed k-means) and "
    "its recall-vs-exact curve are pinned in "
    "tests/test_similarity_quality.py.",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    cb = pq.deterministic_codebook()
    codes = pq.pq_encode(e, cb)
    q = e.filter(F.col("vec_id") < 10)
    return pq.pq_adc_topk(q, codes, cb)


# ---------------------------------------------------------------------------
# Model-based quality classifier
# ---------------------------------------------------------------------------


@register(
    "text_quality_classifier",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_concat(
               w,
               CASE WHEN len(w) >= 2
                    THEN list_transform(range(1, len(w)),
                                        i -> w[i] || ' ' || w[i + 1])
                    ELSE [] END
             ) AS grams
      FROM t
    ), e AS (
      SELECT doc_id,
             ((((('0x' || substr(md5(tok.t), 1, 4))::BIGINT % 4096)
                * 2654435761) % 8191) - 4095) AS wt
      FROM g, LATERAL (SELECT UNNEST(grams) AS t) tok
    ), s AS (
      SELECT doc_id, CAST(SUM(wt) AS BIGINT) AS margin
      FROM e GROUP BY doc_id
    )
    SELECT g.doc_id,
           CAST(len(g.grams) AS INT) AS n_grams,
           COALESCE(s.margin, 0) AS margin,
           CAST(COALESCE(s.margin, 0) > 0 AS INT) AS label
    FROM g LEFT JOIN s ON g.doc_id = s.doc_id
    """,
    tags=("llm-text", "llm-classifier"),
    doc="Model-based quality gate (llm.classifier, r4 — the fasttext-"
    "style hashed-ngram linear classifier real pipelines put beside "
    "the heuristic filters): unigram+bigram tokens hashed to 4096 "
    "buckets via the ADR-004 md5-prefix idiom, INTEGER weighted margin "
    "as one zero-shuffle ordered fold per row (no explode/groupBy in "
    "the Spark plan; BIGINT sums are aggregation-order-exact, so no "
    "float trap exists in this entry by construction), decision = "
    "margin > 0. Graded with the closed-form integer weight table "
    "both engines restate; the TRAINED path (distributed batch-GD "
    "logistic regression, kilobyte gradient collects, integer-"
    "quantized serving) is pinned in tests/test_curation.py.",
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm import classifier

    d = _t(spark, sf_dir, "documents")
    return classifier.score_quality_fixed(d)


@register(
    "ann_ivfpq_rerank",
    """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_inner_product(
               list_transform(range(1, len(q.e) + 1), i -> q.e[i] - c.e[i]),
               list_transform(range(1, len(q.e) + 1), i -> q.e[i] - c.e[i])
             ) AS d2
      FROM v q JOIN v c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 10
    ), ranked AS (
      SELECT query_id, neighbor_id, d2,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY d2 ASC NULLS LAST, neighbor_id ASC
             ) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank, ROUND(d2, 4) AS d2
    FROM ranked WHERE rnk <= 5
    """,
    tags=("llm-similarity", "scale-path", "no-bench"),
    doc="Composed FAISS-style IVF-PQ search (llm.pq.ivfpq_topk, r4b): "
    "L2 coarse quantizer (fused-Lloyd pq_train, one subspace) -> "
    "RESIDUAL PQ codebook + 8x4-bit codes per vector -> per-query "
    "probed-list ADC with residual lookup tables -> codes-only "
    "shortlist -> exact rerank of shortlist pairs. Battery contract "
    "mirrors ann_ivf_topk: probing every list with a corpus-deep "
    "shortlist makes the candidate set total, so the output must EQUAL "
    "exact squared-L2 top-k and the brute-force SQL is the oracle - "
    "recall is the checked property (rerank folds are bit-identical to "
    "DuckDB's list_inner_product over the difference list; validated "
    "over every sf0.01 pair). Sub-exhaustive recall at n_probe < "
    "n_lists pinned in tests/test_similarity_quality.py. no-bench: "
    "the entry trains two codebooks per run - index-build/maintenance "
    "cost, not query latency (ann_ivf_index_probe precedent).",
)
def ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return pq.ivfpq_topk(
        q, e, k=5, n_probe=16, shortlist=1_000_000, kmeans_iters=1
    )


_BM25_QUERIES = [
    (0, ["spark", "join", "fast"]),
    (1, ["table", "scan"]),
    (2, ["stream", "window", "batch"]),
    (3, ["vector", "hash"]),
]

_BM25_VALUES = ", ".join(
    "({}, [{}])".format(qid, ", ".join(f"'{t}'" for t in terms))
    for qid, terms in _BM25_QUERIES
)


@register(
    "text_bm25_topk",
    f"""
    WITH q(query_id, terms) AS (VALUES {_BM25_VALUES}),
    qt AS (
      SELECT CAST(query_id AS INT) AS query_id, unnest(list_distinct(terms)) AS term
      FROM q
    ),
    tok AS (
      SELECT doc_id, {_DUCK_TOKENS.format(col='text')} AS w FROM documents
    ),
    post AS (
      SELECT term, doc_id, dl, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM tok)
      GROUP BY 1, 2, 3
    ),
    matched AS (
      SELECT p.* FROM post p WHERE term IN (SELECT DISTINCT term FROM qt)
    ),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM matched GROUP BY 1
    ),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(w)) AS BIGINT) AS totlen
      FROM tok
    ),
    cand AS (
      SELECT qt.query_id, m.doc_id,
             CAST(22 AS HUGEINT) * totlen * tf
               * (2*n_docs - 2*df + 1) * 100000 AS num,
             (CAST(10 AS HUGEINT)*totlen*tf + CAST(3 AS HUGEINT)*totlen
               + CAST(9 AS HUGEINT)*dl*n_docs) * (2*df + 1) AS den
      FROM matched m
      JOIN qt ON m.term = qt.term
      JOIN dfreq ON dfreq.term = m.term
      CROSS JOIN c
    ),
    scored AS (
      SELECT query_id, doc_id,
             CAST(SUM(CAST(num // den AS BIGINT)) AS BIGINT) AS score
      FROM cand GROUP BY 1, 2
    ),
    r AS (
      SELECT query_id, doc_id, score,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY score DESC, doc_id ASC NULLS LAST) AS rank
      FROM scored
    )
    SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5
    """,
    tags=("llm-text", "llm-retrieval", "scale-path"),
    doc="BM25 top-k full-text retrieval (llm.retrieval.bm25_topk, r4c) "
    "— the lexical-retrieval leg of the LLM-data tier. Corpus reduced "
    "once to (term, doc_id, tf, dl) postings (explode + map-side-"
    "combining groupBy); broadcast query terms semi-join the postings "
    "so df/scoring aggregations touch matched rows only; corpus "
    "scalars ride a broadcast single-row cross join; top-k is a "
    "query-partitioned window over the sparse candidates. Graded "
    "scores are BIGINT: k1=6/5, b=3/4 and the rational idf surrogate "
    "(2N-2df+1)/(2df+1) clear every fraction, so each contribution is "
    "one integral division of exact integer products (DECIMAL(38,0) "
    "div == HUGEINT //) and the sum is order-independent — no libm "
    "call in any hash-compared column. The textbook log-idf path "
    "(idf='log') shares the plan and is pinned against an independent "
    "numpy mirror in tests/test_retrieval.py.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        _BM25_QUERIES, "query_id INT, terms ARRAY<STRING>"
    )
    return retrieval.bm25_topk(docs, queries, k=5, idf="rational")


@register(
    "text_hybrid_retrieval",
    f"""
    WITH tok AS (
      SELECT doc_id, {_DUCK_TOKENS.format(col='text')} AS w FROM documents
    ),
    q AS (SELECT doc_id AS query_id, w[1:3] AS terms FROM tok WHERE doc_id < 10),
    qt AS (SELECT query_id, unnest(list_distinct(terms)) AS term FROM q),
    post AS (
      SELECT term, doc_id, dl, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM tok)
      GROUP BY 1, 2, 3
    ),
    matched AS (
      SELECT p.* FROM post p WHERE term IN (SELECT DISTINCT term FROM qt)
    ),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM matched GROUP BY 1
    ),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(w)) AS BIGINT) AS totlen
      FROM tok
    ),
    cand AS (
      SELECT qt.query_id, m.doc_id,
             CAST(22 AS HUGEINT) * totlen * tf
               * (2*n_docs - 2*df + 1) * 100000 AS num,
             (CAST(10 AS HUGEINT)*totlen*tf + CAST(3 AS HUGEINT)*totlen
               + CAST(9 AS HUGEINT)*dl*n_docs) * (2*df + 1) AS den
      FROM matched m
      JOIN qt ON m.term = qt.term
      JOIN dfreq ON dfreq.term = m.term
      CROSS JOIN c
    ),
    scored AS (
      SELECT query_id, doc_id,
             CAST(SUM(CAST(num // den AS BIGINT)) AS BIGINT) AS score
      FROM cand GROUP BY 1, 2
    ),
    lex AS (
      SELECT * FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY score DESC, doc_id ASC NULLS LAST) AS rank
        FROM scored WHERE doc_id <> query_id
      ) WHERE rank <= 20
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    dsc AS (
      SELECT qv.vec_id AS query_id, cv.vec_id AS doc_id,
             CASE WHEN list_inner_product(qv.e, qv.e) = 0
                    OR list_inner_product(cv.e, cv.e) = 0 THEN 0.0
                  ELSE list_cosine_similarity(qv.e, cv.e) END AS cos_raw
      FROM v qv JOIN v cv ON qv.vec_id <> cv.vec_id
      WHERE qv.vec_id < 10
    ),
    dense AS (
      SELECT * FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY cos_raw DESC, doc_id ASC NULLS LAST) AS rank
        FROM dsc
      ) WHERE rank <= 20
    ),
    fused AS (
      SELECT COALESCE(l.query_id, d.query_id) AS query_id,
             COALESCE(l.doc_id, d.doc_id) AS doc_id,
             CAST(COALESCE(1000000000000 // (60 + l.rank), 0)
                + COALESCE(1000000000000 // (60 + d.rank), 0) AS BIGINT) AS rrf_score,
             CAST(l.rank AS INT) AS lex_rank, CAST(d.rank AS INT) AS dense_rank
      FROM lex l FULL JOIN dense d
        ON l.query_id = d.query_id AND l.doc_id = d.doc_id
    )
    SELECT query_id, doc_id, rrf_score, lex_rank, dense_rank,
           CAST(fused_rank AS INT) AS fused_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY rrf_score DESC, doc_id ASC NULLS LAST) AS fused_rank
      FROM fused
    ) WHERE fused_rank <= 10
    """,
    tags=("llm-text", "llm-retrieval", "llm-similarity", "scale-path"),
    doc="Hybrid retrieval via reciprocal-rank fusion (VERDICT r4 next "
    "#3, llm.retrieval.rrf_fuse): the graded lexical tier (BM25 "
    "integer-rational scores, document-as-query with self excluded, "
    "terms = the query doc's first three tokens) and the graded dense "
    "tier (exact cosine top-20 over the embeddings corpus, JVM "
    "sequential-fold dot products) each rank independently, then fuse "
    "by Σ scale div (60 + rank) — pure rank arithmetic, no score "
    "calibration, no floats in the fused ordering, so the fused top-10 "
    "is hash-stable end-to-end. Nullable per-system ranks ride along "
    "(a doc found by only one system scores one term). Scale: fusion "
    "touches only the top-L-per-query frames (one union + groupBy + "
    "query-partitioned window) — corpus-size-independent; swap the "
    "dense leg for ivf_topk/pq at 100 TB, the fusion plan is "
    "unchanged.",
)
def text_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    q_lex = docs.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"),
        F.slice(text_ops.tokens_expr("text"), 1, 3).alias("terms"),
    )
    lex = retrieval.bm25_topk(
        docs, q_lex, k=20, idf="rational", exclude_self=True
    ).select("query_id", "doc_id", "rank")
    dense = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=20
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    fused = retrieval.rrf_fuse({"lex": lex, "dense": dense}, k=10)
    return fused.select(
        "query_id", "doc_id", "rrf_score", "lex_rank", "dense_rank", "fused_rank"
    )


@register(
    "fuzzy_match_parts",
    """
    WITH probes AS (
      SELECT p_partkey AS probe_id,
             CASE WHEN p_partkey % 2 = 0
                  THEN substr(p_name, 1, 2) || substr(p_name, 4)
                  ELSE substr(p_name, 1, 1) || 'x' || substr(p_name, 3)
             END AS probe_name
      FROM part WHERE p_partkey % 5 = 0
    ),
    cand AS (SELECT p_partkey AS cand_id, p_name AS cand_name FROM part),
    pairs AS (
      SELECT probe_id, cand_id,
             levenshtein(probe_name, cand_name) AS dist
      FROM probes JOIN cand
        ON lower(substr(probe_name, 1, 1) || substr(probe_name, length(probe_name), 1))
         = lower(substr(cand_name, 1, 1) || substr(cand_name, length(cand_name), 1))
       AND abs(length(probe_name) - length(cand_name)) <= 2
      WHERE levenshtein(probe_name, cand_name) <= 2
    ),
    best AS (
      SELECT probe_id, cand_id, dist,
             ROW_NUMBER() OVER (
               PARTITION BY probe_id
               ORDER BY dist ASC, cand_id ASC NULLS LAST) AS rn
      FROM pairs
    )
    SELECT probe_id, cand_id, CAST(dist AS INT) AS dist
    FROM best WHERE rn = 1
    """,
    tags=("llm-dedup", "J4", "fuzzy-match", "scale-path"),
    doc="Blocked fuzzy-match join (operators.fuzzy.fuzzy_match_join, "
    "r4c) — entity resolution by Levenshtein distance. Probes are "
    "deterministically corrupted part names (even keys: 3rd char "
    "deleted; odd keys: 2nd char substituted — both preserve the "
    "name's edge chars, so the block key is corruption-invariant); "
    "candidates are the canonical part names. Candidate generation is "
    "a BLOCKING equi-join on the composite (first char, last char) "
    "key with a length-band residual (necessary condition for "
    "dist<=2): no cross join exists at any scale, the probe side is "
    "broadcast (candidates never shuffle — full scan parallelism), "
    "and block cardinality is the edge-bigram space, not 1-char "
    "prefixes (8.9s -> 1.5s at sf0.1). Distances are JVM codegen "
    "F.levenshtein (identical unit-cost definition in DuckDB); the "
    "best match per probe is one map-side-combining min(struct(dist, "
    "cand_id)) — deterministic tie-break, integer-exact compare.",
)
def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import fuzzy as fuzzy_ops  # local import keeps module load light

    part = _t(spark, sf_dir, "part")
    probes = part.filter(F.col("p_partkey") % 5 == 0).select(
        F.col("p_partkey").alias("probe_id"),
        F.when(
            F.col("p_partkey") % 2 == 0,
            F.concat(F.expr("substring(p_name, 1, 2)"), F.expr("substring(p_name, 4)")),
        )
        .otherwise(
            F.concat(
                F.expr("substring(p_name, 1, 1)"),
                F.lit("x"),
                F.expr("substring(p_name, 3)"),
            )
        )
        .alias("probe_name"),
    )
    cands = part.select(
        F.col("p_partkey").alias("cand_id"), F.col("p_name").alias("cand_name")
    )
    return fuzzy_ops.fuzzy_match_join(
        F.broadcast(probes),
        cands,
        max_dist=2,
        len_band=2,
        block_key=fuzzy_ops.edge_block_key(),
    )

# Deterministic HTML wrapper for text_html_extract, built IDENTICALLY
# on both engines around each doc's text: a title/h1 carrying the id,
# style + script blocks that must vanish entirely, a comment, and an
# entity gauntlet incl. the double-escape '&amp;lt;' (must yield the
# literal '&lt;', not '<').
_HTML_PREFIX = (
    '<html><head><title>Doc </title>'
    "<style>p{color:red}</style>"
    '<script type="text/javascript">var s = "SECRET" + 1;</script>'
    "<!-- hidden comment --></head><body><h1>Heading</h1><p>"
)
_HTML_SUFFIX = (
    "</p><p>Tom &amp; Jerry &lt;3 &quot;quotes&quot;&nbsp;"
    "it&#39;s &amp;lt;done</p></body></html>"
)


def _html_chain_sql(inner: str) -> str:
    """The html_to_text chain as SQL over `inner` — shared by the
    text_html_extract oracle shape and the composed web pipeline."""
    return (
        "trim(regexp_replace("
        "replace(replace(replace(replace(replace(replace(replace("
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        + inner
        + ", '(?is)<script[^>]*>.*?</script>', ' ', 'g')"
        ", '(?is)<style[^>]*>.*?</style>', ' ', 'g')"
        ", '(?s)<!--.*?-->', ' ', 'g')"
        ", '<[^>]*>', ' ', 'g')"
        ", '&lt;', '<'), '&gt;', '>'), '&quot;', '\"')"
        ", '&#39;', chr(39)), '&apos;', chr(39)), '&nbsp;', ' '), '&amp;', '&')"
        ", '\\s+', ' ', 'g'))"
    )


@register(
    "text_html_extract",
    f"""
    WITH h AS (
      SELECT doc_id, '{_HTML_PREFIX}' || text || '{_HTML_SUFFIX}' AS html
      FROM documents WHERE doc_id < 400
    ), s AS (
      SELECT doc_id, {_html_chain_sql("html")} AS x FROM h
    )
    SELECT doc_id, CAST(length(x) AS INT) AS n_chars, md5(x) AS extract_md5,
           (x LIKE '%SECRET%' OR x LIKE '%color:red%') AS has_boilerplate_leak
    FROM s
    """,
    tags=("llm-text", "2.10-string"),
    doc="HTML -> visible-text extraction (llm.text.html_to_text): the "
    "boilerplate-removal step between WARC ingestion and curation. "
    "Script/style/comment blocks dropped, tags stripped, core entities "
    "decoded in the order that keeps double-escapes literal, whitespace "
    "collapsed - a zero-shuffle JVM regexp/replace chain written without "
    "backreferences so the DuckDB/RE2 oracle replays it verbatim. The "
    "graded property is cross-engine parity of the full chain (md5 of "
    "every extracted string); pytest pins the absolute semantics "
    "(SECRET/style payloads truly gone, entity gauntlet).",
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    html = F.concat(F.lit(_HTML_PREFIX), F.col("text"), F.lit(_HTML_SUFFIX))
    x = text_ops.html_to_text(html)
    return d.select(
        "doc_id",
        F.length(x).cast("int").alias("n_chars"),
        F.md5(F.encode(x, "UTF-8")).alias("extract_md5"),
        (x.contains("SECRET") | x.contains("color:red")).alias(
            "has_boilerplate_leak"
        ),
    )

@register(
    "web_url_normalize",
    """
    WITH r AS (
      SELECT doc_id,
        CASE doc_id % 6
          WHEN 0 THEN 'HTTP://Example.COM:80/p/' || CAST(doc_id AS VARCHAR) || '?q=1#frag'
          WHEN 1 THEN 'https://HOST.net:443/'
          WHEN 2 THEN 'https://a.b.c/x/' || CAST(doc_id AS VARCHAR) || '/'
          WHEN 3 THEN 'http://plain.org'
          WHEN 4 THEN 'ftp://Weird.Host:21/' || CAST(doc_id AS VARCHAR)
          ELSE '  not a url ' || CAST(doc_id AS VARCHAR) || '  '
        END AS url
      FROM documents WHERE doc_id < 600
    ), g AS (
      SELECT doc_id, url, trim(url) AS u,
        lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$', 1)) AS scheme,
        lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$', 2)) AS host0,
        regexp_replace(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$', 3), '#.*$', '') AS rest0
      FROM r
    ), n AS (
      SELECT doc_id, url, u, scheme,
        CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
             WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
             ELSE host0 END AS host,
        CASE WHEN rest0 = '/' THEN '' ELSE rest0 END AS rest
      FROM g
    )
    SELECT doc_id,
           CASE WHEN scheme = '' THEN u ELSE scheme || '://' || host || rest END AS norm_url,
           CASE WHEN scheme = '' THEN '' ELSE host END AS host,
           (CASE WHEN scheme = '' THEN u ELSE scheme || '://' || host || rest END <> url) AS changed
    FROM n
    """,
    tags=("llm-text", "2.10-string"),
    doc="URL canonicalization (llm.text.normalize_url / url_host): the "
    "crawl-frontier dedup key — two spellings of one page collide "
    "BEFORE fetch. Lowercase scheme+authority, fragment stripped, "
    "default ports dropped (http:80/https:443 only; ftp keeps :21), "
    "bare '/' path collapsed, non-URLs pass through trimmed. "
    "Zero-shuffle JVM chain over one shared Java/RE2 authority regex; "
    "the oracle replays the chain verbatim on six fixture spellings "
    "per doc incl. the passthrough leg.",
)
def web_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 600)
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 6
    url = (
        F.when(m == 0, F.concat(F.lit("HTTP://Example.COM:80/p/"), sid, F.lit("?q=1#frag")))
        .when(m == 1, F.lit("https://HOST.net:443/"))
        .when(m == 2, F.concat(F.lit("https://a.b.c/x/"), sid, F.lit("/")))
        .when(m == 3, F.lit("http://plain.org"))
        .when(m == 4, F.concat(F.lit("ftp://Weird.Host:21/"), sid))
        .otherwise(F.concat(F.lit("  not a url "), sid, F.lit("  ")))
    )
    staged = d.select("doc_id", url.alias("url"))
    norm = text_ops.normalize_url(F.col("url"))
    return staged.select(
        "doc_id",
        norm.alias("norm_url"),
        text_ops.url_host(F.col("url")).alias("host"),
        (norm != F.col("url")).alias("changed"),
    )

# Multilingual fixture suffixes for text_script_fractions (escapes per
# the r4c rule): Cyrillic, CJK, Greek (incl. a tonos letter), Arabic
# with digits, and the ASCII no-op.
_SCRIPT_SUFFIXES = (
    "",
    " \u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440",
    " \u4f60\u597d\u4e16\u754c",
    " \u03b3\u03b5\u03b9\u03ac \u03c3\u03bf\u03c5",
    " \u0645\u0631\u062d\u0628\u0627 123",
)


def _script_fractions_oracle() -> str:
    """Replays script_fractions in SQL, generated from the SAME
    SCRIPT_CLASSES dict so the literal class text is shared verbatim
    (literal chars in a class mean the same in Java regex and RE2)."""
    classes = text_ops.SCRIPT_CLASSES
    names = sorted(classes)
    letters = [n for n in names if n != "digit"]
    cnts = ",\n            ".join(
        f"CAST(length(raw) - length(regexp_replace(raw, '{classes[n]}', '', 'g')) AS INT) AS n_{n}"
        for n in names
    )
    best = "GREATEST(" + ", ".join(f"n_{n}" for n in letters) + ")"
    dom = (
        f"CASE WHEN {best} = 0 THEN 'other' "
        + " ".join(f"WHEN n_{n} = {best} THEN '{n}'" for n in letters)
        + " END"
    )
    fracs = ",\n           ".join(
        f"ROUND(n_{n} / GREATEST(n_chars, 1), 4) AS frac_{n}" for n in names
    )
    sfx = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(_SCRIPT_SUFFIXES) if i
    )
    return f"""
    WITH r AS (
      SELECT doc_id,
             text || CASE doc_id % 5 {sfx} ELSE '' END AS raw
      FROM documents WHERE doc_id < 500
    ), c AS (
      SELECT doc_id, CAST(length(raw) AS INT) AS n_chars,
            {cnts}
      FROM r
    )
    SELECT doc_id, n_chars, {", ".join(f"n_{n}" for n in names)},
           {fracs},
           {dom} AS dominant_script
    FROM c
    """


@register(
    "text_script_fractions",
    _script_fractions_oracle(),
    tags=("llm-text", "2.10-string"),
    doc="Unicode-script composition (llm.text.script_fractions): the "
    "multilingual curation signal that catches mixed-script spam and "
    "mojibake before language-ID commits to one label. Per-script "
    "counts via length-difference after class removal (zero-shuffle, "
    "one regexp per class), ROUND(,4) fractions, argmax dominant "
    "script with name-asc tie-break. The oracle is GENERATED from the "
    "same SCRIPT_CLASSES dict, so both engines run byte-identical "
    "literal-character classes — the portable alternative to "
    "\\p{script} classes, whose spelling differs between Java and RE2.",
)
def text_script_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _SCRIPT_SUFFIXES]),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    staged = d.select(
        "doc_id", F.concat(F.col("text"), suffix).alias("raw")
    )
    return text_ops.script_fractions(staged, text_col="raw")

@register(
    "web_pipeline_ingest",
    f"""
    WITH d AS (
      SELECT doc_id, '{_HTML_PREFIX}' || text || '{_HTML_SUFFIX}' AS page
      FROM documents WHERE doc_id < 300
    ), x AS (
      SELECT doc_id, 'http://corpus.test/' || CAST(doc_id AS VARCHAR) AS target_uri,
             {_html_chain_sql("page")} AS t
      FROM d
    )
    SELECT doc_id, target_uri, CAST(length(t) AS INT) AS n_chars,
           md5(t) AS text_md5,
           (len({_DUCK_TOKENS.format(col='t')}) >= 5) AS passes_min_words
    FROM x
    """,
    tags=("llm-text", "S1", "sources-formats"),
    doc="Composed web-ingest pipeline: raw crawl archive -> training "
    "text in one graded flow. synthesize_warc_payloads wraps each doc "
    "in the HTML shell and encodes a REAL WARC archive (odd docs "
    "member-gzipped); read_warc_records(include_body=True) walks the "
    "records; the response bodies run html_to_text; a minimum-word "
    "quality gate flags keepers. Every stage is the already-graded "
    "machinery composed end-to-end (warc_ingest + text_html_extract + "
    "the token idiom), and the oracle replays the whole flow "
    "arithmetically - the WARC leg contributes structure (record "
    "selection), the HTML leg the string chain, the gate the token "
    "count.",
)
def web_pipeline_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import warc as warc_mod

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pages = d.select(
        "doc_id",
        F.concat(F.lit(_HTML_PREFIX), F.col("text"), F.lit(_HTML_SUFFIX)).alias(
            "text"
        ),
    )
    archives = warc_mod.synthesize_warc_payloads(pages)
    recs = warc_mod.read_warc_records(archives, include_body=True)
    resp = recs.filter(F.col("warc_type") == "response").select(
        "doc_id", "target_uri", "body"
    )
    x = text_ops.html_to_text(F.col("body"))
    return resp.select(
        "doc_id",
        "target_uri",
        F.length(x).cast("int").alias("n_chars"),
        F.md5(F.encode(x, "UTF-8")).alias("text_md5"),
        (text_ops.token_count(x) >= 5).alias("passes_min_words"),
    )

@register(
    "web_robots_filter",
    """
    WITH d AS (
      SELECT doc_id, doc_id % 7 AS k, doc_id % 5 AS m
      FROM documents WHERE doc_id < 490
    ), u AS (
      SELECT doc_id,
             'site' || CAST(k AS VARCHAR) || '.test' AS host,
             CASE m
               WHEN 0 THEN '/public/p' || CAST(doc_id AS VARCHAR)
               WHEN 1 THEN '/private/x' || CAST(doc_id AS VARCHAR)
               WHEN 2 THEN '/private/open' || CAST(k AS VARCHAR) || '/y'
               WHEN 3 THEN '/tmp' || CAST(k AS VARCHAR)
               ELSE '/'
             END AS path
      FROM d
    ), hosts AS (
      SELECT DISTINCT doc_id % 7 AS k FROM documents WHERE doc_id < 490
    ), r AS (
      SELECT 'site' || CAST(k AS VARCHAR) || '.test' AS host,
             '/private' AS prefix, FALSE AS allow, 8 AS rule_len FROM hosts
      UNION ALL
      SELECT 'site' || CAST(k AS VARCHAR) || '.test',
             '/private/open' || CAST(k AS VARCHAR), TRUE,
             CAST(length('/private/open' || CAST(k AS VARCHAR)) AS INT) FROM hosts
      UNION ALL
      SELECT 'site' || CAST(k AS VARCHAR) || '.test',
             '/tmp' || CAST(k AS VARCHAR), FALSE,
             CAST(length('/tmp' || CAST(k AS VARCHAR)) AS INT) FROM hosts
    ), cand AS (
      SELECT u.doc_id, u.host, u.path, r.prefix, r.allow, r.rule_len,
             (r.prefix IS NOT NULL AND starts_with(u.path, r.prefix)) AS hit
      FROM u LEFT JOIN r ON r.host = u.host
    ), best AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id
        ORDER BY hit DESC, rule_len DESC NULLS LAST,
                 allow DESC NULLS LAST, prefix ASC NULLS LAST) AS rn
      FROM cand
    )
    SELECT doc_id, 'http://' || host || path AS url, host, path,
           CASE WHEN hit THEN allow ELSE TRUE END AS allowed,
           CASE WHEN hit THEN prefix ELSE '' END AS matched_prefix,
           CAST(CASE WHEN hit THEN rule_len ELSE 0 END AS INT) AS matched_len
    FROM best WHERE rn = 1
    """,
    tags=("llm-text", "J4", "sources-formats"),
    doc="robots.txt politeness filter (sources/robots.py): per-host "
    "rule files PARSED for real by the Python kernel (group semantics: "
    "a badbot group that must be ignored for agent '*', an empty "
    "Disallow no-op), then every URL decided JVM-side — equi-join on "
    "host, startswith residual, one argmax window: longest prefix "
    "wins, Allow beats Disallow on ties, no match means allowed. The "
    "oracle reconstructs the RULES arithmetically from the same closed "
    "form (independent of the parser) and replays the match in SQL, so "
    "a green row grades parse AND match end-to-end.",
)
def web_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import robots as robots_mod

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 490)
    k = (F.col("doc_id") % 7).cast("string")
    m = F.col("doc_id") % 5
    sid = F.col("doc_id").cast("string")
    host = F.concat(F.lit("site"), k, F.lit(".test"))
    path = (
        F.when(m == 0, F.concat(F.lit("/public/p"), sid))
        .when(m == 1, F.concat(F.lit("/private/x"), sid))
        .when(m == 2, F.concat(F.lit("/private/open"), k, F.lit("/y")))
        .when(m == 3, F.concat(F.lit("/tmp"), k))
        .otherwise(F.lit("/"))
    )
    urls = d.select(
        "doc_id", F.concat(F.lit("http://"), host, path).alias("url")
    )
    hosts = (
        d.select((F.col("doc_id") % 7).cast("string").alias("kk"))
        .distinct()
        .select(
            F.concat(F.lit("site"), F.col("kk"), F.lit(".test")).alias("host"),
            F.concat(
                F.lit(
                    "# politeness rules\n"
                    "User-agent: badbot\nDisallow: /\n\n"
                    "User-agent: *\nDisallow: /private\nAllow: /private/open"
                ),
                F.col("kk"),
                F.lit("\nDisallow: /tmp"),
                F.col("kk"),
                F.lit("\nDisallow:\n"),
            ).alias("robots_txt"),
        )
    )
    rules = robots_mod.robots_rules(hosts)
    return robots_mod.robots_filter(urls, rules)

@register(
    "text_sentence_split",
    """
    WITH r AS (
      SELECT doc_id, text || '. Tail one! Tail two?' AS raw
      FROM documents WHERE doc_id < 400
    ), t AS (
      SELECT doc_id,
             list_filter(list_transform(
               regexp_extract_all(raw, '[^.!?]+[.!?]+|[^.!?]+$'),
               x -> trim(x)), x -> x <> '') AS s
      FROM r
    )
    SELECT doc_id, CAST(i.i - 1 AS INT) AS sent_idx, s[i.i] AS sentence,
           CAST(len(s) AS INT) AS n_sents
    FROM t, LATERAL (SELECT UNNEST(range(1, len(s) + 1)) AS i) i
    """,
    tags=("llm-text", "J1"),
    doc="Rule-based sentence segmentation (llm.text.sentences_expr): "
    "the unit for sentence-level dedup and sentence-aware chunking. "
    "Terminator-run pattern with NO lookarounds (RE2 has none) so the "
    "oracle replays it verbatim; trimmed, empties dropped, posexploded "
    "with a per-doc count. The sentence array is localCheckpointed "
    "before its two consumers (explode + count) - both the "
    "multi-consumer lineage rule and the CollapseProject-into-Generate "
    "trap (the regexp would otherwise re-run per EXPLODED row).",
)
def text_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    # the synthetic corpus carries no terminators, so the fixture
    # appends real sentence boundaries - otherwise the single-run
    # degenerate case would mask trim/split bugs (it DID mask the
    # F.trim arity no-op until the pytest caught it)
    raw = F.concat(F.col("text"), F.lit(". Tail one! Tail two?"))
    sents = d.select(
        "doc_id", text_ops.sentences_expr(raw).alias("__s")
    ).localCheckpoint(eager=False)
    exploded = sents.select(
        "doc_id", F.posexplode("__s").alias("sent_idx", "sentence")
    )
    counts = sents.select("doc_id", F.size("__s").alias("n_sents"))
    return exploded.join(counts, "doc_id").select(
        "doc_id",
        F.col("sent_idx").cast("int"),
        "sentence",
        F.col("n_sents").cast("int"),
    )

@register(
    "multimodal_decode_ppm",
    """
    WITH p AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h,
             CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS ch
      FROM documents WHERE doc_id < 300
    ), s AS (
      SELECT p.doc_id, p.w, p.h, p.ch,
             SUM((5 * p.doc_id + 2 * x.i + 11 * y.i + 3 * c.i) % 256) AS psum
      FROM p,
           LATERAL (SELECT UNNEST(range(0, p.w)) AS i) x,
           LATERAL (SELECT UNNEST(range(0, p.h)) AS i) y,
           LATERAL (SELECT UNNEST(range(0, p.ch)) AS i) c
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(ch AS INT) AS n_channels, CAST(psum AS BIGINT) AS pixel_sum
    FROM s
    """,
    tags=("llm-multimodal",),
    doc="REAL binary Netpbm decode (llm.multimodal): "
    "synthesize_ppm_payloads encodes an actual P6 RGB (even ids) or P5 "
    "grayscale (odd ids) file per doc; decode_images' netpbm leg scans "
    "the whitespace-and-comment-tolerant header, validates declared "
    "dims against the actual payload before slicing, and sums every "
    "sample byte. The oracle recomputes all stats arithmetically from "
    "the closed-form pixel function.",
)
def multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = multimodal.synthesize_ppm_payloads(d, id_col="doc_id")
    return multimodal.decode_images(media)

@register(
    "web_sitemap_extract",
    """
    WITH x AS (
      SELECT doc_id,
        '<?xml version="1.0"?><urlset>' ||
        '<url><loc>http://site' || CAST(doc_id % 7 AS VARCHAR) || '.test/p' || CAST(doc_id AS VARCHAR) || '</loc>' ||
        '<lastmod>2024-01-01</lastmod></url>' ||
        '<url><loc>  HTTP://Site' || CAST(doc_id % 7 AS VARCHAR) || '.test:80/q' || CAST(doc_id AS VARCHAR) || '#f  </loc></url>' ||
        '<url><loc></loc></url>' ||
        '<url><loc>http://other.test/r' || CAST(doc_id AS VARCHAR) || '</loc></url>' ||
        '</urlset>' AS xml
      FROM documents WHERE doc_id < 400
    ), e AS (
      SELECT doc_id,
             list_filter(list_transform(
               regexp_extract_all(xml, '<loc>\\s*([^<]*?)\\s*</loc>', 1),
               s -> trim(s)), s -> s <> '') AS locs
      FROM x
    ), u AS (
      SELECT doc_id, CAST(i.i - 1 AS INT) AS url_idx, locs[i.i] AS url
      FROM e, LATERAL (SELECT UNNEST(range(1, len(locs) + 1)) AS i) i
    ), g AS (
      SELECT doc_id, url_idx, url, trim(url) AS t,
        lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$', 1)) AS scheme,
        lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$', 2)) AS host0,
        regexp_replace(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$', 3), '#.*$', '') AS rest0
      FROM u
    )
    SELECT doc_id, url_idx,
           CASE WHEN scheme = '' THEN t ELSE scheme || '://' ||
             (CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
                   WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
                   ELSE host0 END) ||
             (CASE WHEN regexp_replace(rest0, '#.*$', '') = '/' THEN '' ELSE rest0 END)
           END AS norm_url
    FROM g
    """,
    tags=("llm-text", "J1", "sources-formats"),
    doc="Sitemap URL extraction -> normalized frontier "
    "(sources/sitemap.sitemap_locs + llm.text.normalize_url): the "
    "crawl-seeding step ahead of the robots filter. One shared "
    "Java/RE2 lazy pattern pulls every <loc>; empties dropped, "
    "posexploded in document order, then canonicalized so the frontier "
    "key is ready for exact dedup. Fixture sitemaps carry whitespace "
    "padding, an EMPTY loc, a mixed-case default-port URL and a "
    "fragment - the oracle replays extraction AND normalization.",
)
def web_sitemap_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.sitemap import sitemap_locs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    k = (F.col("doc_id") % 7).cast("string")
    sid = F.col("doc_id").cast("string")
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc>http://site'),
        k, F.lit(".test/p"), sid,
        F.lit("</loc><lastmod>2024-01-01</lastmod></url><url><loc>  HTTP://Site"),
        k, F.lit(".test:80/q"), sid,
        F.lit("#f  </loc></url><url><loc></loc></url><url><loc>http://other.test/r"),
        sid, F.lit("</loc></url></urlset>"),
    )
    staged = d.select("doc_id", sitemap_locs(xml).alias("__locs")).localCheckpoint(
        eager=False
    )
    return staged.select(
        "doc_id", F.posexplode("__locs").alias("url_idx", "url")
    ).select(
        "doc_id",
        F.col("url_idx").cast("int"),
        text_ops.normalize_url(F.col("url")).alias("norm_url"),
    )

@register(
    "text_sentence_dedup",
    """
    WITH d AS (
      SELECT doc_id,
             text || '. Shared boilerplate sentence! Unique tail '
                  || CAST(doc_id AS VARCHAR) || '?' AS raw
      FROM documents WHERE doc_id < 450
    ), e AS (
      SELECT doc_id,
             list_filter(list_transform(
               regexp_extract_all(raw, '[^.!?]+[.!?]+|[^.!?]+$'),
               x -> trim(x)), x -> x <> '') AS s
      FROM d
    ), l AS (
      SELECT doc_id, i.i - 1 AS pos, s[i.i] AS sent
      FROM e, LATERAL (SELECT UNNEST(range(1, len(s) + 1)) AS i) i
    ), k AS (
      SELECT doc_id, pos, sent,
             CASE WHEN LENGTH(sent) < 10 THEN TRUE
                  ELSE ROW_NUMBER() OVER (PARTITION BY sent ORDER BY doc_id, pos) = 1
             END AS keep
      FROM l
    )
    SELECT doc_id,
           COALESCE(STRING_AGG(CASE WHEN keep THEN sent END, ' ' ORDER BY pos), '') AS text,
           CAST(COUNT(*) AS BIGINT) AS n_sentences,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
    FROM k GROUP BY doc_id
    """,
    tags=("llm-dedup", "llm-text"),
    doc="CORPUS-WIDE sentence-level dedup (llm.dedup."
    "sentence_level_dedup, r4c - completes the granularity family: "
    "document / line / SENTENCE / span): the boilerplate-sentence "
    "cleanup line dedup misses when boilerplate shares a line with "
    "content. The fixture appends one corpus-wide shared sentence "
    "(only the first (doc_id, pos) keeps it) and one unique tail per "
    "doc; winner selection is the same map-side-combinable min-struct "
    "over an 8-byte sentence hash as the line tier (shared "
    "_unit_level_dedup core), documents rebuild from surviving "
    "sentences in position order.",
)
def text_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 450).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(". Shared boilerplate sentence! Unique tail "),
            F.col("doc_id").cast("string"),
            F.lit("?"),
        ).alias("text"),
    )
    out = dedup.sentence_level_dedup(d)
    return out.select(
        F.col("id").alias("doc_id"), "text", "n_sentences", "n_kept", "n_dropped"
    )

@register(
    "multimodal_webdataset_manifest",
    """
    WITH d AS (
      SELECT doc_id, lpad(CAST(doc_id AS VARCHAR), 6, '0') AS key, text
      FROM documents WHERE doc_id < 300
    )
    SELECT doc_id, CAST(0 AS INT) AS rec_idx, key || '.txt' AS name,
           CAST(strlen(text) AS BIGINT) AS size, md5(text) AS member_md5,
           key AS sample_key, 'txt' AS ext
    FROM d
    UNION ALL
    SELECT doc_id, CAST(1 AS INT), key || '.cls',
           CAST(1 AS BIGINT), md5(CAST(doc_id % 10 AS VARCHAR)), key, 'cls'
    FROM d
    UNION ALL
    SELECT doc_id, CAST(2 AS INT), key || '.seg.png',
           CAST(strlen('px' || CAST(doc_id AS VARCHAR)) AS BIGINT),
           md5('px' || CAST(doc_id AS VARCHAR)), key, 'seg.png'
    FROM d
    """,
    tags=("llm-multimodal", "S1", "sources-formats"),
    doc="WebDataset tar-shard manifest (sources/webdataset.py): the "
    "de-facto multimodal training-shard format - samples are groups of "
    "adjacent tar members sharing a basename. The fixture encodes a "
    "REAL ustar archive per doc (text + label + compound-extension "
    "'segmentation' member, correct space-substituted checksums, "
    "end-of-archive marker); read_tar_members walks the 512-byte "
    "headers for real (checksum verified, declared sizes validated "
    "before slicing, truncated shards quarantine) and the WebDataset "
    "grouping rule derives (sample_key, ext) JVM-side - first-dot "
    "split so 'seg.png' stays whole. Oracle recomputes every field "
    "arithmetically.",
)
def multimodal_webdataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import webdataset

    def encode(rid: int, text) -> bytes:
        key = f"{rid:06d}"
        return webdataset.encode_tar(
            [
                (f"{key}.txt", ("" if text is None else str(text)).encode()),
                (f"{key}.cls", str(rid % 10).encode()),
                (f"{key}.seg.png", f"px{rid}".encode()),
            ]
        )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    shards = kernels.payload_map(d, "doc_id", encode, inputs=("text",))
    return webdataset.read_tar_members(shards)

@register(
    "multimodal_tfrecord_manifest",
    """
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 300
    )
    SELECT doc_id, CAST(0 AS INT) AS rec_idx,
           CAST(strlen(text) AS BIGINT) AS length, md5(text) AS payload_md5
    FROM d
    UNION ALL
    SELECT doc_id, CAST(1 AS INT),
           CAST(strlen('label=' || CAST(doc_id % 10 AS VARCHAR)) AS BIGINT),
           md5('label=' || CAST(doc_id % 10 AS VARCHAR))
    FROM d
    UNION ALL
    SELECT doc_id, CAST(2 AS INT), CAST(0 AS BIGINT), md5('')
    FROM d
    """,
    tags=("llm-multimodal", "S1", "sources-formats"),
    doc="TFRecord shard manifest (sources/tfrecord.py): the "
    "TensorFlow-lineage training-shard format - length-framed records "
    "each guarded by TWO masked CRC32C checksums. The CRC32C "
    "implementation is pinned to the PUBLISHED check vector "
    "(crc32c('123456789') = 0xE3069283), not a self-round-trip; the "
    "walker verifies both checksums per record, validates declared "
    "lengths before slicing, and raises on truncated tails (corrupt "
    "shards quarantine). Fixture shards carry the doc text, a label "
    "record and an EMPTY record per doc; the oracle recomputes "
    "lengths/md5s arithmetically.",
)
def multimodal_tfrecord_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import tfrecord

    def encode(rid: int, text) -> bytes:
        return tfrecord.encode_tfrecord(
            [("" if text is None else str(text)).encode(), f"label={rid % 10}".encode(), b""]
        )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    shards = kernels.payload_map(d, "doc_id", encode, inputs=("text",))
    return tfrecord.read_tfrecord_records(shards)



def _clip_fixed_sql() -> str:
    """Oracle for multimodal_clip_encode: replay the fixed-weight
    serving arithmetic in SQL. Integer features × integer weights sum
    EXACTLY in any order (magnitudes ≪ 2^53), so the numpy matmul and
    the SQL sum agree bit-for-bit; sqrt and / are correctly-rounded
    IEEE ops (CLAUDE.md), and the cross-modal cosine restates
    dot_expr's 0.0-seeded sequential fold as a left-associative chain."""
    xs = [f"((doc_id*{k + 3} + {k * k}) % 7 - 3)" for k in range(6)]
    ts = [f"((doc_id*{2 * k + 1} + {3 * k}) % 5 - 2)" for k in range(5)]
    wi = [[((3 * k + 5 * j + 1) % 7) - 3 for j in range(4)] for k in range(6)]
    wt = [[((2 * k + 3 * j + 2) % 7) - 3 for j in range(4)] for k in range(5)]
    ys = [
        " + ".join(f"{xs[k]}*({wi[k][j]})" for k in range(6)) for j in range(4)
    ]
    us = [
        " + ".join(f"{ts[k]}*({wt[k][j]})" for k in range(5)) for j in range(4)
    ]
    y_cols = ", ".join(f"{ys[j]} AS y{j}" for j in range(4))
    u_cols = ", ".join(f"{us[j]} AS u{j}" for j in range(4))
    z_cols = ", ".join(
        f"CAST(y{j} AS DOUBLE)/(CASE WHEN ni=0 THEN 1 ELSE ni END) AS i{j}"
        for j in range(4)
    )
    t_cols = ", ".join(
        f"CAST(u{j} AS DOUBLE)/(CASE WHEN nt=0 THEN 1 ELSE nt END) AS t{j}"
        for j in range(4)
    )
    return f"""
    WITH y AS (
      SELECT doc_id, {y_cols}, {u_cols}
      FROM documents WHERE doc_id < 300
    ), n AS (
      SELECT *,
             SQRT(CAST(y0*y0 + y1*y1 + y2*y2 + y3*y3 AS DOUBLE)) AS ni,
             SQRT(CAST(u0*u0 + u1*u1 + u2*u2 + u3*u3 AS DOUBLE)) AS nt
      FROM y
    ), z AS (
      SELECT doc_id, {z_cols}, {t_cols} FROM n
    )
    SELECT doc_id, i0, i1, i2, i3, t0, t1, t2, t3,
           0.0 + i0*t0 + i1*t1 + i2*t2 + i3*t3 AS cross_cos
    FROM z
    """


@register(
    "multimodal_clip_encode",
    _clip_fixed_sql(),
    tags=("llm-multimodal", "llm-similarity"),
    doc="Learned dual-encoder SERVING path (llm.encoder.encode_features "
    "— the real Arrow-batched broadcast-weights matmul kernel) under a "
    "FIXED integer weight pair, the text_quality_classifier two-tier "
    "pattern: the trained path (numpy full-batch Adam on InfoNCE, "
    "tests/test_encoder.py) is iterative and not SQL-expressible, so "
    "the battery grades the exact serving arithmetic instead. Integer "
    "features (closed form of doc_id) x integer weights -> projections "
    "are EXACT in any summation order; row L2-normalization (sqrt + "
    "divide, correctly-rounded IEEE) and the cross-modal cosine "
    "(dot_expr sequential fold == left-assoc SQL chain, round-4b rule) "
    "are engine-identical, so every output double hash-matches with no "
    "rounding at all. Zero-norm guard (nrm==0 -> 1) mirrored via CASE.",
)
def multimodal_clip_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from .llm import encoder

    w_img = np.array(
        [[((3 * k + 5 * j + 1) % 7) - 3 for j in range(4)] for k in range(6)],
        dtype=np.float64,
    )
    w_txt = np.array(
        [[((2 * k + 3 * j + 2) % 7) - 3 for j in range(4)] for k in range(5)],
        dtype=np.float64,
    )
    model = encoder.DualEncoder(
        w_img=w_img, w_txt=w_txt, grid=0, buckets=5, dim=4, temperature=20.0
    )
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    img_feats = d.select(
        "doc_id",
        F.array(
            *[
                ((F.col("doc_id") * (k + 3) + k * k) % 7 - 3).cast("double")
                for k in range(6)
            ]
        ).alias("features"),
    )
    txt_feats = d.select(
        "doc_id",
        F.array(
            *[
                ((F.col("doc_id") * (2 * k + 1) + 3 * k) % 5 - 2).cast("double")
                for k in range(5)
            ]
        ).alias("features"),
    )
    img_e = encoder.encode_features(img_feats, model, modality="image")
    txt_e = encoder.encode_features(
        txt_feats, model, modality="text"
    ).withColumnRenamed("embedding", "u")
    j = img_e.join(txt_e, "doc_id")
    return j.select(
        "doc_id",
        *[F.element_at("embedding", k + 1).alias(f"i{k}") for k in range(4)],
        *[F.element_at("u", k + 1).alias(f"t{k}") for k in range(4)],
        dedup.dot_expr(F.col("embedding"), F.col("u")).alias("cross_cos"),
    )


@register(
    "text_lm_surprisal",
    r"""
    WITH toks AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, UNNEST(string_split_regex(text, '\s+')) AS w
        FROM documents
      ) WHERE w <> ''
    ), tot AS (
      SELECT CAST(LENGTH(bin(COUNT(*))) AS BIGINT) AS bl_total FROM toks
    ), vocab AS (
      SELECT w, CAST(LENGTH(bin(COUNT(*))) AS BIGINT) AS bl_w
      FROM toks GROUP BY w ORDER BY COUNT(*) DESC, w ASC LIMIT 1024
    ), scored AS (
      SELECT t.doc_id,
             CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov,
             CASE WHEN v.w IS NULL THEN tot.bl_total + 1
                  ELSE tot.bl_total - v.bl_w END AS bits
      FROM toks t LEFT JOIN vocab v ON v.w = t.w CROSS JOIN tot
    ), agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(oov) AS BIGINT) AS n_oov,
             CAST(SUM(bits) AS BIGINT) AS surprisal_bits
      FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_words, 0) AS n_words,
           COALESCE(a.n_oov, 0) AS n_oov,
           COALESCE(a.surprisal_bits, 0) AS surprisal_bits
    FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """,
    tags=("llm-text",),
    doc="CCNet-style LM quality prior, integer-exact tier "
    "(llm.text.word_surprisal_scores): per-doc word surprisal in whole "
    "bits against the corpus's own top-1024 unigram table — "
    "bitlen(total) - bitlen(count) per word (floor-log2 self-"
    "information via BINARY STRING LENGTH: Spark conv(n,10,2) / DuckDB "
    "bin(n) — never libm log2, so every value is engine-exact), OOV "
    "pays bitlen(total)+1. The trained-float sibling (unigram-LM "
    "Viterbi pieces_logp, libm log) stays pytest-pinned — the "
    "two-tier pattern of classifier/BM25. One token shuffle builds "
    "the bounded frequency table (deterministic count-desc/word-asc "
    "cut), which joins back BROADCAST; corpus scalars ride the "
    "broadcast single-row cross join.",
)
def text_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return text_ops.word_surprisal_scores(d, vocab_size=1024)


@register(
    "text_bigram_surprisal",
    r"""
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
      FROM documents
    ), toku AS (
      SELECT doc_id, UNNEST(w) AS tok FROM t
    ), tot AS (
      SELECT CAST(LENGTH(bin(COUNT(*))) AS BIGINT) AS bl_total FROM toku
    ), uni AS (
      SELECT tok, CAST(LENGTH(bin(COUNT(*))) AS BIGINT) AS bl_w
      FROM toku GROUP BY tok ORDER BY COUNT(*) DESC, tok ASC LIMIT 1024
    ), bg AS (
      SELECT t.doc_id, w[i.i] AS w1, w[i.i + 1] AS w2,
             w[i.i] || ' ' || w[i.i + 1] AS b
      FROM t, LATERAL (SELECT UNNEST(range(1, len(w))) AS i) i
    ), bgt AS (
      SELECT b, CAST(LENGTH(bin(COUNT(*))) AS BIGINT) AS bl_big
      FROM bg GROUP BY b ORDER BY COUNT(*) DESC, b ASC LIMIT 2048
    ), ctx AS (
      SELECT w1, CAST(LENGTH(bin(COUNT(*))) AS BIGINT) AS bl_ctx
      FROM bg GROUP BY w1 ORDER BY COUNT(*) DESC, w1 ASC LIMIT 1024
    ), sc AS (
      SELECT bg.doc_id,
             CASE WHEN bgt.b IS NOT NULL AND ctx.w1 IS NOT NULL
                  THEN 0 ELSE 1 END AS backoff,
             CASE WHEN bgt.b IS NOT NULL AND ctx.w1 IS NOT NULL
                  THEN ctx.bl_ctx - bgt.bl_big
                  ELSE 1 + COALESCE(tot.bl_total - uni.bl_w, tot.bl_total + 1)
             END AS bits
      FROM bg
      LEFT JOIN bgt ON bgt.b = bg.b
      LEFT JOIN ctx ON ctx.w1 = bg.w1
      LEFT JOIN uni ON uni.tok = bg.w2
      CROSS JOIN tot
    ), agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(backoff) AS BIGINT) AS n_backoff,
             CAST(SUM(bits) AS BIGINT) AS bigram_bits
      FROM sc GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_bigrams, 0) AS n_bigrams,
           COALESCE(a.n_backoff, 0) AS n_backoff,
           COALESCE(a.bigram_bits, 0) AS bigram_bits
    FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """,
    tags=("llm-text",),
    doc="STUPID-BACKOFF bigram LM quality prior (r5, "
    "llm.text.bigram_surprisal_scores) — the transition-fluency signal "
    "one model order above text_lm_surprisal (Brants et al. 2007's "
    "web-scale unnormalized LM): in-table bigrams pay "
    "bitlen(ctx_count) − bitlen(bigram_count) conditional bits, "
    "everything else backs off to the unigram tier at exactly one bit "
    "(α = 1/2 as a power of two — no float anywhere; all bit-lengths "
    "via binary-string length, never libm). Three deterministic "
    "bounded model tables (top-2048 bigrams, top-1024 contexts, "
    "top-1024 unigrams; count-desc/key-asc cuts) broadcast back onto "
    "the bigram stream; bigrams come from zip_with over staged token-"
    "array slices, never a positional self-join. Catches shuffled/"
    "templated text whose every WORD is common but every TRANSITION "
    "rare — the fluency gap unigram surprisal cannot see.",
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return text_ops.bigram_surprisal_scores(d)


@register(
    "text_trigram_surprisal",
    r"""
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
      FROM documents
    ), toku AS (
      SELECT doc_id, UNNEST(w) AS tok FROM t
    ), tot AS (
      SELECT CAST(LENGTH(bin(COUNT(*))) AS BIGINT) AS bl_total FROM toku
    ), uni AS (
      SELECT tok, CAST(LENGTH(bin(COUNT(*))) AS BIGINT) AS bl_w
      FROM toku GROUP BY tok ORDER BY COUNT(*) DESC, tok ASC LIMIT 1024
    ), bgall AS (
      SELECT t.doc_id, w[i.i] AS w1, w[i.i] || ' ' || w[i.i + 1] AS b
      FROM t, LATERAL (SELECT UNNEST(range(1, len(w))) AS i) i
    ), bgc AS (
      SELECT b, COUNT(*) AS n FROM bgall GROUP BY b
    ), bgt AS (
      SELECT b, CAST(LENGTH(bin(n)) AS BIGINT) AS bl_big
      FROM bgc ORDER BY n DESC, b ASC LIMIT 2048
    ), ctx2 AS (
      SELECT b, CAST(LENGTH(bin(n)) AS BIGINT) AS bl_ctx2
      FROM bgc ORDER BY n DESC, b ASC LIMIT 1024
    ), ctx AS (
      SELECT w1, CAST(LENGTH(bin(COUNT(*))) AS BIGINT) AS bl_ctx
      FROM bgall GROUP BY w1 ORDER BY COUNT(*) DESC, w1 ASC LIMIT 1024
    ), tg AS (
      SELECT t.doc_id,
             w[i.i] || ' ' || w[i.i + 1] AS w1w2,
             w[i.i + 1] || ' ' || w[i.i + 2] AS w2w3,
             w[i.i + 1] AS w2, w[i.i + 2] AS w3,
             w[i.i] || ' ' || w[i.i + 1] || ' ' || w[i.i + 2] AS tri
      FROM t, LATERAL (SELECT UNNEST(range(1, len(w) - 1)) AS i) i
    ), tgt AS (
      SELECT tri, CAST(LENGTH(bin(COUNT(*))) AS BIGINT) AS bl_tri
      FROM tg GROUP BY tri ORDER BY COUNT(*) DESC, tri ASC LIMIT 2048
    ), sc AS (
      SELECT tg.doc_id,
             CASE WHEN tgt.tri IS NOT NULL AND c2.b IS NOT NULL THEN 0
                  WHEN bgt.b IS NOT NULL AND cx.w1 IS NOT NULL THEN 1
                  ELSE 2 END AS tier,
             CASE WHEN tgt.tri IS NOT NULL AND c2.b IS NOT NULL
                  THEN c2.bl_ctx2 - tgt.bl_tri
                  WHEN bgt.b IS NOT NULL AND cx.w1 IS NOT NULL
                  THEN 1 + cx.bl_ctx - bgt.bl_big
                  ELSE 2 + COALESCE(tot.bl_total - uni.bl_w, tot.bl_total + 1)
             END AS bits
      FROM tg
      LEFT JOIN tgt ON tgt.tri = tg.tri
      LEFT JOIN ctx2 c2 ON c2.b = tg.w1w2
      LEFT JOIN bgt ON bgt.b = tg.w2w3
      LEFT JOIN ctx cx ON cx.w1 = tg.w2
      LEFT JOIN uni ON uni.tok = tg.w3
      CROSS JOIN tot
    ), agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
             CAST(SUM(CASE WHEN tier = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff_bigram,
             CAST(SUM(CASE WHEN tier = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff_unigram,
             CAST(SUM(bits) AS BIGINT) AS trigram_bits
      FROM sc GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_trigrams, 0) AS n_trigrams,
           COALESCE(a.n_backoff_bigram, 0) AS n_backoff_bigram,
           COALESCE(a.n_backoff_unigram, 0) AS n_backoff_unigram,
           COALESCE(a.trigram_bits, 0) AS trigram_bits
    FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """,
    tags=("llm-text",),
    doc="STUPID-BACKOFF trigram LM quality prior (r6, "
    "llm.text.trigram_surprisal_scores) — three-tier backoff chain "
    "trigram → bigram (+1 bit) → unigram (+2 bits), each level paying "
    "alpha = 1/2 as exactly one bit; all bit-lengths via binary-string "
    "length, never libm, so every value hash-compares. Five "
    "deterministic bounded model tables (top-2048 trigrams/bigrams, "
    "top-1024 contexts/unigrams) broadcast back onto the trigram "
    "stream; trigrams from a zip_with compose over three staged "
    "token-array slices, never a positional self-join. The CCNet-grade "
    "fluency signal the bigram tier cannot give: scrambled text with "
    "IDENTICAL bigram statistics scores strictly more bits (pinned in "
    "tests with a bigram-multiset-preserving shuffle).",
)
def text_trigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return text_ops.trigram_surprisal_scores(d)


_IMAGE_NEARDUP_ORACLE = """
    WITH p AS (
      SELECT doc_id, doc_id // 2 AS k, doc_id % 2 AS odd
      FROM documents WHERE doc_id < 200
    ), cells AS (
      SELECT p.doc_id, g.rr, g.cc,
             CASE WHEN p.odd = 1 AND g.cc = p.k % 9 AND g.rr = p.k % 8
                  THEN ((p.k*53 + g.cc*g.cc*17 + g.rr*g.rr*29 + g.cc*g.rr*7 + g.cc*p.k + g.rr*(p.k//251)*31) % 251 + 97) % 251
                  ELSE (p.k*53 + g.cc*g.cc*17 + g.rr*g.rr*29 + g.cc*g.rr*7 + g.cc*p.k + g.rr*(p.k//251)*31) % 251 END AS v
      FROM p, LATERAL (
        SELECT x.cc, y.rr
        FROM (SELECT UNNEST(range(0, 9)) AS cc) x,
             (SELECT UNNEST(range(0, 8)) AS rr) y
      ) g
    ), bits AS (
      SELECT a.doc_id, a.rr, a.cc,
             CASE WHEN a.v < b.v THEN 1 ELSE 0 END AS bit
      FROM cells a
      JOIN cells b ON b.doc_id = a.doc_id AND b.rr = a.rr AND b.cc = a.cc + 1
      WHERE a.cc < 8
    )
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           CAST(SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
    FROM bits x
    JOIN bits y ON y.rr = x.rr AND y.cc = x.cc AND x.doc_id < y.doc_id
    GROUP BY 1, 2
    HAVING SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) <= 3
"""


@register(
    "image_neardup_hamming",
    _IMAGE_NEARDUP_ORACLE,
    tags=("llm-dedup", "llm-multimodal"),
    doc="PERCEPTUAL image near-dup: REAL PNG decode (zlib + five-filter "
    "reconstruction) → all-integer 64-bit dHash (BT.601 integer luma, "
    "floor-boundary 9x8 area downscale, gradient bits — "
    "multimodal.image_dhash) → Hamming-banded self-join "
    "(dedup.hamming_neardup_pairs): 64 bits split into max_dist+1=4 "
    "bands, candidates from a (band_idx, band_val) equi-join — shuffle "
    "∝ 4n, never n² — then EXACT bit_count(xor) verification, complete "
    "by pigeonhole. Fixtures plant near-dup pairs (one perturbed cell "
    "per odd doc ≤ 2 flipped bits), so output is guaranteed non-empty; "
    "the oracle recomputes every hash bit closed-form and brute-forces "
    "all pairs (the 200-doc scale where brute force IS the oracle of "
    "record). The image analog of SimHash completing the dedup "
    "modality matrix: text exact/near/semantic + IMAGE perceptual.",
)
def image_neardup_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = multimodal.synthesize_neardup_png_payloads(d, id_col="doc_id")
    hashed = multimodal.image_dhash(media, id_col="doc_id")
    pairs = dedup.hamming_neardup_pairs(hashed, id_col="doc_id", max_dist=3)
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming"
    )


@register(
    "multimodal_audio_vad",
    """
    WITH p AS (
      SELECT doc_id, 8 + doc_id % 9 AS nblk
      FROM documents WHERE doc_id < 200
    ), fr AS (
      SELECT p.doc_id, f.f AS frame_idx,
             SUM(CASE WHEN (f.f*f.f + f.f + p.doc_id) % 5 < 2 THEN 0
                      ELSE v.v * v.v END) AS energy
      FROM p,
           LATERAL (SELECT UNNEST(range(0, p.nblk)) AS f) f,
           LATERAL (
             SELECT ((p.doc_id*7919 + (f.f*160 + s.s)*104729) % 65536) - 32768 AS v
             FROM (SELECT UNNEST(range(0, 160)) AS s) s
           ) v
      GROUP BY 1, 2
    ), act AS (
      SELECT doc_id, frame_idx, energy,
             frame_idx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY frame_idx) AS island
      FROM fr WHERE energy > 0
    ), seg AS (
      SELECT doc_id, MIN(frame_idx) AS start_frame, MAX(frame_idx) AS end_frame,
             COUNT(*) AS n_frames, SUM(energy) AS seg_energy
      FROM act GROUP BY doc_id, island
    )
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_frame) AS BIGINT) AS seg_idx,
           CAST(start_frame AS BIGINT) AS start_frame,
           CAST(end_frame AS BIGINT) AS end_frame,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(seg_energy AS BIGINT) AS seg_energy
    FROM seg
    """,
    tags=("llm-multimodal",),
    doc="Energy-based voice-activity detection over REAL decoded PCM "
    "(multimodal.audio_vad_frames + vad_segments): WAV payloads decode "
    "for real, 160-sample frame energies are EXACT int64 Σs² inside the "
    "Arrow kernel (samples never cross a shuffle), active frames "
    "segment via gaps-and-islands (frame_idx − row_number, one window "
    "+ one agg exchange, both partitioned by doc). Fixtures carry an "
    "irregular quadratic-residue silence schedule so variable-length "
    "islands exist by construction; the oracle recomputes every frame "
    "energy from the closed-form sample formula and replays the same "
    "integer segmentation. The audio-curation primitive (silence "
    "trimming / speech segmentation) of the training pipeline.",
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = multimodal.synthesize_vad_wav_payloads(d, id_col="doc_id")
    frames = multimodal.audio_vad_frames(
        media, id_col="doc_id", frame_size=160, energy_threshold=0
    )
    return multimodal.vad_segments(frames, id_col="doc_id")


@register(
    "text_heavy_hitters",
    f"""
    WITH t AS (
      SELECT UNNEST({_DUCK_TOKENS.format(col="lower(text)")}) AS token
      FROM documents
    ), tot AS (SELECT COUNT(*) AS n FROM t)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM t CROSS JOIN tot
    GROUP BY token, tot.n
    HAVING COUNT(*) * 64 > tot.n
    """,
    tags=("llm-text", "sketch", "scale-path"),
    doc="EXACT heavy hitters (operators/scale.heavy_hitters): every "
    "token in > n/64 of the corpus's n token occurrences, with exact "
    "counts — the boilerplate-token detection primitive. Two lossless "
    "passes: per-partition Misra-Gries summaries (Arrow kernel, "
    "mergeable-summaries reduction; any global heavy hitter must "
    "locally exceed n_p/k in some partition, so the candidate union is "
    "a provable superset) then a broadcast-semi-join exact recount with "
    "the integer filter cnt*k > n — never a full-vocabulary shuffle, "
    "so the plain GROUP BY ... HAVING oracle is EQUAL by theorem, not "
    "by recall. The sketch tier's exact sibling (HLL/KLL are "
    "error-bounded, this one is lossless by construction).",
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import scale as scale_ops

    d = _t(spark, sf_dir, "documents")
    items = d.select(
        F.explode(text_ops.tokens_expr(F.lower(F.col("text")))).alias("token")
    )
    return scale_ops.heavy_hitters(items, "token", k=64).select(
        F.col("item").alias("token"), "cnt"
    )


@register(
    "dedup_containment_pairs",
    f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKENS.format(col='text')} AS w FROM documents
    ), sh AS (
      SELECT doc_id, {_DUCK_SHINGLES.format(w='w')} AS s FROM t
    ), nz AS (
      SELECT doc_id, s, len(s) AS sz FROM sh WHERE len(s) > 0
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
           CAST(a.sz AS BIGINT) AS size_a,
           len(list_intersect(a.s, b.s))::DOUBLE / a.sz AS containment
    FROM nz a JOIN nz b ON a.doc_id <> b.doc_id
    WHERE len(list_intersect(a.s, b.s)) * 5 >= 4 * a.sz
    """,
    tags=("llm-dedup",),
    doc="ASYMMETRIC containment join (llm.dedup.containment_pairs): all "
    "ordered pairs where >= 4/5 of doc a's 3-gram shingles appear in "
    "doc b — the doc-inside-doc case (quoted tweet in an article, "
    "README pasted into a dump) that symmetric Jaccard misses when "
    "|b| >> |a|. Engine-exact: the threshold is the rational 4/5 and "
    "every decision is an integer compare (inter*5 >= 4*size_a); the "
    "reported ratio is one IEEE divide of exact integers. Spark runs "
    "the asymmetric SSJoin prefix filter (probe side indexes only each "
    "a's floor((1-t)|a|)+1 rarest shingles — a PURE-INTEGER prefix "
    "length, no float-boundary epsilon — build side indexes all; "
    "candidates verified on full sets, lossless by pigeonhole); the "
    "oracle brute-forces every ordered pair, which at battery scale is "
    "the oracle of record.",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dedup.containment_pairs(d, threshold_num=4, threshold_den=5)


@register(
    "multimodal_decode_adpcm",
    """
    WITH p AS (
      SELECT doc_id,
             CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                  WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS sr,
             4 + doc_id % 5 AS nblk
      FROM documents WHERE doc_id < 250
    ), s AS (
      SELECT p.doc_id, p.sr, p.nblk * 17 AS n,
             CAST(SUM(v.v) * 17 AS BIGINT) AS vsum,
             SUM(v.v * v.v) * 17 AS vsq
      FROM p, LATERAL (
        SELECT ((p.doc_id*37 + b.b*101) % 4001) - 2000 AS v
        FROM (SELECT UNNEST(range(0, p.nblk)) AS b) b
      ) v
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, CAST(sr AS INT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST((n*1000)//sr AS BIGINT) AS duration_ms,
           vsum AS sample_sum,
           SQRT(CAST(vsq AS DOUBLE) / n) AS rms
    FROM s
    """,
    tags=("llm-multimodal",),
    doc="REAL IMA ADPCM decode (multimodal._ima_wav_samples behind the "
    "shared _wav_samples dispatch on wFormatTag 0x0011): 4-bit "
    "compressed audio through the SAME decode_audio consumer as PCM. "
    "Fixtures are per-block-constant, which the codec preserves "
    "EXACTLY (block header carries the first sample verbatim; a zero "
    "difference emits nibble 0 whose delta is step>>3 = 0 at the "
    "pinned index), so the oracle recomputes sum/rms closed-form. The "
    "state machine under nonzero nibbles is pinned against stdlib "
    "audioop (an independent implementation) and a hand-built block "
    "golden pins the low-nibble-first wire convention — "
    "test_multimodal_codecs.",
)
def multimodal_decode_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    media = multimodal.synthesize_adpcm_wav_payloads(d, id_col="doc_id")
    return multimodal.decode_audio(media, id_col="doc_id")


@register(
    "multimodal_decode_g711",
    """
    WITH p AS (
      SELECT doc_id,
             CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                  WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS sr,
             80 + doc_id % 120 AS n,
             doc_id % 2 AS law
      FROM documents WHERE doc_id < 250
    ), s AS (
      SELECT p.doc_id, p.sr, p.n,
             CAST(SUM(v.v) AS BIGINT) AS vsum, SUM(v.v * v.v) AS vsq
      FROM p, LATERAL (
        SELECT CASE WHEN p.law = 0 THEN
                 CASE WHEN c.c >= 128
                      THEN -((((c.c % 16) * 8 + 132) << ((c.c // 16) % 8)) - 132)
                      ELSE  (((c.c % 16) * 8 + 132) << ((c.c // 16) % 8)) - 132 END
               ELSE
                 CASE WHEN d.d >= 128
                      THEN  (CASE WHEN (d.d // 16) % 8 = 0 THEN (d.d % 16) * 16 + 8
                                  ELSE ((d.d % 16) * 16 + 264) << ((d.d // 16) % 8 - 1) END)
                      ELSE -(CASE WHEN (d.d // 16) % 8 = 0 THEN (d.d % 16) * 16 + 8
                                  ELSE ((d.d % 16) * 16 + 264) << ((d.d // 16) % 8 - 1) END) END
               END AS v
        FROM (SELECT UNNEST(range(0, p.n)) AS i) i,
             LATERAL (SELECT (p.doc_id * 13 + i.i * 7) % 256 AS b) b,
             LATERAL (SELECT 255 - b.b AS c) c,
             LATERAL (SELECT xor(b.b, 85) AS d) d
      ) v
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, CAST(sr AS INT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST((n * 1000) // sr AS BIGINT) AS duration_ms,
           vsum AS sample_sum,
           SQRT(CAST(vsq AS DOUBLE) / n) AS rms
    FROM s
    """,
    tags=("llm-multimodal",),
    doc="REAL G.711 μ-law/A-law decode (multimodal._g711_wav_samples "
    "behind the shared _wav_samples dispatch on fmt tags 0x0007/0x0006): "
    "the telephony codecs are STATE-FREE — one sign/exponent/mantissa "
    "expansion per byte — so unlike ADPCM the oracle decodes EVERY "
    "SAMPLE arithmetically in SQL (integer shifts and CASEs) and the "
    "driver grades the codec itself, not just the container. Fixture "
    "bytes sweep all 256 code points of both laws; both expansions are "
    "additionally validated byte-for-byte against stdlib audioop in "
    "pytest. Stats flow through the SAME decode_audio consumer as "
    "PCM/ADPCM.",
)
def multimodal_decode_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    media = multimodal.synthesize_g711_wav_payloads(d, id_col="doc_id")
    return multimodal.decode_audio(media, id_col="doc_id")


@register(
    "multimodal_exif_metadata",
    """
    SELECT doc_id,
           CAST(8 * (1 + doc_id % 3) AS INT) AS width,
           CAST(8 * (1 + doc_id % 2) AS INT) AS height,
           CAST(1 + doc_id % 8 AS INT) AS orientation,
           'cam-' || CAST(doc_id % 7 AS VARCHAR) AS make,
           'mx' || CAST(doc_id % 5 AS VARCHAR) AS model,
           '2021:0' || CAST(1 + doc_id % 9 AS VARCHAR) || ':1' ||
             CAST(doc_id % 10 AS VARCHAR) || ' 0' ||
             CAST(doc_id % 10 AS VARCHAR) || ':30:0' ||
             CAST(doc_id % 7 AS VARCHAR) AS datetime_str,
           CAST(100 * (1 + doc_id % 16) AS INT) AS iso,
           CAST(1 + doc_id % 3 AS BIGINT) AS exposure_num,
           CAST(30 + doc_id % 60 AS BIGINT) AS exposure_den
    FROM documents WHERE doc_id < 250
    """,
    tags=("llm-multimodal",),
    doc="REAL EXIF metadata extraction "
    "(multimodal.extract_image_metadata): JPEG APP1 'Exif\\\\0\\\\0' "
    "segments parse as real TIFF structures — byte-order-aware IFD "
    "walk (fixtures alternate II/MM per doc), inline-vs-offset value "
    "resolution per the 4-byte rule, ASCII/SHORT/LONG/RATIONAL types, "
    "Exif sub-IFD chase for ISO/exposure — plus a light SOF scan for "
    "dims (pixels never decode: curation metadata is a header-only "
    "pass). Orientation is the field training pipelines MUST read "
    "before ingesting user photos. The writer (encode_exif_app1 + "
    "insert_jpeg_app1) builds the same structure byte-for-byte, and "
    "every field is a closed form of doc_id the oracle rebuilds in "
    "SQL. Offset/size bounds validated before slicing (decoder-fuzz "
    "rule); test_multimodal_codecs pins both byte orders and corrupt "
    "payloads.",
)
def multimodal_exif_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    media = multimodal.synthesize_exif_jpeg_payloads(d, id_col="doc_id")
    return multimodal.extract_image_metadata(media, id_col="doc_id")


@register(
    "multimodal_zipshard_manifest",
    """
    WITH d AS (
      SELECT doc_id, lpad(CAST(doc_id AS VARCHAR), 6, '0') AS key,
             COALESCE(text, '') AS text
      FROM documents WHERE doc_id < 300
    )
    SELECT doc_id, CAST(0 AS INT) AS rec_idx, key || '.txt' AS name,
           'deflate' AS method,
           CAST(104 + strlen(text) AS BIGINT) AS size,
           md5(repeat('shard:' || key || ':', 8) || text) AS member_md5
    FROM d
    UNION ALL
    SELECT doc_id, CAST(1 AS INT), key || '.cls', 'store',
           CAST(1 AS BIGINT), md5(CAST(doc_id % 10 AS VARCHAR))
    FROM d
    """,
    tags=("llm-multimodal", "S1", "sources-formats"),
    doc="ZIP-shard manifest (sources/zipshard.py) — the third dataset "
    "shard container beside WebDataset tar and TFRecord: REAL central-"
    "directory walk (EOCD backward scan, central entries as the "
    "authoritative index, local headers consulted only for data "
    "offsets per the spec), BOUNDED raw-deflate inflate with CRC-32 "
    "and length verification. member_md5 is over the INFLATED bytes, "
    "so a wrong inflate reds the hash; the .txt member's 104-byte "
    "repetitive prefix guarantees deflate shrinks it (method "
    "closed-form 'deflate') while the 1-byte .cls stays 'store'. Both "
    "encode and parse are cross-validated against stdlib zipfile in "
    "pytest (a true external golden); lying EOCD/size/offset/CRC "
    "payloads quarantine to rec_idx -1.",
)
def multimodal_zipshard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import zipshard

    def encode(rid: int, text) -> bytes:
        key = f"{rid:06d}"
        body = (f"shard:{key}:" * 8) + ("" if text is None else str(text))
        return zipshard.encode_zip(
            [(f"{key}.txt", body.encode()), (f"{key}.cls", str(rid % 10).encode())]
        )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    shards = kernels.payload_map(d, "doc_id", encode, inputs=("text",))
    return zipshard.read_zip_members(shards)


@register(
    "multimodal_id3_metadata",
    """
    WITH p AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                  ELSE 32000 END AS sr,
             4 + doc_id % 9 AS nf
      FROM documents WHERE doc_id < 250
    )
    SELECT doc_id,
           'track-' || CAST(doc_id % 97 AS VARCHAR) AS title,
           'artist-' || CAST(doc_id % 13 AS VARCHAR) AS artist,
           'album-' || CAST(doc_id % 7 AS VARCHAR) AS album,
           CAST(1 + doc_id % 20 AS VARCHAR) || '/20' AS track,
           CAST(10 + 4*10 + strlen('track-' || CAST(doc_id % 97 AS VARCHAR))
                + strlen('artist-' || CAST(doc_id % 13 AS VARCHAR))
                + strlen('album-' || CAST(doc_id % 7 AS VARCHAR))
                + strlen(CAST(1 + doc_id % 20 AS VARCHAR) || '/20')
                + 4 AS BIGINT) AS tag_bytes,
           CAST(nf AS INT) AS n_frames,
           CAST((nf * 1152 * 1000) // sr AS BIGINT) AS duration_ms
    FROM p
    """,
    tags=("llm-multimodal",),
    doc="REAL ID3v2.3 tag parse + MPEG frame timing "
    "(multimodal.extract_audio_metadata): the audio-curation metadata "
    "pass (the EXIF sibling) — syncsafe tag size, per-frame headers "
    "with encoding bytes, title/artist/album/track text frames; the "
    "existing MPEG-1 Layer III walker then steps the VBR frames after "
    "the tag for exact n_frames/duration. tag_bytes is the full wire "
    "size (10-byte header + 4 frames x (10-byte frame header + "
    "encoding byte + text)), which the oracle rebuilds from string "
    "lengths — a byte-level pin of the tag layout inside the graded "
    "battery itself. Sizes validated before slicing; v2.4 syncsafe "
    "frame sizes and utf-8/utf-16 encodings handled, pinned in pytest.",
)
def multimodal_id3_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    media = multimodal.synthesize_id3_mp3_payloads(d, id_col="doc_id")
    return multimodal.extract_audio_metadata(media, id_col="doc_id")


@register(
    "multimodal_webp_metadata",
    """
    SELECT doc_id,
           CAST(10 + doc_id % 500 AS INT) AS width,
           CAST(8 + doc_id % 300 AS INT) AS height,
           CAST(1 + doc_id % 8 AS INT) AS orientation,
           'cam-' || CAST(doc_id % 7 AS VARCHAR) AS make,
           'mx' || CAST(doc_id % 5 AS VARCHAR) AS model,
           '2021:0' || CAST(1 + doc_id % 9 AS VARCHAR) || ':1' ||
             CAST(doc_id % 10 AS VARCHAR) || ' 0' ||
             CAST(doc_id % 10 AS VARCHAR) || ':30:0' ||
             CAST(doc_id % 7 AS VARCHAR) AS datetime_str,
           CAST(100 * (1 + doc_id % 16) AS INT) AS iso,
           CAST(1 + doc_id % 3 AS BIGINT) AS exposure_num,
           CAST(30 + doc_id % 60 AS BIGINT) AS exposure_den
    FROM documents WHERE doc_id < 250
    """,
    tags=("llm-multimodal",),
    doc="REAL WebP container metadata (multimodal._webp_metadata inside "
    "extract_image_metadata): RIFF chunk walk with VP8X extended-header "
    "canvas dims, VP8L lossless-bitstream header dims (signature 0x2F + "
    "14-bit fields — even docs) and VP8 keyframe sync-code dims (odd "
    "docs), plus the EXIF chunk parsed by the SAME TIFF-structure "
    "parser as JPEG APP1 (both byte orders). The coded VP8/VP8L "
    "payload stays opaque (libwebp territory) — this is the "
    "metadata/curation layer, like the MP4 box walk. All fields "
    "closed-form; chunk sizes validated before slicing.",
)
def multimodal_webp_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    media = multimodal.synthesize_webp_payloads(d, id_col="doc_id")
    return multimodal.extract_image_metadata(media, id_col="doc_id")


@register(
    "multimodal_shard_pipeline",
    """
    WITH p AS (
      SELECT doc_id, 4 + doc_id % 17 AS w, 4 + doc_id % 15 AS h,
             COALESCE(text, '') AS text
      FROM documents WHERE doc_id < 250
    ), s AS (
      SELECT p.doc_id, p.w, p.h, strlen(p.text) AS caption_len,
             CAST(SUM((5*p.doc_id + 11*x.i + 13*y.i) % 256
                      + (5*p.doc_id + 11*x.i + 13*y.i + 17) % 256
                      + (5*p.doc_id + 11*x.i + 13*y.i + 34) % 256) AS BIGINT)
               AS pixel_sum
      FROM p,
           LATERAL (SELECT UNNEST(range(0, p.w)) AS i) x,
           LATERAL (SELECT UNNEST(range(0, p.h)) AS i) y
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels, pixel_sum,
           CAST(caption_len AS BIGINT) AS caption_len
    FROM s
    """,
    tags=("llm-multimodal", "S1", "sources-formats"),
    doc="END-TO-END multimodal shard pipeline (the LAION-style "
    "ingestion shape, composing three separately-graded layers): REAL "
    "ZIP shards (one per doc: a real PNG member + a caption member, "
    "deflate where it shrinks) -> extract_zip_members bridges inflated "
    ".png bytes to a payload column -> decode_images runs the REAL PNG "
    "decode (zlib + five-filter reconstruction) for dims + exact "
    "pixel_sum -> caption lengths join back by doc. PNG content reuses "
    "synthesize_png_payloads' closed form (pixel = (5*id+11x+13y+17c) "
    "mod 256), so the oracle recomputes the decoded pixel_sum "
    "arithmetically THROUGH the zip+inflate+decode chain: a wrong byte "
    "anywhere in the stack reds the hash. The web_pipeline_ingest "
    "sibling for the image-shard tier.",
)
def multimodal_shard_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import zipshard

    def encode(rid: int, text) -> bytes:
        png = multimodal.encode_png(
            4 + rid % 17,
            4 + rid % 15,
            lambda x, y, c: (5 * rid + 11 * x + 13 * y + 17 * c) % 256,
        )
        key = f"{rid:06d}"
        return zipshard.encode_zip(
            [
                (f"{key}.png", png),
                (f"{key}.txt", ("" if text is None else str(text)).encode()),
            ]
        )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    # No input spread (r10 interleaved A/B: 0.95 -> 1.27 s — this
    # kernel is too light to pay the count+exchange).
    shards = kernels.payload_map(d, "doc_id", encode, inputs=("text",)).localCheckpoint(
        eager=False  # two consumers: the .png leg and the .txt leg
    )
    pngs = zipshard.extract_zip_members(shards, suffix=".png")
    decoded = multimodal.decode_images(pngs.select("doc_id", "payload"))
    captions = zipshard.extract_zip_members(shards, suffix=".txt").select(
        # byte length of the raw binary member == DuckDB strlen(text) (bytes);
        # casting to string first would count UTF-8 CHARACTERS and diverge on
        # any non-ASCII caption
        "doc_id", F.length(F.col("payload")).cast("long").alias("caption_len")
    )
    return decoded.join(captions, "doc_id").select(
        "doc_id", "width", "height", "n_channels", "pixel_sum", "caption_len"
    )


def _image_curation_sql() -> str:
    """Oracle for multimodal_curation_pipeline, generated FROM the same
    weight constants the Spark side uses (the _clip_fixed_sql /
    _trigram_lang_oracle discipline, so SQL can never drift): replay
    tar captions, closed-form JPEG pixels, integer features × integer
    weights (exact in any order), L2-normalize (correctly-rounded
    sqrt + divide), then the pairs tier's JVM cosine — dot_expr's
    0.0-seeded fold and norm_expr restated as left-assoc chains — with
    the same ROUND(,4) ≥ threshold decision."""
    wi = [[((3 * k + 5 * j + 1) % 7) - 3 for j in range(4)] for k in range(6)]
    # distinct modulus per component: a collision needs stats agreeing
    # mod lcm(241..246), so planted duplicates are the only pairs with
    # identical features (the r4e mod-lattice lesson)
    fs = [f"(((psum*{k + 3} + w_*{k} + h_) % {241 + k}) - {(241 + k) // 2})" for k in range(6)]
    ys = [" + ".join(f"{fs[k]}*({wi[k][j]})" for k in range(6)) for j in range(4)]
    y_cols = ", ".join(f"{ys[j]} AS y{j}" for j in range(4))
    e_cols = ", ".join(
        f"CAST(y{j} AS DOUBLE)/(CASE WHEN nrm=0 THEN 1 ELSE nrm END) AS e{j}"
        for j in range(4)
    )
    toks = _DUCK_TOKENS.format(col="text")
    return f"""
    WITH p AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 3 THEN doc_id - 3 ELSE doc_id END AS img_key,
             {toks} AS w
      FROM documents WHERE doc_id < 250
    ), dims AS (
      SELECT doc_id, img_key,
             8*(1 + img_key % 4) AS w_, 8*(1 + img_key % 3) AS h_,
             array_to_string(w[1:(1 + CAST(doc_id % 12 AS INT))], ' ') AS caption
      FROM p
    ), px AS (
      SELECT d.doc_id, d.w_, d.h_, strlen(d.caption) AS clen,
             SUM(64 * ((3*d.img_key + 5*bx.i + 7*by.i) % 256)) AS psum
      FROM dims d,
           LATERAL (SELECT UNNEST(range(0, d.w_ // 8)) AS i) bx,
           LATERAL (SELECT UNNEST(range(0, d.h_ // 8)) AS i) by
      GROUP BY 1, 2, 3, 4
    ), f AS (
      SELECT doc_id, w_, h_, clen, psum, {y_cols} FROM px
    ), n AS (
      SELECT *, SQRT(CAST(y0*y0 + y1*y1 + y2*y2 + y3*y3 AS DOUBLE)) AS nrm
      FROM f
    ), e AS (
      SELECT doc_id, w_, h_, clen, psum, {e_cols} FROM n
    ), e2 AS (
      SELECT *, SQRT(0.0 + e0*e0 + e1*e1 + e2*e2 + e3*e3) AS enrm FROM e
    ), pr AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM e2 a JOIN e2 b ON a.doc_id < b.doc_id
      WHERE ROUND((0.0 + a.e0*b.e0 + a.e1*b.e1 + a.e2*b.e2 + a.e3*b.e3)
                  /((CASE WHEN a.enrm = 0 THEN 1 ELSE a.enrm END)
                   *(CASE WHEN b.enrm = 0 THEN 1 ELSE b.enrm END)), 4) >= 0.9999
    ), dup AS (
      SELECT b_id AS doc_id, MIN(a_id) AS dup_of FROM pr GROUP BY 1
    )
    SELECT e2.doc_id, CAST(e2.w_ AS INT) AS width, CAST(e2.h_ AS INT) AS height,
           CAST(e2.psum AS BIGINT) AS pixel_sum,
           CAST(e2.clen AS BIGINT) AS caption_len,
           CAST(dup.dup_of AS BIGINT) AS dup_of,
           CASE WHEN dup.dup_of IS NOT NULL THEN 'dup'
                WHEN e2.clen < 16 THEN 'short_caption'
                ELSE 'kept' END AS disposition
    FROM e2 LEFT JOIN dup ON dup.doc_id = e2.doc_id
    """


def _caption(rid: int, text) -> str:
    """The pipeline fixtures' caption: the first 1 + rid % 12 tokens of
    the text, split on EXACTLY the Java/RE2 \\s class [ \\t\\n\\v\\f\\r]
    (str.split() also splits on \\x1c-\\x1f/\\xa0/Unicode spaces, which
    would diverge from the oracle tokens on a regenerated non-ASCII
    corpus — code-review r5)."""
    text = "" if text is None else str(text)
    toks = [t for t in _re.split("[ \t\n\x0b\f\r]+", text) if t]
    return " ".join(toks[: 1 + rid % 12])


@register(
    "multimodal_curation_pipeline",
    _image_curation_sql(),
    tags=("llm-multimodal", "llm-dedup", "llm-similarity", "pipeline"),
    doc="The flagship composed image-curation flow (VERDICT r4 next "
    "#4) — every stage individually graded, chained end-to-end: "
    "WebDataset tar shard (encode_tar fixtures: one REAL baseline JPEG "
    "+ one caption member per doc, ids ≡ 3 mod 7 duplicating the image "
    "of id−3) → extract_tar_members → REAL JPEG decode "
    "(decode_images: Huffman + dequant + IDCT) → integer features from "
    "the DECODED pixel stats → CLIP-style dual-encoder serving "
    "(encode_features, the graded fixed integer weights) → exact "
    "embedding-cosine near-dup (embedding_cosine_pairs: block matmul "
    "proposes with the 1e-4 margin, JVM dot_expr/ROUND(,4) decides) → "
    "per-image disposition audit (dup → canonical min-id partner; "
    "short captions gated on landed BYTE length; else kept). Oracle "
    "generated from the same weight constants, replaying the whole "
    "chain closed-form. Scale: two mapInPandas over shards, one "
    "block-pair shuffle ∝ n·blocks for the pairs tier, one broadcast-"
    "size dup join — no corpus-sized shuffle anywhere.",
)
def multimodal_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from .llm import encoder
    from .sources import webdataset

    def encode(rid: int, text) -> bytes:
        img_key = rid - 3 if rid % 7 == 3 else rid
        w, h = 8 * (1 + img_key % 4), 8 * (1 + img_key % 3)
        jpg = multimodal.encode_jpeg(
            w, h, lambda x, y: (3 * img_key + 5 * (x // 8) + 7 * (y // 8)) % 256
        )
        key = f"{rid:06d}"
        return webdataset.encode_tar(
            [(f"{key}.jpg", jpg), (f"{key}.txt", _caption(rid, text).encode())]
        )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    shards = kernels.payload_map(
        text_ops.spread_small_input(d.select("doc_id", "text"), "doc_id", rows_per_task=64),
        "doc_id", encode, inputs=("text",),
    ).localCheckpoint(
        eager=False  # two consumers: the .jpg leg and the .txt leg
    )
    jpgs = webdataset.extract_tar_members(shards, suffix=".jpg")
    decoded = multimodal.decode_images(
        jpgs.select("doc_id", "payload")
    ).localCheckpoint(eager=False)  # feeds the feature leg AND the audit join
    caps = webdataset.extract_tar_members(shards, suffix=".txt").select(
        "doc_id", F.length(F.col("payload")).cast("long").alias("caption_len")
    )
    w_img = np.array(
        [[((3 * k + 5 * j + 1) % 7) - 3 for j in range(4)] for k in range(6)],
        dtype=np.float64,
    )
    w_txt = np.array(
        [[((2 * k + 3 * j + 2) % 7) - 3 for j in range(4)] for k in range(5)],
        dtype=np.float64,
    )
    model = encoder.DualEncoder(
        w_img=w_img, w_txt=w_txt, grid=0, buckets=5, dim=4, temperature=20.0
    )
    feats = decoded.select(
        "doc_id",
        F.array(
            *[
                (
                    (F.col("pixel_sum") * (k + 3) + F.col("width") * k + F.col("height"))
                    % (241 + k)
                    - (241 + k) // 2
                ).cast("double")
                for k in range(6)
            ]
        ).alias("features"),
    )
    emb = encoder.encode_features(feats, model, modality="image")
    pairs = dedup.embedding_cosine_pairs(
        emb, vec_col="embedding", id_col="doc_id", threshold=0.9999, num_blocks=2
    )
    dup = pairs.groupBy(F.col("b_id").alias("doc_id")).agg(
        F.min("a_id").cast("bigint").alias("dup_of")
    )
    return (
        decoded.join(caps, "doc_id")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id", "width", "height", "pixel_sum", "caption_len", "dup_of",
            F.when(F.col("dup_of").isNotNull(), F.lit("dup"))
            .when(F.col("caption_len") < 16, F.lit("short_caption"))
            .otherwise(F.lit("kept"))
            .alias("disposition"),
        )
    )


def _audio_pipeline_sql() -> str:
    toks = _DUCK_TOKENS.format(col="text")
    return f"""
    WITH p AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 3 THEN doc_id - 3 ELSE doc_id END AS key,
             {toks} AS w
      FROM documents WHERE doc_id < 250
    ), d AS (
      SELECT doc_id, key,
             8000 + 8000 * (key % 2) AS sr, 3 + key % 3 AS nf,
             array_to_string(w[1:(1 + CAST(doc_id % 12 AS INT))], ' ') AS cap
      FROM p
    ), fr AS (
      SELECT d.doc_id, d.key, d.sr, d.nf, strlen(d.cap) AS clen, f.f AS fi,
             CASE WHEN d.key % 5 = 0 AND f.f % 3 <> 0 THEN 0 ELSE 1 END AS live
      FROM d, LATERAL (SELECT UNNEST(range(0, d.nf)) AS f) f
    ), en AS (
      SELECT fr.doc_id, fr.key, fr.sr, fr.nf, fr.clen, fr.fi,
             CAST(SUM(CASE WHEN fr.live = 0 THEN 0 ELSE v.v * v.v END) AS BIGINT) AS energy,
             CAST(SUM(CASE WHEN fr.live = 0 THEN 0 ELSE v.v END) AS BIGINT) AS fsum
      FROM fr, LATERAL (
        SELECT (((fr.fi*160 + s.s)*7919 + fr.key*104729) % 65536) - 32768 AS v
        FROM (SELECT UNNEST(range(0, 160)) AS s) s
      ) v
      GROUP BY 1, 2, 3, 4, 5, 6
    ), doc AS (
      SELECT doc_id, key, sr, nf, clen,
             CAST(160 * nf AS BIGINT) AS n_samples,
             CAST(SUM(fsum) AS BIGINT) AS ssum,
             CAST(SUM(CASE WHEN energy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
             CAST(SUM(energy) AS BIGINT) AS ssq
      FROM en GROUP BY 1, 2, 3, 4, 5
    ), dup AS (
      SELECT a.doc_id, MIN(b.doc_id) AS dup_of
      FROM doc a JOIN doc b
        ON b.doc_id < a.doc_id AND b.sr = a.sr
       AND b.n_samples = a.n_samples AND b.ssum = a.ssum AND b.ssq = a.ssq
      GROUP BY a.doc_id
    )
    SELECT doc.doc_id, CAST(doc.sr AS INT) AS sample_rate, doc.n_samples,
           doc.n_active, CAST(doc.clen AS BIGINT) AS transcript_len,
           CAST(dup.dup_of AS BIGINT) AS dup_of,
           CASE WHEN dup.dup_of IS NOT NULL THEN 'dup'
                WHEN doc.n_active * 3 <= doc.nf * 2 THEN 'mostly_silent'
                WHEN doc.clen < 16 THEN 'short_transcript'
                ELSE 'kept' END AS disposition
    FROM doc LEFT JOIN dup ON dup.doc_id = doc.doc_id
    """


@register(
    "multimodal_audio_pipeline",
    _audio_pipeline_sql(),
    tags=("llm-multimodal", "llm-dedup", "pipeline"),
    doc="The composed AUDIO-curation flow (r5) — the audio analog of "
    "multimodal_curation_pipeline, every stage individually graded: "
    "WebDataset tar shard (one REAL multi-frame FLAC + one transcript "
    "member per doc; ids ≡ 3 mod 7 duplicate the waveform of id−3, "
    "keys ≡ 0 mod 5 silence two of every three VAD frames) → "
    "extract_tar_members → REAL FLAC frame decode (decode_audio: "
    "exact sample_sum through the Rice/LPC pipeline) → VAD frame "
    "energies (audio_vad_frames over the shared _pcm_samples "
    "contract) → exact-duplicate detection by integer stat "
    "fingerprint (sr, n, Σs, Σs² — an equi-join on the fingerprint, "
    "never a cross join) → per-clip disposition audit (dup → "
    "canonical min-id; mostly_silent when ≤ ⅓ of frames are active; "
    "short transcript on landed BYTE length; else kept). Oracle "
    "replays the closed-form waveform, frame energies, silence "
    "schedule and set arithmetic end-to-end.",
)
def multimodal_audio_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import webdataset

    def encode(rid: int, text) -> bytes:
        key = rid - 3 if rid % 7 == 3 else rid
        sr = 8000 + 8000 * (key % 2)
        nf = 3 + key % 3
        sam = []
        for f in range(nf):
            if key % 5 == 0 and f % 3 != 0:
                sam += [0] * 160
            else:
                sam += [
                    (((f * 160 + s) * 7919 + key * 104729) % 65536) - 32768
                    for s in range(160)
                ]
        k = f"{rid:06d}"
        return webdataset.encode_tar(
            [
                (f"{k}.flac", multimodal.encode_flac(sr, sam)),
                (f"{k}.txt", _caption(rid, text).encode()),
            ]
        )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    # The FLAC-encode kernel needs text too, so the id-only
    # kernels.id_kernel doesn't apply — spread the (id, text) frame
    # itself off the one-split scan, priced for a ms-per-row kernel
    # (r10 A/B: width 4 beat 1-split 3.19 s and full-32 2.80 s at 2.45 s).
    spread = text_ops.spread_small_input(
        d.select("doc_id", "text"), "doc_id", rows_per_task=64
    )
    shards = kernels.payload_map(spread, "doc_id", encode, inputs=("text",)).localCheckpoint(
        eager=False  # two consumers: the .flac leg and the .txt leg
    )
    flacs = webdataset.extract_tar_members(shards, suffix=".flac").select(
        "doc_id", "payload"
    ).localCheckpoint(eager=False)  # feeds stats AND the VAD leg
    stats = multimodal.decode_audio(flacs)
    vad = multimodal.audio_vad_frames(flacs, frame_size=160, energy_threshold=0)
    act = vad.groupBy("doc_id").agg(
        F.sum("active").cast("long").alias("n_active"),
        F.sum("energy").cast("long").alias("ssq"),
        F.count(F.lit(1)).cast("long").alias("nf"),
    )
    caps = webdataset.extract_tar_members(shards, suffix=".txt").select(
        "doc_id", F.length(F.col("payload")).cast("long").alias("transcript_len")
    )
    docstats = (
        stats.select("doc_id", "sample_rate", "n_samples", "sample_sum")
        .join(act, "doc_id")
        .join(caps, "doc_id")
        .localCheckpoint(eager=False)  # feeds the dup self-join twice
    )
    x = docstats.select("doc_id", "sample_rate", "n_samples", "sample_sum", "ssq")
    dup = (
        x.alias("a")
        .join(
            x.alias("b"),
            (F.col("b.doc_id") < F.col("a.doc_id"))
            & (F.col("b.sample_rate") == F.col("a.sample_rate"))
            & (F.col("b.n_samples") == F.col("a.n_samples"))
            & (F.col("b.sample_sum") == F.col("a.sample_sum"))
            & (F.col("b.ssq") == F.col("a.ssq")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"))
        .agg(F.min("b.doc_id").cast("bigint").alias("dup_of"))
    )
    return (
        docstats.join(dup, "doc_id", "left")
        .select(
            "doc_id", "sample_rate", "n_samples", "n_active", "transcript_len",
            "dup_of",
            F.when(F.col("dup_of").isNotNull(), F.lit("dup"))
            .when(F.col("n_active") * 3 <= F.col("nf") * 2, F.lit("mostly_silent"))
            .when(F.col("transcript_len") < 16, F.lit("short_transcript"))
            .otherwise(F.lit("kept"))
            .alias("disposition"),
        )
    )


def _video_pipeline_sql() -> str:
    toks = _DUCK_TOKENS.format(col="text")
    return f"""
    WITH p AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 3 THEN doc_id - 3 ELSE doc_id END AS key,
             {toks} AS w
      FROM documents WHERE doc_id < 250
    ), d AS (
      SELECT doc_id, key,
             8*(1 + key % 3) AS wd, 8*(1 + key % 2) AS ht, 2 + key % 4 AS nf,
             CASE WHEN key % 5 = 0 THEN 1 ELSE 0 END AS static,
             CASE WHEN key % 11 = 4 THEN 1 ELSE 0 END AS avc,
             array_to_string(w[1:(1 + CAST(doc_id % 12 AS INT))], ' ') AS cap
      FROM p
    ), px AS (
      -- MJPEG leg: per-block-constant luma, moments summed per block
      SELECT d.doc_id, d.wd, d.ht, d.nf, d.clen, d.fi, 1 AS nch,
             SUM(64 * d.yv) AS psum, SUM(64 * d.yv * d.yv) AS psq
      FROM (
        SELECT d.doc_id, d.wd, d.ht, d.nf, strlen(d.cap) AS clen, f.f AS fi,
               (3*d.key + CASE WHEN d.static = 1 THEN 0 ELSE 11*f.f END
                + 5*bx.i + 7*by.i) % 256 AS yv
        FROM d,
             LATERAL (SELECT UNNEST(range(0, d.nf)) AS f) f,
             LATERAL (SELECT UNNEST(range(0, d.wd // 8)) AS i) bx,
             LATERAL (SELECT UNNEST(range(0, d.ht // 8)) AS i) by
        WHERE d.avc = 0
      ) d
      GROUP BY 1, 2, 3, 4, 5, 6
      UNION ALL
      -- AVC leg (r6): flat planes, h264_flat_expected closed form at
      -- qp 28 (luma dc = (16c+2)//4, chroma dc = 8c, pixel = 128 +
      -- (dc + 32)//64), moments over YUV420
      SELECT a.doc_id, a.wd, a.ht, a.nf, a.clen, a.fi, 3 AS nch,
             a.wd*a.ht*a.yv + (a.wd//2)*(a.ht//2)*(a.uv + a.vv) AS psum,
             a.wd*a.ht*a.yv*a.yv
               + (a.wd//2)*(a.ht//2)*(a.uv*a.uv + a.vv*a.vv) AS psq
      FROM (
        SELECT d.doc_id, d.wd, d.ht, d.nf, strlen(d.cap) AS clen, f.f AS fi,
               128 + ((16*(1 + (3*d.key + CASE WHEN d.static = 1 THEN 0
                                          ELSE 11*f.f END) % 90) + 2)//4
                      + 32)//64 AS yv,
               128 + (8*(1 + d.key % 40) + 32)//64 AS uv,
               128 + (8*(1 + (d.key//3) % 40) + 32)//64 AS vv
        FROM d, LATERAL (SELECT UNNEST(range(0, d.nf)) AS f) f
        WHERE d.avc = 1
      ) a
    ), vid AS (
      SELECT doc_id, wd, ht, nf, clen,
             string_agg(
               CAST(wd AS VARCHAR) || 'x' || CAST(ht AS VARCHAR) || 'x'
               || CAST(nch AS VARCHAR) || ':'
               || CAST(psum AS VARCHAR) || ':' || CAST(psq AS VARCHAR),
               '|' ORDER BY fi) AS sig,
             COUNT(DISTINCT CAST(psum AS VARCHAR) || ':' || CAST(psq AS VARCHAR)) AS n_distinct
      FROM px GROUP BY 1, 2, 3, 4, 5
    ), dup AS (
      SELECT a.doc_id, MIN(b.doc_id) AS dup_of
      FROM vid a JOIN vid b ON b.doc_id < a.doc_id AND b.sig = a.sig
      GROUP BY a.doc_id
    )
    SELECT vid.doc_id, CAST(vid.wd AS INT) AS width, CAST(vid.ht AS INT) AS height,
           CAST(vid.nf AS BIGINT) AS n_frames,
           CAST(vid.n_distinct AS BIGINT) AS n_distinct_frames,
           CAST(vid.clen AS BIGINT) AS caption_len,
           CAST(dup.dup_of AS BIGINT) AS dup_of,
           CASE WHEN dup.dup_of IS NOT NULL THEN 'dup'
                WHEN vid.n_distinct = 1 AND vid.nf > 1 THEN 'static'
                WHEN vid.clen < 16 THEN 'short_caption'
                ELSE 'kept' END AS disposition
    FROM vid LEFT JOIN dup ON dup.doc_id = vid.doc_id
    """


@register(
    "multimodal_video_pipeline",
    _video_pipeline_sql(),
    tags=("llm-multimodal", "llm-dedup", "pipeline"),
    doc="The composed VIDEO-curation flow (r5; AVC leg r6) — "
    "completing the modality trilogy beside "
    "multimodal_curation_pipeline (image) and "
    "multimodal_audio_pipeline: WebDataset tar shard (one REAL video "
    "+ one caption member per doc — keys ≡ 4 mod 11 carry H.264 IDR "
    "samples in an MP4 decoded by the real AVC path, the rest MJPEG "
    "AVIs; ids ≡ 3 mod 7 duplicate the video of id−3; keys ≡ 0 mod 5 "
    "are STATIC — every frame pixel-identical, the frozen-camera junk "
    "a real pipeline drops) → "
    "extract_tar_members → pixel-true per-frame decode "
    "(decode_video_pixels with both exact moments) → ordered "
    "fingerprint signature per video (frame-order-sensitive, so a "
    "shuffled re-cut is NOT a dup) → exact-duplicate detection by "
    "signature equi-join → per-video disposition audit (dup → "
    "canonical min-id; static when every frame fingerprints "
    "identically; short caption on landed BYTES; else kept). Oracle "
    "replays frames, moments, signature aggregation and set "
    "arithmetic closed-form.",
)
def multimodal_video_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import webdataset

    def encode(rid: int, text) -> bytes:
        key = rid - 3 if rid % 7 == 3 else rid
        w, h = 8 * (1 + key % 3), 8 * (1 + key % 2)
        static = key % 5 == 0
        nf = 2 + key % 4
        if key % 11 == 4:
            # AVC leg (r6): real H.264 IDR samples in an MP4 —
            # flat per-frame planes whose moments have the
            # h264_flat_expected closed form (qp 28)
            frames = [
                multimodal.encode_h264_iframe_flat(
                    w, h, qp=28,
                    y_coeff=1 + (3 * key + (0 if static else 11 * f)) % 90,
                    u_coeff=1 + key % 40,
                    v_coeff=1 + (key // 3) % 40,
                )
                for f in range(nf)
            ]
            vid_member = (
                "mp4",
                multimodal.encode_mp4_frames(
                    frames, codec="avc1", frame_duration_ms=250
                ),
            )
        else:
            frames = [
                multimodal.encode_jpeg(
                    w, h,
                    lambda x, y, f=f: (
                        3 * key + (0 if static else 11 * f)
                        + 5 * (x // 8) + 7 * (y // 8)
                    ) % 256,
                )
                for f in range(nf)
            ]
            vid_member = (
                "avi", multimodal.encode_avi_mjpeg(w, h, 250_000, frames)
            )
        k = f"{rid:06d}"
        ext, vid_bytes = vid_member
        return webdataset.encode_tar(
            [(f"{k}.{ext}", vid_bytes), (f"{k}.txt", _caption(rid, text).encode())]
        )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    shards = kernels.payload_map(
        text_ops.spread_small_input(d.select("doc_id", "text"), "doc_id", rows_per_task=64),
        "doc_id", encode, inputs=("text",),
    ).localCheckpoint(
        eager=False  # two consumers: the .avi leg and the .txt leg
    )
    avis = (
        webdataset.extract_tar_members(shards, suffix=".avi")
        .select("doc_id", "payload")
        .unionByName(
            webdataset.extract_tar_members(shards, suffix=".mp4").select(
                "doc_id", "payload"
            )
        )
    )
    frames = multimodal.decode_video_pixels(avis, every_ms=250, include_sq=True)
    fp = F.concat_ws(
        ":",
        F.concat_ws("x", "width", "height", "n_channels"),
        F.col("pixel_sum").cast("string"),
        F.col("pixel_sq").cast("string"),
    )
    mom = F.concat_ws(
        ":", F.col("pixel_sum").cast("string"), F.col("pixel_sq").cast("string")
    )
    vid = (
        frames.select(
            "doc_id", "width", "height",
            F.struct("frame_idx", fp.alias("fp")).alias("_s"),
            mom.alias("_m"),
        )
        .groupBy("doc_id")
        .agg(
            F.max("width").cast("int").alias("width"),
            F.max("height").cast("int").alias("height"),
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.countDistinct("_m").cast("long").alias("n_distinct_frames"),
            # frame-ORDER-sensitive signature: sort the (idx, fp)
            # structs, then join the fps (collect_list order is not
            # deterministic on its own)
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("_s")), lambda s: s["fp"]
                ),
                "|",
            ).alias("_sig"),
        )
        .localCheckpoint(eager=False)  # feeds the dup self-join twice
    )
    caps = webdataset.extract_tar_members(shards, suffix=".txt").select(
        "doc_id", F.length(F.col("payload")).cast("long").alias("caption_len")
    )
    # Two-pass whole-video identity (the containment discipline, r5
    # verdict #3): the concatenated frame signature is UNBOUNDED (an
    # hour at 4 fps is hundreds of KB), so the corpus-wide self-join
    # ships only its 8-byte xxhash64; the full `_sig` travels once,
    # value-partitioned by doc_id, to exact-confirm the candidate
    # pairs. Collisions only ADD candidates — lossless by
    # construction.
    hx = vid.select("doc_id", F.xxhash64("_sig").alias("_h"))
    cand = (
        hx.alias("a")
        .join(
            hx.alias("b"),
            (F.col("b.doc_id") < F.col("a.doc_id"))
            & (F.col("b._h") == F.col("a._h")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
    )
    sigs = vid.select("doc_id", "_sig")
    dup = (
        cand.join(
            sigs.select(F.col("doc_id").alias("a_id"), F.col("_sig").alias("_sa")),
            "a_id",
        )
        .join(
            sigs.select(F.col("doc_id").alias("b_id"), F.col("_sig").alias("_sb")),
            "b_id",
        )
        .filter(F.col("_sa") == F.col("_sb"))
        .groupBy(F.col("a_id").alias("doc_id"))
        .agg(F.min("b_id").cast("bigint").alias("dup_of"))
    )
    return (
        vid.join(caps, "doc_id")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id", "width", "height", "n_frames", "n_distinct_frames",
            "caption_len", "dup_of",
            F.when(F.col("dup_of").isNotNull(), F.lit("dup"))
            .when(
                (F.col("n_distinct_frames") == 1) & (F.col("n_frames") > 1),
                F.lit("static"),
            )
            .when(F.col("caption_len") < 16, F.lit("short_caption"))
            .otherwise(F.lit("kept"))
            .alias("disposition"),
        )
    )


@register(
    "dedup_audio_envelope",
    """
    WITH p AS (
      SELECT doc_id, doc_id // 2 AS k, doc_id % 2 AS odd
      FROM documents WHERE doc_id < 200
    ), fr AS (
      SELECT p.doc_id, f.f AS frame_idx,
             CAST(SUM(CASE WHEN (f.f*f.f + 3*f.f + p.k) % 7 < 2
                             OR (p.odd = 1 AND f.f = p.k % (44 + p.k % 9))
                           THEN 0 ELSE v.v * v.v END) AS BIGINT) AS energy
      FROM p,
           LATERAL (SELECT UNNEST(range(0, 44 + p.k % 9)) AS f) f,
           LATERAL (
             SELECT ((p.k*7919 + (f.f*160 + s.s)*104729) % 65536) - 32768 AS v
             FROM (SELECT UNNEST(range(0, 160)) AS s) s
           ) v
      GROUP BY 1, 2
    ), env AS (
      SELECT doc_id, list(CAST(energy AS VARCHAR) ORDER BY frame_idx) AS w
      FROM fr GROUP BY doc_id
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3 THEN
               list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              for i in range(1, len(w)-1)])
             ELSE [] END AS s
      FROM env
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           ROUND(len(list_intersect(a.s, b.s))::DOUBLE
                 / len(list_distinct(a.s || b.s)), 4) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE
                / len(list_distinct(a.s || b.s)), 4) >= 0.8
    """,
    tags=("llm-dedup", "llm-multimodal"),
    doc="AUDIO near-dup via energy-envelope fingerprinting "
    "(multimodal.audio_energy_envelope, quantize='exact'): REAL WAV "
    "decode -> exact int64 frame energies in the Arrow kernel -> the "
    "envelope text feeds the EXISTING n-gram Jaccard machinery "
    "(dedup.jaccard_pairs_bruteforce with its SSJoin prefix filter) -- "
    "audio dedup REDUCES to text dedup over an integer fingerprint, "
    "completing the modality matrix (text exact/near/semantic, image "
    "perceptual dHash, audio envelope). Fixtures plant pairs sharing a "
    "silence/tone schedule with ONE silenced frame of ~44-52 "
    "(envelope Jaccard >= 0.87 > threshold 0.8, guaranteed non-empty); "
    "different pairs draw disjoint pseudo-random energies. The oracle "
    "replays energies, envelopes, shingles and the pair join "
    "closed-form; jaccard is one IEEE divide of exact ints (the "
    "pinned ROUND discipline). The loudness-robust bitlen tier is "
    "pinned in pytest.",
)
def dedup_audio_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = multimodal.synthesize_neardup_wav_payloads(d, id_col="doc_id")
    env = multimodal.audio_energy_envelope(media, id_col="doc_id", quantize="exact")
    return dedup.jaccard_pairs_bruteforce(
        env, text_col="envelope", id_col="doc_id", n=3, threshold=0.8
    )


@register(
    "dedup_video_frames",
    """
    WITH p AS (
      SELECT doc_id, doc_id // 2 AS k, doc_id % 2 AS odd
      FROM documents WHERE doc_id < 200
    ), fr AS (
      SELECT p.doc_id,
             md5(substr(repeat(
               CASE WHEN p.odd = 1 AND j.j = p.k % (8 + p.k % 5)
                    THEN 'k' || CAST(p.k AS VARCHAR) || 'alt'
                    ELSE 'k' || CAST(p.k AS VARCHAR) || 'f'
                         || CAST(j.j AS VARCHAR) || 'x' END, 96), 1, 96)) AS fmd5
      FROM p, LATERAL (SELECT UNNEST(range(0, 8 + p.k % 5)) AS j) j
    ), sets AS (
      SELECT doc_id, list_distinct(list(fmd5)) AS s FROM fr GROUP BY doc_id
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
           CAST(len(a.s) AS BIGINT) AS size_a,
           CAST(len(b.s) AS BIGINT) AS size_b,
           len(list_intersect(a.s, b.s))::DOUBLE
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s)) * 10
          >= 7 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
    """,
    tags=("llm-dedup", "llm-multimodal"),
    doc="VIDEO near-dup via shared-frame sets "
    "(multimodal.video_neardup_pairs): REAL AVI chunk walks "
    "(sample_video_frames) reduce each video to its sampled frame-md5 "
    "set; candidates come from the inverted-index equi-join on "
    "frame_md5 (shuffle ∝ total frames, never doc²) and the Jaccard "
    "decision is ALL-INTEGER (inter·den ≥ num·(|A|+|B|−inter)) — the "
    "re-upload / few-frames-edited detection of the video tier, "
    "completing the dedup modality matrix across text, image, audio "
    "AND video. Fixtures plant pairs sharing all but one replaced "
    "frame (J = (n−1)/(n+1) ≥ 7/9 > 7/10, non-empty by construction); "
    "the oracle rebuilds every frame payload as a SQL string, md5s "
    "it, and replays the same integer set arithmetic.",
)
def dedup_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = multimodal.synthesize_neardup_avi_payloads(d, id_col="doc_id")
    return multimodal.video_neardup_pairs(
        media, id_col="doc_id", every_ms=1, threshold_num=7, threshold_den=10
    )


@register(
    "multimodal_mp4_video_pixels",
    """
    WITH p AS (
      SELECT doc_id, 8*(1 + doc_id % 3) AS w, 8*(1 + doc_id % 2) AS h,
             2 + doc_id % 4 AS nf
      FROM documents WHERE doc_id < 250
    ), fr AS (
      SELECT p.*, f.f AS frame_idx
      FROM p, LATERAL (SELECT UNNEST(range(0, p.nf, 2)) AS f) f
    ), b AS (
      SELECT fr.doc_id, fr.w, fr.h, fr.frame_idx,
             (3*fr.doc_id + 11*fr.frame_idx + 5*bx.i + 7*by.i) % 256 AS yv
      FROM fr,
           LATERAL (SELECT UNNEST(range(0, fr.w // 8)) AS i) bx,
           LATERAL (SELECT UNNEST(range(0, fr.h // 8)) AS i) by
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(frame_idx * 500 AS BIGINT) AS ts_ms,
           CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
           CAST(1 AS INT) AS n_channels,
           CAST(SUM(64 * yv) AS BIGINT) AS pixel_sum
    FROM b GROUP BY doc_id, frame_idx
    """,
    tags=("llm-multimodal",),
    doc="MJPEG-in-MP4 pixel-true decode (r5): the SECOND container "
    "family with real video pixels — encode_mp4_frames(codec='jpeg') "
    "writes a real ISO BMFF stream whose mdat samples are complete "
    "JFIF frames; decode_video_pixels runs the real stts/stsc/stsz/"
    "stco sample-table walk, slices each sampled frame from mdat by "
    "absolute offset (sample-and-hold timing) and runs the full JPEG "
    "decode on it. Per-block-constant luma keeps the DC round trip "
    "lossless; the oracle recomputes every sampled frame's pixels "
    "closed-form. Foreign-codec samples (the 'skyf' fixtures, H.264) "
    "still fall to the fake path — the container walk is shared, only "
    "the sample codec differs.",
)
def multimodal_mp4_video_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    media = multimodal.synthesize_mjpeg_mp4_payloads(d, id_col="doc_id")
    return multimodal.decode_video_pixels(media, every_ms=1000)


@register(
    "dedup_video_pixel_neardup",
    """
    WITH p AS (
      SELECT doc_id, doc_id // 2 AS k, doc_id % 2 AS odd
      FROM documents WHERE doc_id < 200
    ), d AS (
      SELECT doc_id, k, odd, 8*(1 + k % 3) AS w, 8*(1 + k % 2) AS h,
             5 + k % 4 AS nf
      FROM p
    ), fr AS (
      SELECT d.doc_id, d.w, d.h, d.k, f.f AS fi,
             CASE WHEN d.odd = 1 AND f.f = d.k % d.nf THEN 17 ELSE 0 END AS bump
      FROM d, LATERAL (SELECT UNNEST(range(0, d.nf)) AS f) f
    ), px AS (
      SELECT fr.doc_id, fr.w, fr.h, fr.fi,
             SUM(64 * ((3*fr.k + 11*fr.fi + fr.bump + 5*bx.i + 7*by.i) % 256)) AS psum,
             SUM(64 * ((3*fr.k + 11*fr.fi + fr.bump + 5*bx.i + 7*by.i) % 256)
                    * ((3*fr.k + 11*fr.fi + fr.bump + 5*bx.i + 7*by.i) % 256)) AS psq
      FROM fr,
           LATERAL (SELECT UNNEST(range(0, fr.w // 8)) AS i) bx,
           LATERAL (SELECT UNNEST(range(0, fr.h // 8)) AS i) by
      GROUP BY 1, 2, 3, 4
    ), sets AS (
      SELECT doc_id, list_distinct(list(
          CAST(w AS VARCHAR) || 'x' || CAST(h AS VARCHAR) || 'x1:'
          || CAST(psum AS VARCHAR) || ':' || CAST(psq AS VARCHAR))) AS s
      FROM px GROUP BY doc_id
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
           CAST(len(a.s) AS BIGINT) AS size_a,
           CAST(len(b.s) AS BIGINT) AS size_b,
           len(list_intersect(a.s, b.s))::DOUBLE
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s)) * 10
          >= 6 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
    """,
    tags=("llm-dedup", "llm-multimodal"),
    doc="PIXEL-TRUE video near-dup (r5, the VERDICT r4 #1 tail): the "
    "re-encode detection byte-md5 fingerprints cannot provide. "
    "Fixtures plant pairs whose frames are PIXEL-identical but encoded "
    "by two different real encoders — baseline vs progressive JPEG "
    "inside MJPEG AVI streams — so the byte tier sees disjoint frame "
    "sets (zero pairs, pinned by a contrast test) while "
    "decode_video_pixels' full per-frame JPEG decode recovers matching "
    "pixel fingerprints (WxHxCH:SUM:SQ — dims plus the first two exact pixel moments) and the inverted-index Jaccard "
    "join finds every planted pair (one replaced frame per odd doc, "
    "J = (nf−1)/(nf+1) ≥ 4/6 > 6/10). Oracle rebuilds each frame's "
    "decoded pixel sum closed-form (the lossless per-block-constant "
    "contract) and replays the same integer set arithmetic. Scale: "
    "decode is corpus-parallel, the join shuffles one row per (doc, "
    "fingerprint) — never doc².",
)
def dedup_video_pixel_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = multimodal.synthesize_neardup_mjpeg_payloads(d, id_col="doc_id")
    return multimodal.video_neardup_pairs(
        media, id_col="doc_id", every_ms=250,
        threshold_num=6, threshold_den=10, fingerprint="pixels",
    )


@register(
    "image_neardup_incremental",
    _IMAGE_NEARDUP_ORACLE,
    tags=("llm-dedup", "llm-multimodal", "I3", "no-bench"),
    doc="Incrementally-maintained Hamming near-dup index "
    "(llm.dedup.HammingIndex — the MinHashIndex/IVFIndex pattern for "
    "64-bit fingerprints): the image corpus is ingested in TWO batches "
    "(doc_id < 120, then the rest); each batch dHashes only its own "
    "images, probes the persisted band table for collisions with the "
    "standing corpus, verifies with exact bit_count(xor), and MERGEs "
    "in idempotently — the 100 TB operating mode where a daily image "
    "batch never re-joins the corpus. The union of per-batch pair "
    "outputs must equal the one-shot banded join (the same "
    "closed-form oracle as image_neardup_hamming). no-bench: "
    "deliberately persists parquet index tables twice over the "
    "corpus — pipeline-maintenance cost, not query latency.",
)
def image_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .llm.dedup import HammingIndex

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = multimodal.synthesize_neardup_png_payloads(d, id_col="doc_id")
    hashed = multimodal.image_dhash(media, id_col="doc_id").localCheckpoint(
        eager=False  # feeds both batch filters
    )
    idx = HammingIndex(tempfile.mkdtemp(prefix="hamming_idx_"), max_dist=3)
    p1 = idx.add(hashed.filter(F.col("doc_id") < 120))
    p2 = idx.add(hashed.filter(F.col("doc_id") >= 120))
    return (
        p1.unionByName(p2)
        .select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming"
        )
    )


@register(
    "pii_card_luhn",
    """
    WITH p AS (SELECT c_custkey AS k FROM customer),
    d AS (
      SELECT p.k, j.j AS j, (p.k * (j.j + 3) + j.j * j.j) % 10 AS dig
      FROM p, LATERAL (SELECT UNNEST(range(1, 16)) AS j) j
    ), s AS (
      SELECT k,
             CAST(SUM(CASE WHEN j % 2 = 1
                           THEN CASE WHEN 2*dig > 9 THEN 2*dig - 9 ELSE 2*dig END
                           ELSE dig END) AS BIGINT) AS part,
             string_agg(CAST(dig AS VARCHAR), '' ORDER BY j) AS body
      FROM d GROUP BY k
    ), c AS (
      SELECT k, body, part,
             CASE WHEN k % 2 = 0 THEN (10 - part % 10) % 10
                  ELSE ((10 - part % 10) % 10 + 5) % 10 END AS chk
      FROM s
    )
    SELECT k AS cust_id,
           CAST(1 AS INT) AS n_candidates,
           CAST(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END AS INT) AS n_valid,
           CASE WHEN k % 2 = 0
                THEN 'acct [CARD] ref ' || CAST(k AS VARCHAR)
                ELSE 'acct ' || body || CAST(chk AS VARCHAR)
                     || ' ref ' || CAST(k AS VARCHAR) END AS redacted
    FROM c
    """,
    tags=("llm-text", "2.10-string"),
    doc="Luhn-VALIDATED payment-card scrubbing "
    "(llm.curation.pii_luhn_scan + luhn_valid_expr): 16-digit "
    "candidates come from one boundary-guarded codegen regex, but a "
    "number is only redacted when its mod-10 checksum passes — pure "
    "JVM integer arithmetic via an ordered HOF fold (let-bound per "
    "candidate, the interpreted-lambda discipline), so order numbers "
    "that merely look card-shaped survive. Fixtures embed one card per "
    "customer whose CHECK DIGIT is constructed valid for even keys and "
    "constructed-invalid (+5 mod 10, never equal) for odd keys; the "
    "oracle rebuilds digits, Luhn sum, check digit and the redacted "
    "string closed-form. Zero shuffles — a corpus map like pii_scan.",
)
def pii_card_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce
    from operator import add

    from .llm import curation

    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    digs = [((F.col("k") * (j + 3) + j * j) % 10) for j in range(1, 16)]

    def dbl(d):
        return F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)

    part = reduce(add, [dbl(d) if j % 2 == 1 else d for j, d in enumerate(digs, 1)])
    chk_valid = (10 - part % 10) % 10
    chk = F.when(F.col("k") % 2 == 0, chk_valid).otherwise((chk_valid + 5) % 10)
    body = F.concat(*[d.cast("string") for d in digs], chk.cast("string"))
    text = F.concat(F.lit("acct "), body, F.lit(" ref "), F.col("k").cast("string"))
    corpus = c.select(F.col("k").alias("cust_id"), text.alias("text"))
    return curation.pii_luhn_scan(corpus, text_col="text", id_col="cust_id")


@register(
    "text_fix_mojibake",
    """
    WITH p AS (SELECT doc_id, doc_id % 3 AS kind FROM documents WHERE doc_id < 400)
    SELECT doc_id,
           CASE kind
             WHEN 0 THEN 'caf' || chr(233) || ' n' || chr(176) || ' '
                         || CAST(doc_id AS VARCHAR)
             WHEN 1 THEN 'plain ascii ' || CAST(doc_id AS VARCHAR)
             ELSE 'stray ' || chr(195) || 'x mark ' || CAST(doc_id AS VARCHAR)
           END AS fixed,
           CAST(CASE kind WHEN 0 THEN 1 ELSE 0 END AS INT) AS was_fixed
    FROM p
    """,
    tags=("llm-text", "2.10-string"),
    doc="Mojibake repair (llm.text.fix_mojibake — the ftfy-style "
    "double-encoding fix): a doc rewrites iff every char is Latin-1 "
    "AND the byte re-read as UTF-8 succeeds AND changes the text. "
    "Fixtures (built from chr()/escape arithmetic on BOTH sides, never "
    "non-ASCII source literals — the r4c rule) plant three kinds: "
    "true mojibake (chr(195)||chr(169) for e-acute, chr(194)||chr(176) "
    "for the degree sign — fixed), pure ASCII (untouched), and the "
    "FALSE-POSITIVE trap chr(195)||'x' whose continuation byte is "
    "invalid UTF-8 — the strict round-trip must leave it alone rather "
    "than damage it. The oracle rebuilds the repaired text with chr() "
    "integer arithmetic.",
)
def text_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    kind = F.col("doc_id") % 3
    did = F.col("doc_id").cast("string")
    corpus = d.select(
        "doc_id",
        F.when(
            kind == 0,
            F.concat(F.lit("caf\u00c3\u00a9 n\u00c2\u00b0 "), did),
        )
        .when(kind == 1, F.concat(F.lit("plain ascii "), did))
        .otherwise(F.concat(F.lit("stray \u00c3x mark "), did))
        .alias("text"),
    )
    return text_ops.fix_mojibake(corpus, text_col="text", id_col="doc_id")


@register(
    "multimodal_webp_animation",
    """
    WITH p AS (
      SELECT doc_id, 10 + doc_id % 30 AS w, 8 + doc_id % 22 AS h,
             2 + doc_id % 4 AS nf, doc_id % 4 AS qk
      FROM documents WHERE doc_id < 240
    ), f AS (
      SELECT p.*, CAST(x.i AS BIGINT) AS fi
      FROM p, LATERAL (SELECT UNNEST(range(0, p.nf)) AS i) x
    ), c AS (
      SELECT doc_id, w, h, fi, qk,
             100 * (1 + fi % 3) AS dur,
             100 * fi + 100 * (3 * (fi // 3)
               + CASE fi % 3 WHEN 2 THEN 1 ELSE 0 END) AS ts,
             (7 * doc_id + 11 * fi) % 256 AS r,
             (3 * doc_id + 5 * fi) % 256 AS g,
             (13 * doc_id + fi) % 256 AS b,
             CASE qk WHEN 0 THEN 22 WHEN 1 THEN 46
                  WHEN 2 THEN 88 ELSE 150 END AS q2dc,
             CASE qk WHEN 0 THEN 11 WHEN 1 THEN 23
                  WHEN 2 THEN 44 ELSE 75 END AS quv,
             1 + (doc_id + 3 * fi) % 40 AS ty,
             1 + (doc_id + fi) % 12 AS tu,
             1 + (doc_id // 3 + fi) % 12 AS tv
      FROM f
    )
    SELECT doc_id, CAST(fi AS INT) AS frame_idx, CAST(ts AS BIGINT) AS ts_ms,
           CAST(dur AS INT) AS duration_ms,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(CASE WHEN fi % 2 = 0 THEN 4 ELSE 3 END AS INT) AS n_channels,
           CAST(CASE WHEN fi % 2 = 0
             THEN w * h * (r + g + b + 255)
             ELSE w * h * ((128 + ((ty * q2dc + 3) // 8 + 4) // 8)
                         + (128 + (tu * quv + 4) // 8)
                         + (128 + (tv * quv + 4) // 8))
           END AS BIGINT) AS pixel_sum
    FROM c
    """,
    tags=("llm-multimodal",),
    doc="REAL animated-WebP frame walk (r6 — the container's last "
    "surface beside stills + EXIF): synthesize_webp_animation_payloads "
    "writes actual VP8X+ANIM+ANMF streams whose frames ALTERNATE "
    "codecs — solid-colour VP8L lossless stills and flat lossy-VP8 "
    "keyframes — and webp_animation_frames walks the ANMF chain, "
    "accumulates durations into timestamps (the GIF GCE convention) "
    "and decodes EVERY frame through the libwebp-validated still "
    "decoders (VP8L → RGBA, VP8 → YUV444-replicated). The oracle "
    "rebuilds per-frame sums closed-form, including the cyclic-"
    "duration prefix sum and the per-codec channel counts.",
)
def multimodal_webp_animation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 240)
    media = multimodal.synthesize_webp_animation_payloads(d, id_col="doc_id")
    return multimodal.webp_animation_frames(media)
