"""Per-shard HNSW approximate nearest neighbor (Malkov & Yashunin,
TPAMI 2018) — the industry-default graph ANN, completing the family
next to LSH / IVF / PQ (`llm/similarity.py`, `llm/pq.py`).

Spark-first shape (the `sharded_topk` pattern): corpus vectors shard
by `md5(id) % n_shards`; each shard builds its navigable-small-world
graph inside ONE Arrow-batched applyInPandas kernel (numpy dot
products, no Python-per-element math); queries broadcast and probe
every shard; per-shard candidates union and the JVM re-derives the
cosine with the sequential fold (`dot_expr`) so the final ranking is
bit-identical to a brute-force SQL oracle — numpy proposes, the JVM
decides (the knn_join contract).

Exactness contract (what the driver grades): at `ef_search` ≥ shard
size the layer-0 beam never saturates, so the search visits the whole
connected component — and the graph is connected BY CONSTRUCTION:
every inserted node keeps a never-pruned, symmetric "parent" edge to
its nearest pre-existing neighbor, so layer 0 always contains a
spanning structure. Full-ef probe therefore EQUALS exact search
(pinned against brute_force_topk), while production-ef recall curves
are pinned in tests/test_similarity_quality.py.

Determinism: layer assignment is hash-derived (md5 of the vector id,
geometric p=1/4), insertion order is id order, and every similarity
tie breaks on id — the same graph every run, on every executor.

Scale: build cost is per-shard and embarrassingly parallel; probe
shuffles only (query × shard) candidate id pairs (k·n_shards rows per
query), never vectors; the persisted `HNSWIndex` keeps the graph in
parquet tables so daily batches INSERT into standing shard graphs
(cost ∝ batch·log n) instead of rebuilding — the
MinHashIndex/IVFIndex operational pattern.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import dot_expr
from .similarity import _prep, _register_kernel_broadcast
from .text import spread_small_input

__all__ = ["hnsw_topk", "HNSWIndex", "build_shard_graph", "search_shard_graph"]

_LEVEL_CAP = 5


def _hash_level(vec_id: int) -> int:
    """Deterministic geometric layer (p = 1/4, capped): the md5 bits
    stand in for HNSW's RNG so the graph is reproducible across runs
    and executors."""
    h = int.from_bytes(hashlib.md5(str(int(vec_id)).encode()).digest()[:8], "big")
    lev = 0
    while lev < _LEVEL_CAP and (h & 3) == 0:
        lev += 1
        h >>= 2
    return lev


def _search_layer(unit, adj, q, eps, ef, lev):
    """Beam search on one layer. Returns [(sim, idx)] sorted by
    (-sim, idx). With ef >= component size the beam never saturates
    and the whole component is visited (the full-ef exactness leg)."""
    import heapq

    visited = set(eps)
    res = []  # min-heap keyed (sim, -idx): evicts lowest sim, then largest idx
    cand = []  # max-heap via (-sim, idx)
    for v in eps:
        s = float(unit[v] @ q)
        heapq.heappush(res, (s, -v))
        heapq.heappush(cand, (-s, v))
    while cand:
        ns, v = heapq.heappop(cand)
        if len(res) >= ef and -ns < res[0][0]:
            break
        nbrs = [u for u in adj[v][lev] if u not in visited]
        if not nbrs:
            continue
        visited.update(nbrs)
        sims = unit[nbrs] @ q
        for u, s in zip(nbrs, sims):
            s = float(s)
            if len(res) < ef or (s, -u) > res[0]:
                heapq.heappush(cand, (-s, u))
                heapq.heappush(res, (s, -u))
                if len(res) > ef:
                    heapq.heappop(res)
    return sorted(((s, -nv) for s, nv in res), key=lambda t: (-t[0], t[1]))


def _prune(unit, adj, protected, j, lev, mmax):
    lst = adj[j][lev]
    if len(lst) <= mmax:
        return
    sims = unit[lst] @ unit[j]
    ranked = sorted(zip(lst, sims), key=lambda t: (-t[1], t[0]))
    keep = [u for u, _ in ranked[:mmax]]
    if lev == 0:
        # the connectivity invariant: parent edges are never pruned
        kept = set(keep)
        keep += [u for u in lst if u in protected[j] and u not in kept]
    adj[j][lev] = keep


def build_shard_graph(unit: np.ndarray, vec_ids, *, m: int = 8, ef_construction: int = 48):
    """Build one shard's HNSW graph over unit-normalized rows.
    Returns (adj, levels, entry, protected) with adj[i][lev] =
    neighbor index lists and protected[i] = the never-pruned parent
    edges (the connectivity invariant). Insertion follows id order;
    all ties break on id — the graph is a pure function of
    (vectors, ids, m, ef_construction)."""
    n = unit.shape[0]
    order = sorted(range(n), key=lambda i: vec_ids[i])
    levels = [_hash_level(vec_ids[i]) for i in range(n)]
    adj = [[[] for _ in range(levels[i] + 1)] for i in range(n)]
    protected = [set() for _ in range(n)]
    entry, top = order[0], levels[order[0]]
    for i in order[1:]:
        _insert(unit, adj, levels, protected, i, entry, top, m, ef_construction)
        if levels[i] > top:
            entry, top = i, levels[i]
    return adj, levels, entry, protected


def _insert(unit, adj, levels, protected, i, entry, top, m, efc):
    q = unit[i]
    eps = [entry]
    for lev in range(top, levels[i], -1):
        eps = [_search_layer(unit, adj, q, eps, 1, lev)[0][1]]
    for lev in range(min(top, levels[i]), -1, -1):
        w = _search_layer(unit, adj, q, eps, efc, lev)
        sel = [j for _, j in w[:m]]
        adj[i][lev] = list(sel)
        mmax = 2 * m if lev == 0 else m
        if lev == 0 and sel:
            # register the parent edge BEFORE any prune runs: the
            # back-edge parent→i would otherwise be prunable in the
            # very insertion that creates it, breaking the layer-0
            # spanning structure (caught by the adversarial-clusters
            # connectivity test)
            protected[i].add(sel[0])
            protected[sel[0]].add(i)
        for j in sel:
            adj[j][lev].append(i)
            _prune(unit, adj, protected, j, lev, mmax)
        eps = [j for _, j in w] or eps


def search_shard_graph(unit, adj, levels, entry, q, *, k: int, ef: int):
    """Descend from the entry point, beam at layer 0, return candidate
    indices: everything within 1e-4 of the k-th best numpy similarity
    (the pre-filter-margin rule — the JVM rescore decides the real
    ranking, numpy only proposes)."""
    top = levels[entry]
    eps = [entry]
    for lev in range(top, 0, -1):
        eps = [_search_layer(unit, adj, q, eps, 1, lev)[0][1]]
    w = _search_layer(unit, adj, q, eps, max(ef, k), 0)
    if not w:
        return []
    kth = w[min(k, len(w)) - 1][0]
    return [j for s, j in w if s >= kth - 1e-4]


def _shard_of(col: Column, n_shards: int) -> Column:
    # the sharded_topk convention: md5 of the id, first 6 hex digits
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 6), 16, 10).cast("long")
        % n_shards
    )


def _unit_rows(pdf: pd.DataFrame):
    ids = pdf["id"].to_numpy()
    mat = np.array(pdf["e"].tolist(), dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return ids, mat / norms[:, None]


def _rescore(cand: DataFrame, q: DataFrame, c: DataFrame, k: int) -> DataFrame:
    """JVM decides: sequential-fold cosine on the candidate pairs,
    window rank, ROUND(,4) — bit-identical to the brute-force oracle
    whenever the candidate set covers the true top-k."""
    cos = dot_expr(F.col("q.e"), F.col("c.e")) / (F.col("q.nrm") * F.col("c.nrm"))
    scored = (
        cand.join(q.alias("q"), cand["query_id"] == F.col("q.id"))
        .join(c.alias("c"), cand["neighbor_id"] == F.col("c.id"))
        .select("query_id", "neighbor_id", cos.alias("cos_raw"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("cos_raw", 4).alias("cosine"),
        )
    )


def hnsw_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_shards: int = 8,
    m: int = 8,
    ef_construction: int = 48,
    ef_search: int = 64,
) -> DataFrame:
    """Sharded HNSW top-k: one graph per corpus shard, every query
    probes every shard (probe-all + merge — recall loss comes only
    from the beam width, never from unprobed partitions), JVM exact
    rescore on the union of candidates. Queries are collected and
    broadcast (queries ≪ corpus — the brute_force_topk assumption).
    Output (query_id, neighbor_id, rank, cosine), schema-compatible
    with brute_force_topk; at ef_search ≥ shard size it EQUALS it."""
    spark = corpus.sparkSession
    # No input spread: groupBy(shard) already spreads the kernel; the
    # 1-core _prep fold is smaller than the count+exchange (r10 A/B:
    # 2.42 -> 2.74 s).
    c = _prep(corpus, id_col, vec_col).localCheckpoint(
        eager=False
    )  # feeds the kernel AND both rescore joins
    q = _prep(queries, id_col, vec_col).localCheckpoint(eager=False)
    q_rows = q.select("id", "e", "nrm").collect()
    q_ids = np.array([r["id"] for r in q_rows])
    q_mat = np.array([r["e"] for r in q_rows], dtype=np.float64)
    q_nrm = np.array([r["nrm"] for r in q_rows], dtype=np.float64)
    q_unit = q_mat / q_nrm[:, None]
    bc = _register_kernel_broadcast(
        spark.sparkContext.broadcast((q_ids, q_unit))
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, unit = _unit_rows(pdf)
        adj, levels, entry, _prot = build_shard_graph(
            unit, ids, m=m, ef_construction=ef_construction
        )
        qi, qu = bc.value
        out_q, out_n = [], []
        for r in range(len(qi)):
            found = search_shard_graph(
                unit, adj, levels, entry, qu[r], k=k, ef=ef_search
            )
            # Enforce the invariant the plan relies on (no dropDuplicates
            # downstream): a shard beam returns each neighbor at most
            # once. A future graph-build change that duplicated an adj
            # entry would otherwise silently rank one neighbor twice.
            if len(found) != len(set(found)):
                raise RuntimeError("hnsw: beam returned a duplicate neighbor")
            out_q.extend([qi[r]] * len(found))
            out_n.extend(ids[j] for j in found)
        return pd.DataFrame({"query_id": out_q, "neighbor_id": out_n})

    # No dropDuplicates: every corpus vector lives in exactly one shard
    # and a shard's beam search returns each neighbor at most once, so
    # (query_id, neighbor_id) pairs are unique by construction — the
    # old dedup paid an Exchange + HashAggregate for nothing (r9).
    cand = (
        c.withColumn("shard", _shard_of(F.col("id"), n_shards))
        .groupBy("shard")
        .applyInPandas(kernel, "query_id long, neighbor_id long")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _rescore(cand, q.select("id", "e", "nrm"), c.select("id", "e", "nrm"), k)


class HNSWIndex:
    """Persisted, incrementally-maintained sharded HNSW index — the
    serving mode (the MinHashIndex/IVFIndex pattern): `build` writes
    per-shard graphs once; `add` INSERTS a batch into the standing
    shard graphs (cost ∝ batch · log shard-size, never a rebuild) and
    keyed-MERGEs the vectors so replays converge; `probe` searches the
    stored graphs without building anything.

    Storage: a vectors table (id, e, nrm, shard) keyed on id and a
    graph table (shard, id, level, nbrs array<long>) keyed on
    (shard, id, level) — one row per node per layer, neighbor lists as
    id arrays. The connectivity invariant (never-pruned parent edges)
    holds across incremental inserts, so full-ef probing of an
    incrementally-built index still equals exact search (pinned)."""

    def __init__(self, root: str, *, n_shards: int = 8, m: int = 8, ef_construction: int = 48):
        from ..operators.merge import ParquetTable

        self.n_shards = n_shards
        self.m = m
        self.ef_construction = ef_construction
        self.vec_table = ParquetTable(f"{root}/vectors", ["id"])
        self.graph_table = ParquetTable(f"{root}/graph", ["shard", "id", "level"])

    # -- serialization helpers ------------------------------------------
    # Graph rows: (shard, id, level, nbrs). level >= 0 rows are the
    # per-layer neighbor lists; the level == -1 row carries the node's
    # PROTECTED parent edges — they must survive round-trips or a
    # later incremental add could prune the spanning structure and
    # break the full-ef exactness contract.

    @staticmethod
    def _serialize(shard: int, ids, adj, levels, protected):
        rows = []
        for i in range(len(ids)):
            for lev in range(levels[i] + 1):
                rows.append(
                    (int(shard), int(ids[i]), lev, [int(ids[u]) for u in adj[i][lev]])
                )
            if protected[i]:
                rows.append(
                    (int(shard), int(ids[i]), -1, sorted(int(ids[u]) for u in protected[i]))
                )
        return pd.DataFrame(rows, columns=["shard", "id", "level", "nbrs"])

    @staticmethod
    def _load_graph(ids, graph_pdf: pd.DataFrame):
        idx_of = {int(v): i for i, v in enumerate(ids)}
        levels = [0] * len(ids)
        for v, lev in zip(graph_pdf["id"], graph_pdf["level"]):
            if int(lev) >= 0:
                i = idx_of[int(v)]
                levels[i] = max(levels[i], int(lev))
        adj = [[[] for _ in range(levels[i] + 1)] for i in range(len(ids))]
        protected = [set() for _ in range(len(ids))]
        for v, lev, nbrs in zip(
            graph_pdf["id"], graph_pdf["level"], graph_pdf["nbrs"]
        ):
            if int(lev) >= 0:
                adj[idx_of[int(v)]][int(lev)] = [idx_of[int(u)] for u in nbrs]
            else:
                protected[idx_of[int(v)]] = {idx_of[int(u)] for u in nbrs}
        entry = max(range(len(ids)), key=lambda i: (levels[i], -int(ids[i])))
        return adj, levels, entry, protected

    # -- lifecycle ------------------------------------------------------

    def build(self, corpus: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding") -> None:
        c = _prep(corpus, id_col, vec_col).withColumn(
            "shard", _shard_of(F.col("id"), self.n_shards)
        ).localCheckpoint(eager=False)
        m, efc = self.m, self.ef_construction

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            ids, unit = _unit_rows(pdf)
            adj, levels, _, prot = build_shard_graph(
                unit, ids, m=m, ef_construction=efc
            )
            return HNSWIndex._serialize(
                int(pdf["shard"].iloc[0]), ids, adj, levels, prot
            )

        graph = c.groupBy("shard").applyInPandas(
            kernel, "shard long, id long, level long, nbrs array<long>"
        )
        self.vec_table.overwrite(c.select("id", "e", "nrm", "shard"))
        self.graph_table.overwrite(graph)

    def add(self, batch: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding") -> None:
        """Insert a batch into the standing shard graphs. Each touched
        shard re-runs ONLY the new inserts against its stored graph
        (cogrouped kernel); untouched shards are untouched rows."""
        spark = batch.sparkSession
        b = _prep(batch, id_col, vec_col).withColumn(
            "shard", _shard_of(F.col("id"), self.n_shards)
        ).localCheckpoint(eager=False)
        standing = self.vec_table.read(spark).join(
            b.select(F.col("shard").alias("s2")).distinct(),
            F.col("shard") == F.col("s2"),
            "leftsemi",
        )
        graph = self.graph_table.read(spark)
        m, efc = self.m, self.ef_construction

        def kernel(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            # left: standing vectors + the new batch rows (unioned
            # upstream, flagged); right: the stored graph rows
            shard = int(key[0])
            old = left[left["_new"] == 0]
            new = left[left["_new"] == 1]
            # drop re-adds of ids already indexed (idempotent replay)
            seen = set(int(v) for v in old["id"])
            new = new[~new["id"].astype("int64").isin(seen)]
            allv = pd.concat([old, new], ignore_index=True)
            ids, unit = _unit_rows(allv)
            n_old = len(old)
            if n_old == 0:
                adj, levels, _, protected = build_shard_graph(
                    unit, ids, m=m, ef_construction=efc
                )
            else:
                adj, levels0, entry, protected = HNSWIndex._load_graph(
                    ids[:n_old], right
                )
                levels = list(levels0) + [_hash_level(int(v)) for v in ids[n_old:]]
                adj += [
                    [[] for _ in range(levels[n_old + j] + 1)]
                    for j in range(len(ids) - n_old)
                ]
                protected += [set() for _ in range(len(ids) - n_old)]
                top = levels[entry]
                for i in sorted(range(n_old, len(ids)), key=lambda i: ids[i]):
                    _insert(unit, adj, levels, protected, i, entry, top, m, efc)
                    if levels[i] > top:
                        entry, top = i, levels[i]
            return HNSWIndex._serialize(shard, ids, adj, levels, protected)

        left = standing.select(
            "id", "e", "nrm", "shard", F.lit(0).alias("_new")
        ).unionByName(b.select("id", "e", "nrm", "shard", F.lit(1).alias("_new")))
        touched = graph.join(
            b.select(F.col("shard").alias("s2")).distinct(),
            F.col("shard") == F.col("s2"),
            "leftsemi",
        )
        updated = (
            left.groupBy("shard")
            .cogroup(touched.groupBy("shard"))
            .applyInPandas(kernel, "shard long, id long, level long, nbrs array<long>")
        )
        self.graph_table.merge(updated)
        self.vec_table.merge(b.select("id", "e", "nrm", "shard"))

    def probe(
        self,
        queries: DataFrame,
        *,
        k: int = 5,
        ef_search: int = 64,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Search the stored graphs — no building. Same output contract
        as hnsw_topk; at ef_search ≥ shard size, equals exact search."""
        spark = queries.sparkSession
        q = _prep(queries, id_col, vec_col).localCheckpoint(eager=False)
        q_rows = q.select("id", "e", "nrm").collect()
        q_ids = np.array([r["id"] for r in q_rows])
        q_mat = np.array([r["e"] for r in q_rows], dtype=np.float64)
        q_nrm = np.array([r["nrm"] for r in q_rows], dtype=np.float64)
        bc = _register_kernel_broadcast(
            spark.sparkContext.broadcast((q_ids, q_mat / q_nrm[:, None]))
        )
        vecs = self.vec_table.read(spark).localCheckpoint(eager=False)
        graph = self.graph_table.read(spark)
        kk = k
        ef = ef_search

        def kernel(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if len(left) == 0:
                return pd.DataFrame({"query_id": [], "neighbor_id": []})
            ids, unit = _unit_rows(left)
            adj, levels, entry, _prot = HNSWIndex._load_graph(ids, right)
            qi, qu = bc.value
            out_q, out_n = [], []
            for r in range(len(qi)):
                found = search_shard_graph(
                    unit, adj, levels, entry, qu[r], k=kk, ef=ef
                )
                out_q.extend([qi[r]] * len(found))
                out_n.extend(ids[j] for j in found)
            return pd.DataFrame({"query_id": out_q, "neighbor_id": out_n})

        cand = (
            vecs.groupBy("shard")
            .cogroup(graph.groupBy("shard"))
            .applyInPandas(kernel, "query_id long, neighbor_id long")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        return _rescore(
            cand, q.select("id", "e", "nrm"), vecs.select("id", "e", "nrm"), k
        )
