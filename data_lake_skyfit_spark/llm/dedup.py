"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine — the training-data pipeline's dedup toolbox
(SURVEY.md §7.5 north-star extension).

Scale design (100 TB):
- exact dedup shuffles an 8-byte xxhash64 fingerprint, not documents;
- MinHash-LSH is the scale path for near-dup: candidates come from
  band-bucket equi-joins (shuffle ∝ n·bands), never an n² cross join;
- the brute-force Jaccard pairer exists as the small-data oracle of
  record and for verification joins;
- everything is built-in higher-order functions / joins — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import fingerprint64
from .text import shingles_expr, spread_small_input, tokens_expr

__all__ = [
    "exact_duplicates",
    "exact_dedup",
    "line_level_dedup",
    "sentence_level_dedup",
    "duplicate_span_removal",
    "jaccard_pairs_bruteforce",
    "minhash_signature_expr",
    "minhash_lsh_pairs",
    "MinHashIndex",
    "connected_components",
    "apply_near_dup_removal",
    "simhash_bits",
    "embedding_cosine_pairs",
    "semantic_dedup",
    "hamming_neardup_pairs",
    "HammingIndex",
    "containment_pairs",
]


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (content_hash, canonical_id,
    n_copies). Only the fingerprint and id shuffle."""
    return (
        df.select(F.col(id_col), fingerprint64(text_col).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct content (lowest id wins)."""
    keep = (
        df.select(F.col(id_col).alias("__id"), fingerprint64(text_col).alias("__h"))
        .groupBy("__h")
        .agg(F.min("__id").alias(id_col))
        .drop("__h")
    )
    return df.join(keep, id_col, "left_semi")


def line_level_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_chars: int = 10,
) -> DataFrame:
    """CORPUS-WIDE line-level deduplication (the C4/RefinedWeb cleanup
    tier, r4): every line of `min_line_chars`+ characters may appear
    ONCE in the whole corpus — the first occurrence (lowest (id, pos))
    survives, later copies are dropped from their documents, and each
    document's text is rebuilt from its surviving lines. Shorter lines
    (headings, blanks, separators) are structural, not content, and are
    always kept.

    Returns (id, text, n_lines, n_kept, n_dropped).

    Plan: posexplode lines → 8-byte xxhash64 winner aggregation
    (F.min(struct(id, pos)) — map-side combinable, so a line repeated
    millions of times never concentrates rows on one task the way a
    rank-1 window would) → hash join back → one regroup by id with an
    array_sort rebuild. Only the hash + (id, pos) cross the first
    shuffle, never line text. Same 64-bit-fingerprint identity
    convention as exact_dedup (oracles compare by full text).
    """
    return _unit_level_dedup(
        df,
        F.split(F.col(text_col), "\n"),
        "\n",
        text_col=text_col,
        id_col=id_col,
        min_unit_chars=min_line_chars,
        count_alias="n_lines",
    )


def sentence_level_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_sentence_chars: int = 10,
) -> DataFrame:
    """CORPUS-WIDE sentence-level deduplication (r4c — completes the
    granularity family: document / line / SENTENCE / span): every
    sentence of `min_sentence_chars`+ characters may appear once in
    the corpus; first (id, pos) wins, later copies drop, documents
    rebuild from surviving sentences joined by single spaces. The
    boilerplate-sentence cleanup ("All rights reserved.") that line
    dedup misses when boilerplate shares a line with content.

    Same plan as line_level_dedup (min-struct winner over an 8-byte
    hash — map-side combinable, no rank window, no text over the first
    shuffle). Note: a document segmenting to ZERO sentences (empty
    text) drops from the output — posexplode of an empty array — where
    line dedup keeps one empty line; callers keeping empty docs should
    left-join this result back.

    Returns (id, text, n_sentences, n_kept, n_dropped).
    """
    from .text import sentences_expr

    return _unit_level_dedup(
        df,
        sentences_expr(text_col),
        " ",
        text_col=text_col,
        id_col=id_col,
        min_unit_chars=min_sentence_chars,
        count_alias="n_sentences",
    )


def _unit_level_dedup(
    df: DataFrame,
    units,
    joiner: str,
    *,
    text_col: str,
    id_col: str,
    min_unit_chars: int,
    count_alias: str,
) -> DataFrame:
    """Shared corpus-wide keep-first unit dedup behind
    line_level_dedup / sentence_level_dedup: posexplode `units` →
    8-byte xxhash64 winner min-struct → hash join back → one regroup
    with an array_sort rebuild. Units shorter than `min_unit_chars`
    are structural and always kept."""
    lines = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.posexplode(units).alias("pos", "line"),
    )
    content = F.length("line") >= min_unit_chars
    keyed = lines.withColumn("__h", F.when(content, F.xxhash64("line")))
    winners = (
        keyed.filter(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.min(F.struct("id", "pos")).alias("__w"))
    )
    kept = keyed.join(winners, "__h", "left").withColumn(
        "__keep",
        F.col("__h").isNull()
        | ((F.col("__w.id") == F.col("id")) & (F.col("__w.pos") == F.col("pos"))),
    )
    surviving = F.array_sort(
        F.collect_list(F.when(F.col("__keep"), F.struct("pos", "line")))
    )
    return kept.groupBy("id").agg(
        F.concat_ws(
            joiner, F.transform(surviving, lambda s: s["line"])
        ).alias(text_col),
        F.count(F.lit(1)).alias(count_alias),
        F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("__keep")).cast("long")).alias("n_dropped"),
    )


def duplicate_span_removal(
    df: DataFrame,
    *,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT-SUBSTRING deduplication at k-token granularity (the Lee et
    al. 2021 'Deduplicating Training Data Makes Language Models Better'
    tier, r4 — distributed as the positional k-gram form rather than a
    single-node suffix array): any k-token span occurring more than
    once corpus-wide keeps only its FIRST occurrence (lowest
    (id, start)); every other occurrence's k token positions are cut
    and the document re-joins its surviving tokens with single spaces
    (span removal necessarily re-tokenizes — mirrored in oracles).

    Returns (id, text, n_tokens, n_kept, n_removed).

    Plan: positional k-grams stay a let-bound JVM expression per doc;
    only (8-byte gram hash, id, start) cross the shuffle. Winner + count
    per gram is one map-side-combinable aggregation (min-struct +
    count), marked spans explode into at most k·marks covered positions
    (sparse — proportional to DUPLICATED text, not corpus), and
    survivors are a left-anti join on (id, pos). Completes the dedup
    granularity family: document (exact/MinHash/SimHash), line
    (line_level_dedup), span (this).
    """
    # ngrams_expr is the positional (non-distinct, order-preserving)
    # k-gram builder this operator needs — shared with the repetition
    # metrics, not re-implemented here (code-review r4). Lazy import:
    # curation imports dedup lazily inside curate_corpus, this mirrors.
    from .curation import ngrams_expr

    # base feeds three tokenize passes (toks/grams/totals) — spread the
    # one-split scan so they run in parallel (no-op at real scale).
    base = spread_small_input(df, id_col).select(
        F.col(id_col).cast("long").alias("id"), F.col(text_col)
    )
    toks = base.select(
        "id", F.posexplode(tokens_expr(text_col)).alias("pos", "tok")
    )
    g = base.select(
        "id", F.posexplode(ngrams_expr(text_col, k)).alias("start", "gram")
    ).select("id", "start", F.xxhash64("gram").alias("__gh"))
    g = g.localCheckpoint(eager=False)  # stats build + marks join
    stats = g.groupBy("__gh").agg(
        F.min(F.struct("id", "start")).alias("__w"), F.count(F.lit(1)).alias("__n")
    )
    marks = (
        g.join(stats, "__gh")
        .filter(
            (F.col("__n") > 1)
            & ~((F.col("__w.id") == F.col("id")) & (F.col("__w.start") == F.col("start")))
        )
        .select("id", "start")
    )
    covered = marks.select(
        "id",
        F.explode(F.sequence(F.col("start"), F.col("start") + F.lit(k - 1))).alias(
            "pos"
        ),
    ).distinct()
    survivors = toks.join(covered, ["id", "pos"], "left_anti")
    # totals come from `base`, zero-shuffle AND keeping token-less docs
    # in the output (an exploded frame would drop them entirely)
    totals = base.select(
        "id", F.size(tokens_expr(text_col)).cast("long").alias("n_tokens")
    )
    rebuilt = survivors.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_kept"),
    )
    n_kept = F.coalesce("n_kept", F.lit(0))
    return totals.join(rebuilt, "id", "left").select(
        "id",
        F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        "n_tokens",
        n_kept.alias("n_kept"),
        (F.col("n_tokens") - n_kept).alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (brute force — the correctness oracle / verifier)
# ---------------------------------------------------------------------------


def _with_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    return df.select(F.col(id_col).alias("id"), shingles_expr(text_col, n).alias("sh"))


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter / union


def jaccard_pairs_bruteforce(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """ALL pairs with n-gram-set Jaccard ≥ threshold — exact, but NOT a
    cross join. Inverted-index plan: explode shingles, equi-join docs on
    shingle, count shared shingles = |A∩B|, then
    J = inter / (|A| + |B| − inter).

    Pairs sharing zero shingles never materialize (their J = 0 <
    threshold), so the result is identical to the O(n²) definition while
    the shuffle is ∝ corpus shingle count and the pair work ∝ actually-
    overlapping pairs. A size-ratio guard (J ≤ min/max) prunes pairs
    that cannot reach the threshold before the expensive count.

    Skew control — PREFIX FILTERING (SSJoin/AllPairs): a handful of hot
    boilerplate shingles ("terms of service", markdown headers) would
    otherwise dominate the inverted-index join (one bucket holding a
    large fraction of the corpus → one straggler task doing ~n² work).
    Under a global frequency order (rarest first), a pair with
    J ≥ t MUST share a shingle inside each side's first
    ⌊(1−t)·|d|⌋ + 1 rarest shingles, so candidate generation indexes
    ONLY those prefixes — hot shingles sort last and drop out of the
    index entirely — and verification computes exact Jaccard on the
    full shingle sets. Lossless by construction, and the hottest
    bucket's fan-in is bounded by how many docs share a RARE shingle.
    """
    # No input spread here: jaccard's callers hand it DERIVED frames
    # (dedup_audio_envelope's envelope aggregate) where the partition
    # probe + count re-execute the whole upstream chain (r10 A/B:
    # 1.86 -> 3.75 s), and the scan-rooted caller measured flat
    # (dedup_ngram_jaccard 2.20 vs 2.21 s).
    s = (
        _with_shingles(df, text_col, id_col, n)
        .withColumn("sz", F.size("sh"))
        .filter(F.col("sz") > 0)
        .localCheckpoint(eager=False)  # feeds index build + verification
    )
    ex = s.select("id", "sz", F.explode("sh").alias("g"))
    # Global shingle document-frequency (one small agg) → per-doc rank
    # by (freq asc, shingle asc) → keep the prefix.
    freq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("g").asc())
    # Prefix length ⌊(1−t)·sz⌋ + 1 with an epsilon nudge: (1−t)·sz in
    # floats lands just BELOW the exact integer whenever t·sz is whole
    # (e.g. 5·(1−0.8) = 0.99999…), and flooring that would shorten the
    # prefix by one — turning the lossless filter into one that drops
    # true J ≥ t pairs. The +1e-9 can only lengthen a prefix (safe),
    # never shorten it.
    # prefix feeds BOTH sides of the candidate self-join and the static
    # plan prints the lineage twice — but do NOT checkpoint it: AQE
    # reuses the identical shuffle stage at runtime (the heavy
    # explode→freq→window map work runs once), so a checkpoint only
    # adds a materialization barrier. Measured r9 (same-session
    # interleaved A/B at sf0.1): no-checkpoint 6.6 s vs checkpoint
    # 8.3 s min-of-3.
    prefix = (
        ex.join(freq, "g")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.floor(F.col("sz") * (1 - threshold) + 1e-9) + 1)
        .select("id", "sz", "g")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    guard = F.least(F.col("a.sz"), F.col("b.sz")) >= (
        F.greatest(F.col("a.sz"), F.col("b.sz")) * (threshold * 0.999)
    )
    candidates = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")) & guard)
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    # Exact verification on FULL shingle sets (prefix only gated
    # candidate generation, never the similarity itself).
    return _verify_pairs(candidates, s.select("id", "sh"), threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path)
# ---------------------------------------------------------------------------


def minhash_signature_expr(shingles: Column, num_perm: int = 128) -> Column:
    """num_perm-wide MinHash signature: sig[i] = min over shingles of
    xxhash64(i, shingle). Deterministic, JVM-native, no Python.

    NOTE: interpreted higher-order evaluation — fine for ad-hoc use on
    modest rows; the pipeline path (minhash_signatures) computes the
    same signature through a codegen'd explode + 128-column min agg.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        lambda i: F.array_min(F.transform(shingles, lambda s: F.xxhash64(i, s))),
    )


def _shingle_frame(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Checkpointed (id, sh) non-empty shingle sets. Shingling is the
    expensive leaf and every downstream consumer (signature agg, band
    explode, candidate verification) re-reads it — lazily checkpoint so
    it computes once per run. In a persistent pipeline this frame would
    be a materialized signatures table. The input spread keeps the
    shingle+signature map side off a single core when the corpus scan
    is one split (no-op at real scale)."""
    return (
        _with_shingles(spread_small_input(df, id_col), text_col, id_col, n)
        .filter(F.size("sh") > 0)
        .localCheckpoint(eager=False)
    )


def _signatures_of(s: DataFrame, num_perm: int) -> DataFrame:
    """(id, sig) MinHash signatures of a shingle frame via explode + one
    aggregation with num_perm min() columns — whole-stage codegen end to
    end, with map-side partial aggregation (one row per doc crosses the
    shuffle). Bit-identical to minhash_signature_expr."""
    ex = s.select("id", F.explode("sh").alias("g"))
    # One F.expr string per column instead of min(xxhash64(lit, col))
    # through the Column API: every pyspark call is a py4j round trip,
    # and the API shape cost ~0.8-1.5 s of pure build time per query vs
    # ~0.2-0.3 s for the parsed strings (r9 same-session A/B; results
    # verified bit-identical — SQL int literals hash exactly like
    # F.lit(i), both seed-42 xxhash64).
    mins = ex.groupBy("id").agg(
        F.expr("min(xxhash64(0, g)) AS m0"),
        *[F.expr(f"min(xxhash64({i}, g)) AS m{i}") for i in range(1, num_perm)],
    )
    return mins.select("id", F.array(*[f"m{i}" for i in range(num_perm)]).alias("sig"))


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 128,
) -> DataFrame:
    """(id, sh, sig): MinHash signatures joined back onto the shingle
    sets — the persisted-index shape (MinHashIndex materializes this).
    The one-shot pair path (minhash_lsh_pairs) keeps the two frames
    separate instead: joining sh back onto sig costs an exchange and
    doubles the checkpointed shingle bytes for nothing the pair
    pipeline needs (r9 optimization)."""
    s = _shingle_frame(df, text_col, id_col, n)
    return s.join(_signatures_of(s, num_perm), "id")


def _band_entries(sig: DataFrame, *, bands: int, rows: int) -> DataFrame:
    """(id, band, bucket) LSH entries from a signatures frame — the
    shingle arrays do NOT ride through the bands× explode and the
    bucket shuffle; they are re-joined just for surviving candidates."""
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(b, F.slice("sig", b * rows + 1, rows)).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _verify_pairs(candidates: DataFrame, shingles: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate (a_id, b_id) pairs
    against full shingle sets."""
    shs = shingles.select("id", "sh")
    verified = (
        candidates.join(shs.withColumnRenamed("id", "a_id").withColumnRenamed("sh", "a_sh"), "a_id")
        .join(shs.withColumnRenamed("id", "b_id").withColumnRenamed("sh", "b_sh"), "b_id")
    )
    j = _jaccard(F.col("a_sh"), F.col("b_sh"))
    return (
        verified.select("a_id", "b_id", F.round(j, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding.

    Pipeline: shingle → signature → split into `bands` bands of
    num_perm/bands rows → hash each band → equi-join docs sharing a
    (band, hash) bucket → verify candidates with exact Jaccard ≥
    threshold. Candidate generation is a shuffle on band hashes
    (linear in corpus size); only candidate pairs — a vanishing
    fraction at scale — pay the exact-verification cost.
    """
    rows = num_perm // bands
    # Two checkpointed frames instead of one joined one (r9
    # optimization): the shingle frame feeds the signature agg and both
    # verification joins; the narrow (id, sig) frame feeds the band
    # self-join twice. Keeping them separate removes the sig⨝shingles
    # exchange+join the old shape paid and stops the shingle arrays
    # being checkpointed twice (once in s, once inside the joined sig).
    s = _shingle_frame(df, text_col, id_col, n)
    sig = _signatures_of(s, num_perm).localCheckpoint(eager=False)

    band_entries = _band_entries(sig, bands=bands, rows=rows)
    a = band_entries.alias("a")
    b = band_entries.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    return _verify_pairs(candidates, s, threshold)


class MinHashIndex:
    """Persisted, incrementally-maintained MinHash-LSH dedup index —
    the 100 TB operating mode: a production corpus is not re-LSH'd per
    batch; new documents compute THEIR signatures (cost ∝ batch), probe
    the standing band-bucket index for collisions with the existing
    corpus (shuffle ∝ batch·bands + matching buckets), and merge into
    the index idempotently (keyed MERGE, so replays converge).

    Storage: a signatures table (id, sh, sig) and a band-entries table
    (id, band, bucket) — both ParquetTable-backed keyed upserts, i.e.
    exactly the materialized tables the one-shot minhash_lsh_pairs
    docstring promises. `add()` returns the verified near-dup pairs
    that involve at least one new document (batch-internal pairs
    included), so a full build replayed batch-by-batch yields exactly
    the one-shot pair set.
    """

    def __init__(
        self,
        root: str,
        *,
        n: int = 3,
        num_perm: int = 128,
        bands: int = 32,
        threshold: float = 0.8,
    ):
        from ..operators.merge import ParquetTable

        self.n, self.num_perm, self.bands = n, num_perm, bands
        self.rows = num_perm // bands
        self.threshold = threshold
        self.sig_table = ParquetTable(f"{root}/signatures", ["id"])
        self.band_table = ParquetTable(f"{root}/bands", ["id", "band"])

    def add(self, docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
        spark = docs.sparkSession
        sig = minhash_signatures(
            docs, text_col=text_col, id_col=id_col, n=self.n, num_perm=self.num_perm
        ).localCheckpoint(eager=False)
        new_bands = _band_entries(sig, bands=self.bands, rows=self.rows).localCheckpoint(
            eager=False
        )

        if self.band_table.exists():
            existing = self.band_table.read(spark)
            old_sigs = self.sig_table.read(spark)
            probe = existing.unionByName(new_bands)
            # A replayed/updated doc id exists on BOTH sides; keep only
            # the new batch's shingles for it, or the verification joins
            # fan out into duplicated pair rows (and a stale shingle set
            # could win). anti-join = new-signature-wins.
            all_shingles = (
                old_sigs.select("id", "sh")
                .join(sig.select("id"), "id", "left_anti")
                .unionByName(sig.select("id", "sh"))
            )
        else:
            probe = new_bands
            all_shingles = sig.select("id", "sh")

        # New entries probe (existing ∪ new); ordering the pair as
        # (min, max) dedupes the two directions and batch-internal hits.
        a = new_bands.alias("a")
        b = probe.alias("b")
        candidates = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") != F.col("b.id")),
            )
            .select(
                F.least(F.col("a.id"), F.col("b.id")).alias("a_id"),
                F.greatest(F.col("a.id"), F.col("b.id")).alias("b_id"),
            )
            .dropDuplicates(["a_id", "b_id"])
        )
        pairs = _verify_pairs(candidates, all_shingles, self.threshold)
        # Materialize results BEFORE mutating the index: pairs' lineage
        # reads the pre-add tables.
        pairs = pairs.localCheckpoint(eager=True)

        self.sig_table.merge(sig)           # idempotent replays (I3)
        self.band_table.merge(new_bands)
        return pairs


def connected_components(
    pairs: DataFrame,
    *,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 20,
    jump_from: int = 3,
) -> DataFrame:
    """Resolve duplicate-pair edges into clusters: (id, cluster_id) with
    cluster_id = min node id of the connected component — the step that
    turns "these documents match" into "keep this one, drop those".

    Min-label propagation with adaptive pointer jumping: each round
    every node takes the smallest label among itself and its neighbors
    (one join + one min-aggregation); from round `jump_from` onward the
    round also compresses via l(v) <- min(l(v), l(l(v))) (one self-join
    on the label table). The jump halves the remaining label-chain
    length per round, so convergence is O(log diameter) instead of
    O(diameter) — a 10^6-doc chain of templated near-dup pairs resolves
    in ~25 rounds, not 10^6. Near-dup clusters are usually shallow
    (pairs/stars: done in 2-3 rounds), so the jump join is deferred
    until `jump_from`: the common case never pays for it, and only
    pathological chain-shaped corpora engage the logarithmic path.
    Each frontier is checkpointed so round k doesn't replay rounds
    1..k-1; the driver-side convergence check per round is a scalar
    agg, not a data collect.

    Pairs with a NULL endpoint are dropped by design: a NULL names no
    node, so such a pair is no edge, and neither endpoint gets a label
    from it (a non-null endpoint with no other pair is absent from the
    output, like any node without an edge).

    Raises RuntimeError if `max_iter` rounds pass without convergence:
    silently returning partial labels would split one true cluster into
    several, corrupting dedupe decisions.
    """
    # Drop NULL-endpoint pairs before the fused init: its null-skipping
    # F.least would otherwise hand a NULL endpoint label=min(t) (the r4c
    # least-vs-NULL trap) and put a NULL id into the output.
    edges = pairs.select(
        F.col(a_col).alias("s"), F.col(b_col).alias("t")
    ).filter(F.col("s").isNotNull() & F.col("t").isNotNull())
    sym = edges.unionByName(
        edges.select(F.col("t").alias("s"), F.col("s").alias("t"))
    ).localCheckpoint(eager=False)
    # Fused first round (r9): the node set AND round 1's propagation
    # l(v) = min(v, min over neighbors) come out of ONE aggregate over
    # the edge list — the old shape paid a distinct for the node set
    # plus a full join+agg round for the same result. Every node of the
    # pair graph has ≥1 edge, so groupBy(s) covers the node set.
    labels = (
        sym.groupBy("s")
        .agg(F.least(F.col("s"), F.min("t")).alias("label"))
        .select(F.col("s").alias("id"), "label")
    ).localCheckpoint(eager=False)

    from pyspark.sql import types as T

    integral_ids = isinstance(
        labels.schema["label"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    converged = False
    if integral_ids:
        # Seed the monotone-sum certificate from the fused round so the
        # loop's first iteration can already detect convergence (star
        # and pair clusters finish in one loop round).
        prev_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
    else:
        prev_sum = None
    for round_no in range(1, max_iter + 1):
        neighbor_min = (
            sym.join(labels, sym["t"] == labels["id"])
            .groupBy("s")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["s"], "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        if round_no >= jump_from:
            # Pointer jump: follow the label one hop (l(v) <- l(l(v))).
            # Labels always point inside the component (min semantics),
            # so the jump is safe and halves remaining chain length.
            propagated = new_labels
            parents = propagated.select(
                F.col("id").alias("pid"), F.col("label").alias("plabel")
            )
            new_labels = (
                propagated.join(parents, propagated["label"] == parents["pid"], "left")
                .select(
                    "id",
                    F.least(
                        F.col("label"), F.coalesce(F.col("plabel"), F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint(eager=False)
            )
        # Convergence certificate. For integral ids: labels only ever
        # DECREASE (min semantics), so sum(label) is strictly monotone —
        # unchanged sum iff no label moved; one cheap aggregate replaces
        # an old-vs-new join (decimal(38) keeps 10^6-scale ids
        # overflow-free). Non-numeric ids (string doc keys) would cast
        # to NULL and fake instant convergence, so they use the join.
        if integral_ids:
            label_sum = new_labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
            ).collect()[0]["s"]
            # prev_sum is seeded from the fused init round, so equality
            # is a valid fixpoint certificate from loop round 1 on
            # (labels only decrease; unchanged sum ⟺ no label moved).
            unchanged = label_sum == prev_sum
            prev_sum = label_sum
        else:
            unchanged = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
                == 0
            )
        labels = new_labels
        if unchanged:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds — a component's diameter exceeds the budget; raise max_iter "
            "(rounds cost one join+agg each) rather than trusting split clusters"
        )
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_bits(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", nbits: int = 64
) -> DataFrame:
    """64-bit SimHash as a bitstring column (doc_id, simhash).

    Token bit source: hex-digit parity of md5(token) ++ md5(token||'#')
    (64 hex chars → 64 bits) — chosen because it is reproducible in any
    engine with md5/substring (the DuckDB oracle uses the same
    construction), unlike engine-private hash functions. Weight = token
    multiplicity. bit_j = 1 iff Σ weight·(2·parity−1) ≥ 0.
    """
    toks = (
        spread_small_input(df, id_col)
        .select(F.col(id_col).alias("id"), F.explode(tokens_expr(text_col)).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    h = F.concat(F.md5(F.col("tok")), F.md5(F.concat(F.col("tok"), F.lit("#"))))
    # Split the hex string into a char array ONCE per row: substring(h, j, 1)
    # rescans the string from the start for every j (O(j) per call, O(nbits²)
    # per row across the nbits sum expressions), while element_at on the
    # pre-split array is O(1). Measured r9 (same-session noop A/B, sf0.1):
    # the 64-sum aggregation drops 2.9 s → 1.4 s.
    toks = toks.withColumn("ha", F.split(h, ""))
    # F.expr strings for the nbits sum columns (not the Column API):
    # same py4j-build rationale as _signatures_of — build drops
    # 1.3-1.6 s → 0.13-0.19 s (r9 A/B, results verified identical).
    sums = toks.groupBy("id").agg(
        *[
            F.expr(
                "sum(w * ((((instr('0123456789abcdef', element_at(ha, "
                f"{j})) - 1) % 2) * 2) - 1)) AS s{j}"
            )
            for j in range(1, nbits + 1)
        ]
    )
    bit = lambda j: F.when(F.col(f"s{j}") >= 0, F.lit("1")).otherwise(F.lit("0"))  # noqa: E731
    return sums.select(
        F.col("id").alias(id_col),
        F.concat(*[bit(j) for j in range(1, nbits + 1)]).alias("simhash"),
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


def _as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def block_pair_explode(df: DataFrame, num_blocks: int, *, carry: tuple[str, ...] = ()) -> DataFrame:
    """The shared blocking scheme of every distributed Gram-matrix
    operator here (embedding_cosine_pairs, semantic_dedup giant-cluster
    mode, similarity.knn_join): assign blk = pmod(xxhash64(id),
    num_blocks) and emit each row once per unordered partner-block pair
    (lo, hi), so one applyInPandas group holds exactly two blocks.
    Expects columns (id, e [, carry…]); adds (blk, lo, hi)."""
    cols = ["id", "e", *carry]
    return (
        df.withColumn("blk", F.pmod(F.xxhash64("id"), F.lit(num_blocks)))
        .select(
            *cols,
            "blk",
            F.explode(F.sequence(F.lit(0), F.lit(num_blocks - 1))).alias("__o"),
        )
        .select(
            *cols,
            "blk",
            F.least("blk", F.col("__o")).alias("lo"),
            F.greatest("blk", F.col("__o")).alias("hi"),
        )
        .dropDuplicates(["id", "lo", "hi"])
    )


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over double arrays (JVM-side)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def embedding_cosine_pairs(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    num_blocks: int = 8,
) -> DataFrame:
    """All-pairs cosine ≥ threshold over an embedding column — exact,
    via distributed block matrix multiply, not a row-pair cross join.

    Vectors hash into `num_blocks` blocks; each unordered block pair
    (i ≤ j) becomes one applyInPandas group that BLAS-multiplies the two
    L2-normalized sub-matrices and emits only the surviving pairs.
    Shuffle is n·num_blocks vector rows (each vector is shipped once per
    partner block) — never n² pairs — and the O(n²) arithmetic runs
    vectorized in numpy. num_blocks scales the per-task memory bound:
    pick it so two blocks of vectors fit an executor. The approximate
    scale path for huge corpora is similarity.lsh_topk.
    """
    import pandas as pd

    v = df.select(
        F.col(id_col).cast("long").alias("id"), _as_double(vec_col).alias("e")
    ).localCheckpoint(eager=False)  # feeds block explode + 2 rescoring joins
    # Each vector joins every partner block exactly once: group key is
    # the unordered pair (lo, hi) of (own block, partner block).
    ex = block_pair_explode(v, num_blocks)

    def block_pairs(key, pdf: pd.DataFrame):
        import numpy as np

        lo, hi = key
        mat = np.array(pdf["e"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        mat = mat / norms[:, None]
        ids = pdf["id"].to_numpy()
        in_lo = pdf["blk"].to_numpy() == lo
        if lo == hi:
            sims = mat @ mat.T
            ai, bi = np.triu_indices(len(ids), k=1)
        else:
            a_idx = np.where(in_lo)[0]
            b_idx = np.where(~in_lo)[0]
            sims_blk = mat[a_idx] @ mat[b_idx].T
            ai_rel, bi_rel = np.nonzero(sims_blk >= threshold - 1e-4)
            ai, bi = a_idx[ai_rel], b_idx[bi_rel]
            sims = None
        if sims is not None:
            keep = sims[ai, bi] >= threshold - 1e-4
            ai, bi = ai[keep], bi[keep]
            vals = sims[ai, bi]
        else:
            vals = (mat[ai] * mat[bi]).sum(axis=1)
        a_ids, b_ids = ids[ai], ids[bi]
        lo_ids = np.minimum(a_ids, b_ids)
        hi_ids = np.maximum(a_ids, b_ids)
        return pd.DataFrame({"a_id": lo_ids, "b_id": hi_ids, "cos_raw": vals})

    pairs = ex.groupBy("lo", "hi").applyInPandas(
        block_pairs, "a_id long, b_id long, cos_raw double"
    )
    # numpy proposes, the JVM decides (same contract as knn_join /
    # semantic_dedup): BLAS pairwise summation only pre-filters with the
    # threshold - 1e-4 margin; both the emitted cosine VALUE and the >=
    # decision re-derive from the JVM sequential fold on the sparse
    # candidate list, bit-identical to the oracle's fold. Zero-norm
    # vectors take the nrm→1 convention (cosine 0), mirrored in the SQL.
    anrm = norm_expr(F.col("ae"))
    bnrm = norm_expr(F.col("be"))
    cos_jvm = dot_expr(F.col("ae"), F.col("be")) / (
        F.when(anrm == 0, F.lit(1.0)).otherwise(anrm)
        * F.when(bnrm == 0, F.lit(1.0)).otherwise(bnrm)
    )
    return (
        pairs.select("a_id", "b_id")
        .join(v.select(F.col("id").alias("a_id"), F.col("e").alias("ae")), "a_id")
        .join(v.select(F.col("id").alias("b_id"), F.col("e").alias("be")), "b_id")
        .select("a_id", "b_id", F.round(cos_jvm, 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def apply_near_dup_removal(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """The last step of the near-dup pipeline: given the corpus and its
    duplicate pairs (any tier — Jaccard, MinHash-LSH, SimHash, cosine),
    resolve clusters and keep ONE canonical survivor per cluster (the
    min id, the convention every cluster_id here already encodes) plus
    every unclustered document.

    Plan: connected_components over the pairs (frontier-checkpointed
    label propagation), then the corpus LEFT ANTI joins the
    non-canonical members — the removal list is cluster-sized (tiny
    next to the corpus), so Spark broadcasts it and the corpus never
    shuffles.
    """
    labels = connected_components(pairs)
    removed = labels.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(F.broadcast(removed), id_col, "left_anti")


def semantic_dedup(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_shards: int = 16,
    threshold: float = 0.92,
    shard_col: str | None = None,
    num_blocks: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): partition
    the embedding space into clusters, compare pairs only WITHIN a cluster,
    and mark every vector that has a lower-id cluster-mate with cosine ≥
    `threshold` as a semantic duplicate of the smallest such id. Unlike
    `embedding_cosine_pairs` (exact all-pairs via block matmul) this never
    compares across clusters — the SemDeDup contract — so total work is
    Σ|cluster|², not n².

    Two cluster assignments:
    - default: an md5-derived shard `conv(md5(id)[:6],16,10) % n_shards` —
      ENGINE-REPRODUCIBLE (same convention as similarity.sharded_topk), so a
      SQL oracle rebuilds the identical pair set and the driver grades the
      sub-quadratic path itself;
    - production: pass `shard_col` holding k-means cluster ids from
      `similarity.IVFIndex` assignment, the semantically-meaningful
      partitioning of the original paper.

    Plan: one shuffle of (id, vector) on the shard key, then per-shard BLAS
    Gram matrix in applyInPandas (float64, ROUND(,4) decision boundary both
    engines). Memory is bounded by the largest cluster — and when a k-means
    cluster outgrows an executor, `num_blocks > 1` decomposes EVERY cluster's
    Gram matrix into unordered block pairs (each vector ships once per
    partner block WITHIN its cluster, the embedding_cosine_pairs scheme), so
    per-task memory drops to two blocks while within-cluster pair coverage
    stays exact — result identical to num_blocks=1 (pinned in test_curation).

    Returns (id, shard, is_dup [0/1 int], dup_of [nullable long]): dup_of is
    the MIN qualifying lower id, null for survivors. Reference analog: none
    (beyond-reference LLM-pipeline tier, BASELINE.json north star).
    """
    import pandas as pd

    if shard_col is None:
        shard = (
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10)
            .cast("long") % n_shards
        )
    else:
        shard = F.col(shard_col).cast("long")
    v = df.select(
        F.col(id_col).cast("long").alias("id"),
        _as_double(vec_col).alias("e"),
        shard.alias("shard"),
    )

    v = v.localCheckpoint(eager=False)  # feeds the Gram pass AND the restore join

    def emit_pairs(ids, mat, mask=None):
        """Lower-id (b > a) near-threshold pairs of one Gram product.
        The EXACT decision is F.round in Spark (JVM BigDecimal); the
        margin only pre-filters and must exceed the ROUND(,4) half-step
        5e-5 — round-up accepts cos down to threshold - 5e-5
        (code-review r3)."""
        import numpy as np
        import pandas as pd

        sims = mat @ mat.T if mask is None else mat
        if mask is None:
            bi, ai = np.nonzero(np.tril(sims >= threshold - 1e-4, k=-1))
            return pd.DataFrame(
                {"b_id": ids[0][bi], "a_id": ids[0][ai], "cos_raw": sims[bi, ai]}
            )
        ri, ci = np.nonzero(sims >= threshold - 1e-4)
        a = ids[0][ri]
        b = ids[1][ci]
        keep = a != b
        a, b, vals = a[keep], b[keep], sims[ri, ci][keep]
        lo = np.minimum(a, b)
        hi = np.maximum(a, b)
        return pd.DataFrame({"b_id": hi, "a_id": lo, "cos_raw": vals})

    def normalized(pdf: pd.DataFrame, sel=None):
        import numpy as np

        rows = pdf["e"] if sel is None else pdf["e"][sel]
        mat = np.array(rows.tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        return mat / norms[:, None]

    if num_blocks <= 1:

        def shard_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            order = np.argsort(pdf["id"].to_numpy(), kind="stable")
            pdf = pdf.iloc[order]
            ids = pdf["id"].to_numpy()
            return emit_pairs((ids,), normalized(pdf))

        pairs = v.groupBy("shard").applyInPandas(
            shard_pairs, "b_id long, a_id long, cos_raw double"
        )
    else:
        # Giant-cluster mode: within every shard, decompose the Gram
        # matrix into unordered block pairs (each vector ships once per
        # partner block inside its own shard) — per-task memory is two
        # blocks, within-cluster coverage stays exact.
        ex = block_pair_explode(v, num_blocks, carry=("shard",))

        def block_pairs(key, pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np
            import pandas as pd

            _shard, lo, hi = key
            if lo == hi:
                order = np.argsort(pdf["id"].to_numpy(), kind="stable")
                pdf = pdf.iloc[order]
                ids = pdf["id"].to_numpy()
                return emit_pairs((ids,), normalized(pdf))
            in_lo = (pdf["blk"] == lo).to_numpy()
            a_ids = pdf["id"].to_numpy()[in_lo]
            b_ids = pdf["id"].to_numpy()[~in_lo]
            if len(a_ids) == 0 or len(b_ids) == 0:
                return pd.DataFrame({"b_id": [], "a_id": [], "cos_raw": []}).astype(
                    {"b_id": "int64", "a_id": "int64", "cos_raw": "float64"}
                )
            sims = normalized(pdf, in_lo) @ normalized(pdf, ~in_lo).T
            return emit_pairs((a_ids, b_ids), sims, mask=True)

        pairs = ex.groupBy("shard", "lo", "hi").applyInPandas(
            block_pairs, "b_id long, a_id long, cos_raw double"
        )
    # numpy proposes, the JVM decides (ADVICE r3, same contract as
    # knn_join): the BLAS cos_raw only pre-filters (threshold - 1e-4
    # margin); the graded ROUND(,4) decision re-derives the cosine with
    # the JVM sequential fold on the sparse candidate list, so a cosine
    # within an ulp of a x.xxxx5 boundary cannot round differently from
    # the oracle's list_cosine_similarity fold. Zero-norm vectors take
    # the nrm→1 convention (cosine 0), mirrored in the oracle SQL.
    bnrm = norm_expr(F.col("be"))
    anrm = norm_expr(F.col("ae"))
    cos_jvm = dot_expr(F.col("be"), F.col("ae")) / (
        F.when(bnrm == 0, F.lit(1.0)).otherwise(bnrm)
        * F.when(anrm == 0, F.lit(1.0)).otherwise(anrm)
    )
    dups = (
        pairs.select("b_id", "a_id")
        .join(v.select(F.col("id").alias("b_id"), F.col("e").alias("be")), "b_id")
        .join(v.select(F.col("id").alias("a_id"), F.col("e").alias("ae")), "a_id")
        .filter(F.round(cos_jvm, 4) >= threshold)
        .groupBy("b_id")
        .agg(F.min("a_id").alias("dup_of"))
    )
    return (
        v.join(dups, v["id"] == dups["b_id"], "left")
        .select(
            "id",
            F.col("shard").cast("int").alias("shard"),
            F.col("dup_of").isNotNull().cast("int").alias("is_dup"),
            "dup_of",
        )
    )


# ---------------------------------------------------------------------------
# Hamming-banded near-dup join over 64-bit fingerprints (dHash, SimHash)
# ---------------------------------------------------------------------------


def _hamming_band_exprs(hi_col: str, lo_col: str, max_dist: int) -> list[Column]:
    """The max_dist+1 pigeonhole band values of a 64-bit fingerprint
    stored as non-negative 32-bit halves (boundaries i*64//(max_dist+1))."""
    bands = max_dist + 1
    bounds = [i * 64 // bands for i in range(bands + 1)]
    h64 = F.shiftleft(F.col(hi_col), 32).bitwiseOR(F.col(lo_col))
    # A full-width band (max_dist=0) needs no mask — and its mask
    # literal 2^64−1 would not fit a JVM long anyway.
    return [
        F.shiftrightunsigned(h64, bounds[i])
        if bounds[i + 1] - bounds[i] == 64
        else F.shiftrightunsigned(h64, bounds[i]).bitwiseAND(
            F.lit((1 << (bounds[i + 1] - bounds[i])) - 1)
        )
        for i in range(bands)
    ]


def _hamming_dist(hi_a: Column, lo_a: Column, hi_b: Column, lo_b: Column) -> Column:
    return F.bit_count(hi_a.bitwiseXOR(hi_b)) + F.bit_count(lo_a.bitwiseXOR(lo_b))


def hamming_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    hi_col: str = "hash_hi",
    lo_col: str = "hash_lo",
    max_dist: int = 3,
) -> DataFrame:
    """All id pairs whose 64-bit fingerprints (hi/lo 32-bit halves,
    both non-negative) differ in at most `max_dist` bits.

    Multi-index pigeonhole: the 64 bits split into max_dist+1 bands
    (boundaries i*64//(max_dist+1)); a pair within Hamming distance
    max_dist agrees on at least one WHOLE band, so an equi-join on
    (band_idx, band_value) generates a candidate superset — shuffle
    ∝ n·(max_dist+1) rows, never n². Candidates are verified with the
    EXACT distance bit_count(hi⊕hi') + bit_count(lo⊕lo'), all JVM
    integer ops, so the result is engine-exact and identical to the
    brute-force all-pairs scan (completeness is a theorem, not a
    recall target). NULL fingerprints (undecodable media) drop out.
    At 100 TB: a hot band value (e.g. an all-zero band from flat
    images) skews the equi-join — AQE skew-join splitting handles it
    at runtime, and raising max_dist narrows each band, spreading
    values. Returns (id_a, id_b, hamming) with id_a < id_b."""
    if not 0 <= max_dist <= 63:
        raise ValueError(f"max_dist must be in [0, 63], got {max_dist}")
    band_vals = _hamming_band_exprs(hi_col, lo_col, max_dist)
    # One small row per doc; checkpointed because the self-join consumes
    # the frame twice (the multi-consumer lineage rule) and the upstream
    # is typically a decode-heavy Arrow kernel.
    hashed = (
        df.select(id_col, hi_col, lo_col)
        .filter(F.col(hi_col).isNotNull() & F.col(lo_col).isNotNull())
        .localCheckpoint(eager=False)
    )
    banded = hashed.select(
        F.col(id_col).alias("pid"),
        F.col(hi_col).alias("phi"),
        F.col(lo_col).alias("plo"),
        F.posexplode(F.array(*band_vals)).alias("band_idx", "band_val"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.pid") < F.col("b.pid")),
        )
        .select(
            F.col("a.pid").alias("id_a"),
            F.col("b.pid").alias("id_b"),
            F.col("a.phi").alias("hi_a"),
            F.col("a.plo").alias("lo_a"),
            F.col("b.phi").alias("hi_b"),
            F.col("b.plo").alias("lo_b"),
        )
        .distinct()
    )
    dist = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    return cand.select(
        "id_a", "id_b", dist.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= max_dist)


# ---------------------------------------------------------------------------
# Asymmetric containment join (doc-inside-doc detection)
# ---------------------------------------------------------------------------


def containment_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    max_candidates_per_doc: int | None = None,
) -> DataFrame:
    """All ORDERED pairs (a, b), a ≠ b, where doc a's n-gram shingle
    set is at least num/den CONTAINED in doc b's:
    |sh(a) ∩ sh(b)| · den ≥ num · |sh(a)|.

    The asymmetric near-dup Jaccard misses: a tweet quoted inside an
    article, a README pasted into a mono-repo dump — |A∩B|/|A∪B| is
    tiny when |B| ≫ |A| but A is still a duplicate worth dropping.
    The threshold is a RATIONAL num/den and every decision is an
    integer compare, so the result is engine-exact end to end (the
    reported containment ratio is one IEEE divide of exact integers).

    Plan (the SSJoin prefix filter, asymmetric form): under a global
    (df asc, shingle asc) frequency order, if containment ≥ num/den
    then b shares at least one of a's rarest
    L = ⌊(den−num)·|a|/den⌋ + 1 shingles — missing all L would mean
    missing > (1−t)·|a| of them (pigeonhole). So the PROBE side
    indexes only each a's length-L prefix (pure integer length — no
    float-boundary epsilon needed) while the build side indexes ALL
    shingles; candidates come from the (shingle) equi-join.

    Verification is two-pass (r5, after the sf0.1 ×8 scale curve
    caught the one-pass form spilling): pass 1 intersects SORTED
    8-BYTE xxhash64 shingle arrays — ~5× narrower shuffle rows than
    the string arrays, and long equality beats string equality in the
    per-row intersect — and keeps every pair whose HASH intersection
    clears the threshold. Equal strings hash equal, so hash
    intersection ≥ true intersection for distinct-element sets: a
    cross-doc collision can only ADD a shared element. (The one
    theoretical gap is a WITHIN-doc collision — two distinct shingles
    of one doc hashing equal merge in its hash array and could
    undercount by one at an exact threshold boundary; at ~2⁻⁶⁴ per
    shingle pair this is a documented soundness footnote, not a
    practical event — code-review r5.) Pass 2 re-verifies the
    output-sized survivors on the full STRING sets, so every EMITTED
    pair is exact, while the candidate-sized shuffle carries only
    hashes.

    `max_candidates_per_doc` (VERDICT r6 #2, the degenerate-vocabulary
    mitigation): on a vocabulary-degenerate shard — every doc built
    from the same few hundred shingles — the prefix filter stops
    pruning and the candidate join goes quadratic (the measured ×512
    disk cliff on the adversarial uniform-vocab fixture). With a cap,
    each probe doc keeps only its N strongest candidates, ranked by
    the RARITY of the rarest shared prefix shingle (min document
    frequency ascending — the sharpest evidence of real containment;
    ties break on b_id for determinism). Candidates cut by the cap
    are counted eagerly and logged (the no-silent-caps rule) — set
    the cap only as a scale guard; `None` (default) is lossless and
    exact. A true containment pair shares ALL of a's prefix shingles
    including its rarest, so under zipfian (realistic) vocabularies
    the planted pairs rank at the top and survive modest caps (pinned
    in tests); only degenerate shards where every candidate shares
    equally-common shingles trade recall for the bound.

    Returns (a_id, b_id, inter, size_a, containment).
    """
    if not 0 < threshold_num <= threshold_den:
        raise ValueError("containment threshold must be a fraction in (0, 1]")
    s = (
        _with_shingles(spread_small_input(df, id_col), text_col, id_col, n)
        .withColumn("sz", F.size("sh"))
        .filter(F.col("sz") > 0)
        .withColumn(
            "shh", F.array_sort(F.transform("sh", lambda g: F.xxhash64(g)))
        )
        .localCheckpoint(eager=False)  # feeds index, probe AND verification
    )
    ex = s.select("id", F.explode("sh").alias("g"))
    freq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("g").asc())
    prefix = (
        s.select("id", "sz", F.explode("sh").alias("g"))
        .join(freq, "g")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.expr(f"div(({threshold_den}-{threshold_num})*sz, {threshold_den}) + 1")
        )
        .select("id", "g", "df")
    )
    matches = prefix.alias("a").join(
        ex.alias("b"),
        (F.col("a.g") == F.col("b.g")) & (F.col("a.id") != F.col("b.id")),
    )
    if max_candidates_per_doc is None:
        candidates = matches.select(
            F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id")
        ).dropDuplicates(["a_id", "b_id"])
    else:
        if max_candidates_per_doc < 1:
            raise ValueError("max_candidates_per_doc must be >= 1")
        # Same shuffle the dropDuplicates paid, but the aggregate keeps
        # the strongest (rarest) shared prefix shingle per pair; a
        # second a_id-partitioned window then bounds the fan-out BEFORE
        # the hash-array verify join — the stage the ×512 uniform-vocab
        # fixture drowned in.
        ranked = (
            matches.select(
                F.col("a.id").alias("a_id"),
                F.col("b.id").alias("b_id"),
                F.col("a.df").alias("df"),
            )
            .groupBy("a_id", "b_id")
            .agg(F.min("df").alias("min_df"))
            .withColumn(
                "crn",
                F.row_number().over(
                    Window.partitionBy("a_id").orderBy(
                        F.col("min_df").asc(), F.col("b_id").asc()
                    )
                ),
            )
            .localCheckpoint(eager=False)  # feeds the cut AND its audit
        )
        candidates = ranked.filter(
            F.col("crn") <= max_candidates_per_doc
        ).select("a_id", "b_id")
        # no-silent-caps: count what the cap cut, eagerly, and say so.
        cut = (
            ranked.filter(F.col("crn") > max_candidates_per_doc)
            .agg(
                F.count(F.lit(1)).alias("pairs"),
                F.countDistinct("a_id").alias("docs"),
            )
            .collect()[0]
        )
        if cut["pairs"]:
            import logging

            logging.getLogger(__name__).warning(
                "containment_pairs: candidate cap %d dropped %d candidate "
                "pairs across %d probe docs (kept the rarest-shared-"
                "shingle top-N per doc); capped mode bounds the verify "
                "join but is not lossless on degenerate vocabularies",
                max_candidates_per_doc,
                cut["pairs"],
                cut["docs"],
            )
    # pass 1: hash-array superset filter over the candidate-sized join
    hh_a = s.select(
        F.col("id").alias("a_id"), F.col("shh").alias("hh_a"), F.col("sz").alias("size_a")
    )
    hh_b = s.select(F.col("id").alias("b_id"), F.col("shh").alias("hh_b"))
    inter_h = F.size(F.array_intersect("hh_a", "hh_b"))
    survivors = (
        candidates.join(hh_a, "a_id")
        .join(hh_b, "b_id")
        .filter(inter_h * threshold_den >= F.lit(threshold_num) * F.col("size_a"))
        .select("a_id", "b_id")
    )
    # pass 2: exact string-set verify on the output-sized survivors
    sh_a = s.select(F.col("id").alias("a_id"), F.col("sh").alias("sh_a"), F.col("sz").alias("size_a"))
    sh_b = s.select(F.col("id").alias("b_id"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        survivors.join(sh_a, "a_id")
        .join(sh_b, "b_id")
        .withColumn("inter", inter.cast("long"))
        .filter(F.col("inter") * threshold_den >= F.lit(threshold_num) * F.col("size_a"))
        .select(
            "a_id",
            "b_id",
            "inter",
            F.col("size_a").cast("long").alias("size_a"),
            (F.col("inter") / F.col("size_a")).alias("containment"),
        )
    )


class HammingIndex:
    """Persisted, incrementally-maintained Hamming near-dup index over
    64-bit fingerprints (dHash images, SimHash text) — the 100 TB
    operating mode beside MinHashIndex and IVFIndex: a production
    corpus is not re-joined per batch; new fingerprints probe the
    standing band table (shuffle ∝ batch·bands + matching buckets) and
    merge in idempotently (keyed MERGE, replays converge).

    Storage: a hashes table (id, hash_hi, hash_lo) and a band-entries
    table (id, band_idx, band_val) — ParquetTable-backed keyed
    upserts. `add()` returns the exact-distance pairs involving at
    least one new id (batch-internal pairs included), so a corpus
    ingested batch-by-batch yields exactly the one-shot
    hamming_neardup_pairs set (pinned in tests and the incremental
    battery entry)."""

    def __init__(self, root: str, *, max_dist: int = 3):
        from ..operators.merge import ParquetTable

        if not 0 <= max_dist <= 63:
            raise ValueError(f"max_dist must be in [0, 63], got {max_dist}")
        self.max_dist = max_dist
        self.hash_table = ParquetTable(f"{root}/hashes", ["id"])
        self.band_table = ParquetTable(f"{root}/bands", ["id", "band_idx"])

    def add(
        self,
        df: DataFrame,
        *,
        id_col: str = "doc_id",
        hi_col: str = "hash_hi",
        lo_col: str = "hash_lo",
    ) -> DataFrame:
        spark = df.sparkSession
        hashed = (
            df.select(
                F.col(id_col).alias("id"),
                F.col(hi_col).alias("hash_hi"),
                F.col(lo_col).alias("hash_lo"),
            )
            .filter(F.col("hash_hi").isNotNull() & F.col("hash_lo").isNotNull())
            .localCheckpoint(eager=False)
        )
        new_bands = hashed.select(
            "id",
            F.posexplode(
                F.array(*_hamming_band_exprs("hash_hi", "hash_lo", self.max_dist))
            ).alias("band_idx", "band_val"),
        ).localCheckpoint(eager=False)

        if self.band_table.exists():
            probe = self.band_table.read(spark).unionByName(new_bands)
            # replayed/updated ids: the new batch's hash wins (anti-join,
            # the MinHashIndex rule) or verification fans out duplicates
            all_hashes = (
                self.hash_table.read(spark)
                .join(hashed.select("id"), "id", "left_anti")
                .unionByName(hashed)
            )
        else:
            probe = new_bands
            all_hashes = hashed

        a = new_bands.alias("a")
        b = probe.alias("b")
        candidates = (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_val") == F.col("b.band_val"))
                & (F.col("a.id") != F.col("b.id")),
            )
            .select(
                F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
                F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        ha = all_hashes.select(
            F.col("id").alias("id_a"),
            F.col("hash_hi").alias("hi_a"),
            F.col("hash_lo").alias("lo_a"),
        )
        hb = all_hashes.select(
            F.col("id").alias("id_b"),
            F.col("hash_hi").alias("hi_b"),
            F.col("hash_lo").alias("lo_b"),
        )
        pairs = (
            candidates.join(ha, "id_a")
            .join(hb, "id_b")
            .select(
                "id_a",
                "id_b",
                _hamming_dist(
                    F.col("hi_a"), F.col("lo_a"), F.col("hi_b"), F.col("lo_b")
                )
                .cast("long")
                .alias("hamming"),
            )
            .filter(F.col("hamming") <= self.max_dist)
        )
        # materialize BEFORE mutating the index: the lineage reads the
        # pre-add tables (the MinHashIndex rule)
        pairs = pairs.localCheckpoint(eager=True)
        self.hash_table.merge(hashed)
        self.band_table.merge(new_bands)
        return pairs
