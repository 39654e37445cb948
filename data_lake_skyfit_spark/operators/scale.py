"""Scale operators: skew mitigation and co-located (bucketed) joins.

These are the knobs that keep the engine's plans healthy at 100 TB
(SURVEY.md §7.4 risk 7). AQE skew-join splitting is on by default
(session.py); the helpers here cover the cases AQE cannot fix by
itself:

- salted_join: a join where one side's key distribution is pathological
  (a handful of hot keys holding most rows — e.g. a default/null
  member_id in entries). The hot side gets a uniform salt 0..B-1, the
  other side is replicated B× with every salt value, and the join key
  becomes (key, salt): each hot key now spreads over B tasks.
- salted_count_distinct: COUNT(DISTINCT x) GROUP BY k with hot k —
  two-stage: shuffle once on (k, x) to dedupe (spreading hot k across
  the x dimension), then count per k with map-side partial aggregation.
- write_bucketed: persist both sides of a recurring
  equi-join bucketed by the join key so every future join is
  shuffle-free (the Spark analog of the reference's co-located Postgres
  tables + indexes).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "salted_join",
    "salted_count_distinct",
    "write_bucketed",
    "ordered_running_sum",
    "dense_index",
    "with_zorder",
    "inflate_documents",
    "inflate_embeddings",
    "heavy_hitters",
]

_ID_STRIDE = 1 << 40  # copy i shifts ids by i·stride: disjoint, order-safe


def _copy_alphabets(factor: int) -> list[str]:
    """Per-copy destination alphabets (lower+upper+digits) for
    inflate_documents.  Copies 0-77 keep the r3/r4 Caesar tiers (so the
    historical ×1/×8/×64 curve points stay comparable); copies ≥ 78 use
    HASH-SEEDED alphabet permutations (random.Random with a string seed
    is SHA-512-based and version-stable) — the r4e injectivity lesson:
    closed-form cycles collapse every period-th copy into twins, while
    distinct permutations over a 26!·10! space cannot coincide (the
    generator asserts global uniqueness anyway)."""
    import random as _random

    lower = "abcdefghijklmnopqrstuvwxyz"
    upper = lower.upper()
    digits = "0123456789"
    out = []  # (dst_alphabet, reverse_flag) — the full transform key
    for i in range(min(factor, 78)):
        rl = lower[i % 26 :] + lower[: i % 26]
        ru = upper[i % 26 :] + upper[: i % 26]
        tier = i // 26
        dst = ru + rl if tier == 2 else rl + ru  # tier 2: case swap too
        out.append((dst + digits, tier >= 1))
    for i in range(78, factor):
        rnd = _random.Random(f"skyfit-inflate-{i}")
        pl = list(lower)
        rnd.shuffle(pl)
        pd_ = list(digits)
        rnd.shuffle(pd_)
        out.append(("".join(pl) + "".join(pl).upper() + "".join(pd_), False))
    if len(set(out)) != len(out):
        raise ValueError("inflate_documents: transform collision across copies")
    return out


def inflate_documents(
    df, factor: int, *, id_col: str = "doc_id", text_col: str = "text"
):
    """×`factor` corpus inflation for scale-curve measurement (VERDICT
    r3 #3): copy i shifts ids by i·2^40 and remaps the text's alphabet
    injectively, so copies share (essentially) no shingles — each copy
    reproduces the ORIGINAL corpus's internal near-dup structure under a
    disjoint token alphabet instead of multiplying it. Wall-time curves
    over the inflated corpus therefore measure how an operator scales
    with CORPUS SIZE at constant dup density, which is the 100 TB
    question; injecting verbatim copies would instead grow the pair
    output quadratically in `factor` and measure output size.

    Copies 0-25 Caesar-rotate, 26-51 rotate+reverse, 52-77 also swap
    case (rotation alone has period 26 — copies i and i+26 would be
    verbatim twins, the explosion the first ×64 run measured); copies
    78+ (the r6 ×512 tier) translate through hash-seeded alphabet+digit
    permutations, which are injective at ANY factor (see
    _copy_alphabets). Pure codegen map (translate/reverse), no
    shuffle."""
    lower = "abcdefghijklmnopqrstuvwxyz"
    upper = lower.upper()
    src = lower + upper + "0123456789"
    copies = []
    for i, (dst, rev) in enumerate(_copy_alphabets(factor)):
        text = F.translate(F.col(text_col), src, dst)
        if rev:
            text = F.reverse(text)
        copies.append(
            df.select(
                (F.col(id_col) + F.lit(i * _ID_STRIDE)).alias(id_col),
                text.alias(text_col),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), copies)


def inflate_embeddings(
    df, factor: int, *, id_col: str = "vec_id", vec_col: str = "embedding"
):
    """×`factor` embedding-corpus inflation: copy i shifts ids by
    i·2^40 and offsets every component by 0.0017·i — distinct vectors
    with the original corpus's neighborhood structure repeated, not
    128k exact duplicates collapsing into degenerate top-k ties.

    The offset goes through a closure FACTORY: a `lambda x, i=i:`
    default-arg closure has two parameters, which PySpark's arity
    sniffing reads as an (element, index) lambda — the element index
    silently overrides the default, every copy gets the identical
    per-component offset, and the inflated corpus is exact duplicates
    (the r4 curve ran that way; wall-times measured the same quadratic
    compute, but neighborhood structure was degenerate ties).
    `test_inflate_embeddings_copies_are_distinct` pins the fix."""

    def offset_copy(i: int):
        return F.transform(
            F.col(vec_col), lambda x: x + F.lit(0.0017 * i)
        )

    copies = []
    for i in range(factor):
        copies.append(
            df.select(
                (F.col(id_col) + F.lit(i * _ID_STRIDE)).alias(id_col),
                offset_copy(i).alias(vec_col),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), copies)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: Sequence[str],
    *,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to key skew on the `skewed` side.

    The skewed side gets salt = uniform(0..buckets-1) per row (derived
    from a per-row hash — deterministic, no rand()); `other` is
    replicated buckets× via a posexplode of the salt domain. Join keys
    become on + [salt]. Result is identical to skewed.join(other, on,
    how); only the physical distribution changes — each hot key's rows
    split across `buckets` tasks instead of one straggler.

    Supported `how`: inner / left / left_semi / left_anti — the shapes
    where replicating `other` cannot fabricate rows. right/full would
    emit `buckets` null-extended duplicates for every unmatched `other`
    key (each salt replica unmatched), so they are rejected; salt the
    other side instead.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports inner/left/left_semi/left_anti, got {how!r}: "
            "right/full joins would duplicate unmatched rows of the replicated side"
        )
    on = list(on)
    salt_domain = F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    # Per-row deterministic salt: hash every column (ties rows of one hot
    # key to different buckets while identical re-runs salt identically).
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(buckets))

    left = skewed.withColumn("__salt", salt.cast("int"))
    right = other.select("*", salt_domain.alias("__salt")).withColumn(
        "__salt", F.col("__salt").cast("int")
    )
    out = left.join(right, on + ["__salt"], how)
    return out.drop("__salt")


def ordered_running_sum(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    *,
    out_col: str = "running_sum",
    partitions: int | None = None,
) -> DataFrame:
    """Global running sum over a total order WITHOUT the canonical
    scale-killer `Window.orderBy(...)` (no partitionBy = every row
    through ONE task). Classic distributed prefix-sum instead:

    1. range-partition on the order columns (partitions hold contiguous
       ascending key ranges);
    2. partition-local running sums — fully parallel windows keyed on
       the partition id;
    3. per-partition totals (one tiny row each) → exclusive prefix
       offsets, broadcast back and added.

    The only ordered-window-without-partitionBy left is over the
    per-partition totals: `partitions` rows, kilobytes — driver-scale
    by construction, like a broadcast dim.

    `order_cols` must be a total order (unique): range partitioning may
    split duplicate keys across adjacent partitions, which would make
    the running sum order among duplicates partition-dependent.
    """
    order_cols = list(order_cols)
    n = int(
        partitions
        if partitions is not None
        else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # Freeze partition assignment: the offsets branch and the output
    # branch MUST observe identical pids, and a recomputed range
    # partitioning is not guaranteed stable (sampled boundaries).
    part = (
        df.repartitionByRange(n, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    totals = part.groupBy("__pid").agg(F.sum(value_col).alias("__psum"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid", F.coalesce(F.sum("__psum").over(w_off), F.lit(0)).alias("__offset")
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        part.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.sum(value_col).over(w_local) + F.col("__offset"))
        .drop("__pid", "__offset")
    )


def salted_count_distinct(
    df: DataFrame,
    group_keys: Sequence[str],
    distinct_col: str,
    *,
    alias: str = "n_distinct",
) -> DataFrame:
    """COUNT(DISTINCT col) GROUP BY keys without a single hot-key
    reducer: stage 1 dedupes on (keys, col) — the shuffle spreads a hot
    key across the value dimension; stage 2 counts per key with partial
    (map-side) combine, so the final shuffle carries one row per
    (key, partition)."""
    keys = list(group_keys)
    deduped = df.select(*keys, distinct_col).distinct()
    return deduped.groupBy(*keys).agg(F.count(F.lit(1)).alias(alias))


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_keys: Sequence[str],
    *,
    buckets: int = 32,
    path: str | None = None,
    sort_keys: Sequence[str] | None = None,
) -> None:
    """Persist `df` bucketed (and optionally sorted) by the join key.

    Two tables bucketed identically join with NO exchange on either
    side — the 100 TB answer for recurring fact⋈fact joins where
    broadcasting is impossible and re-shuffling 100 TB per query is
    unacceptable (e.g. evo_entries ⋈ evo_members on member_id).
    """
    w = df.write.mode("overwrite").format("parquet")
    if path is not None:
        w = w.option("path", path)
    w = w.bucketBy(buckets, *bucket_keys)
    if sort_keys:
        w = w.sortBy(*sort_keys)
    w.saveAsTable(name)


def with_zorder(
    df: DataFrame,
    cols: Sequence[str],
    *,
    bits: int = 12,
    out_col: str = "__z",
    keep_buckets: bool = False,
) -> DataFrame:
    """Add a Z-order (Morton) key interleaving the given numeric
    columns — the real multi-dimensional version of OPTIMIZE ZORDER,
    where `compact(cluster_by=...)`'s lexicographic sort is only its
    one-dimensional analog.

    Each column is scaled to a `bits`-bit integer via equi-width
    bucketing over its [min, max] (one tiny aggregate for the bounds —
    k·2 scalars to the driver), then the buckets' bits interleave:
    bit j of column c lands at position j·k + c. Sorting by the key
    gives every output file a narrow range in EVERY clustered column
    simultaneously, so parquet min/max footer stats skip files for
    predicates on any of them — a lexicographic sort only skips on the
    leading column. Pure codegen'd integer expressions; NULLs map to
    bucket 0 (they sort with the lowest values, same as a sort key —
    guarded explicitly because F.least SKIPS nulls, which would
    otherwise quietly send null rows to the TOP bucket).

    `keep_buckets` also emits the per-column bucket ordinates as
    `__zb_<col>` — the coordinates file-skipping statistics range over
    (used by the zorder_layout battery entry to grade the interleave
    against a SQL mirror).
    """
    cols = list(cols)
    k = len(cols)
    if k == 0:
        raise ValueError("with_zorder needs at least one column")
    if bits * k > 62:
        raise ValueError(f"bits*len(cols) must fit a long: {bits}*{k} > 62")
    n = 1 << bits
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__hi_{c}") for c in cols],
    ).first()
    buckets = []
    for c in cols:
        lo, hi = bounds[f"__lo_{c}"], bounds[f"__hi_{c}"]
        if lo is None or hi == lo:
            buckets.append(F.lit(0).cast("long"))
            continue
        width = (hi - lo) / n
        b = F.least(
            F.lit(n - 1),
            F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(width)),
        )
        # NULL must be pinned BEFORE least(): least skips nulls, so
        # least(n-1, NULL) = n-1 and null rows would land in the top
        # bucket instead of the bottom one the docstring promises.
        buckets.append(
            F.when(F.col(c).isNull(), F.lit(0)).otherwise(b).cast("long")
        )
    z = F.lit(0).cast("long")
    for j in range(bits):
        for ci, b in enumerate(buckets):
            z = z + F.shiftleft(
                F.shiftright(b, j).bitwiseAND(F.lit(1)), j * k + ci
            )
    out = df.withColumn(out_col, z)
    if keep_buckets:
        for c, b in zip(cols, buckets):
            out = out.withColumn(f"__zb_{c}", b)
    return out


def dense_index(
    df: DataFrame,
    order_cols: Sequence[str],
    *,
    out_col: str = "idx",
) -> DataFrame:
    """Assign a dense 0..n-1 index in `order_cols` order — the
    DataFrame-native zipWithIndex. Rides the distributed prefix-sum
    (ordered_running_sum of 1s), so there is no global
    Window.orderBy single-task funnel and no RDD round-trip.
    `order_cols` must be a total order."""
    tagged = df.withColumn("__one", F.lit(1))
    out = ordered_running_sum(tagged, order_cols, "__one", out_col=out_col)
    return out.withColumn(out_col, (F.col(out_col) - 1).cast("long")).drop("__one")


def heavy_hitters(
    df: DataFrame,
    col: str,
    *,
    k: int = 64,
) -> DataFrame:
    """EXACT heavy hitters: every value of `col` occurring in strictly
    more than n/k of the n input rows, with its exact count — equal to
    ``GROUP BY col HAVING COUNT(*)*k > n`` but WITHOUT a full-vocabulary
    shuffle (the boilerplate-token / hot-URL detection primitive; at
    100 TB the naive groupBy shuffles one row per DISTINCT value, this
    shuffles one row per CANDIDATE occurrence).

    Two passes, both provably lossless:

    1. CANDIDATES — a per-partition Misra–Gries summary of k−1
       counters via Arrow-batched mapInPandas (exact pandas
       value_counts per batch, then the standard mergeable-summaries
       reduction: pointwise sum, subtract the k-th largest count, drop
       non-positives; per-summary undercount ≤ n_p/k). If a value has
       global count > n/k then in ≥1 partition its local count exceeds
       n_p/k (averaging argument), where MG must retain it — so the
       union of partition summaries is a candidate SUPERSET of the
       true heavy hitters. At most (k−1)·partitions candidate rows.
    2. RECOUNT — exact count of candidate values only: broadcast
       semi-join (the scan stays map-side) + map-side-combinable
       groupBy, then the integer filter cnt·k > n (never a float
       division). n rides OUT OF the MG pass itself (each partition's
       summary carries one marker row with its row count), so the
       input is scanned exactly twice — once per pass — not a third
       time for the total.

    Caching the exploded frame would cost more memory than the rescan
    at corpus scale; only the kilobyte-scale summary is checkpointed
    (it feeds both the scalar total and the candidate list).

    Returns (item, cnt) with `item` keeping the input column's type.
    """
    if k < 2:
        raise ValueError("heavy_hitters needs k >= 2")
    import pandas as pd

    from pyspark.sql import types as T

    item_type = df.schema[col].dataType
    items = df.select(F.col(col).alias("item"))
    out_schema = T.StructType(
        [
            T.StructField("item", item_type),
            T.StructField("part_rows", T.LongType()),
        ]
    )

    def mg_kernel(batches):
        counters: dict = {}
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            vc = pdf["item"].dropna().value_counts()
            for v, c in vc.items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) >= k:
                # mergeable-summaries reduction to k-1 entries:
                # subtract the k-th largest count from everything
                kth = sorted(counters.values(), reverse=True)[k - 1]
                counters = {v: c - kth for v, c in counters.items() if c > kth}
        yield pd.DataFrame(
            {
                "item": list(counters.keys()) + [None],
                "part_rows": [0] * len(counters) + [n_part],
            }
        )

    summary = items.mapInPandas(mg_kernel, out_schema).localCheckpoint(eager=False)
    n = summary.agg(F.sum("part_rows")).collect()[0][0] or 0
    candidates = summary.filter(F.col("item").isNotNull()).select("item").distinct()
    return (
        items.join(F.broadcast(candidates), "item")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * k > n)
    )
