"""Keyed upsert (MERGE) over parquet-backed tables.

The reference's exactly-once story is idempotent keyed upserts at every
layer: `COPY → INSERT ... ON CONFLICT (keys) DO UPDATE` for staging
(reference: src/evo/loaders/load_evo_members_stg_fast_v2.py:235-279,
src/common/db.py:120-227) with per-table conflict keys and update-column
subsets (SURVEY.md §2.2 K2-K4), `DO NOTHING` insert-only for tag-like
tables (normalize_zendesk.py:723), and TRUNCATE+INSERT full refresh
(normalize_evo_members_v2.py:101-115).

Spark-first realization, parquet-native (no Delta/Iceberg jars): the
same semantics are built from one join + a partition-aware rewrite:

- full-outer-join target⟷source on the key once, as Delta Lake's MERGE
  rewrite does, with a presence flag on each side; every column picks
  its side per mode (update-all / update-subset / insert-only), and
  the merged row set is written back (`merge_rows`);
- for partitioned tables only the partitions containing source keys are
  rewritten (dynamic partition overwrite) — the 100 TB path: merging a
  day of entries rewrites one year partition's touched files, not the
  table;
- writes go to a temp dir then swap, so a failed job never corrupts the
  table (the transactional-commit property Postgres gave the reference).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedupe import latest_wins

__all__ = ["ParquetTable", "MergeMode", "align_schemas", "merge_rows", "leaf_dirs"]


class MergeMode:
    UPDATE_ALL = "update_all"
    UPDATE_SUBSET = "update_subset"
    DO_NOTHING = "do_nothing"  # insert-only: ON CONFLICT DO NOTHING


def leaf_dirs(root: str, depth: int) -> list[str]:
    """Partition leaf dirs under `root` at exactly `depth` levels,
    discovered from disk, NOT derived from Python values: Spark encodes
    NULL partition values as __HIVE_DEFAULT_PARTITION__ and %XX-escapes
    special characters, so a reconstructed f"{k}={v}" name can silently
    miss dirs (ADVICE r1 — dropped rows on swap)."""
    found: list[str] = []

    def walk(rel: str, lvl: int) -> None:
        base = os.path.join(root, rel) if rel else root
        for name in os.listdir(base):
            if name.startswith(("_", ".")):
                continue
            sub = os.path.join(rel, name) if rel else name
            if not os.path.isdir(os.path.join(root, sub)):
                continue
            if lvl + 1 == depth:
                found.append(sub)
            else:
                walk(sub, lvl + 1)

    walk("", 0)
    return found


def align_schemas(target: DataFrame, source: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Additive schema evolution: missing source cols → NULL of the
    target's type; extra source cols are appended to target. Both frames
    come back with identical column order."""
    for c, t in target.dtypes:
        if c not in source.columns:
            source = source.withColumn(c, F.lit(None).cast(t))
    for c, t in source.dtypes:
        if c not in target.columns:
            target = target.withColumn(c, F.lit(None).cast(t))
    cols = target.columns
    return target.select(*cols), source.select(*cols)


def merge_rows(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    mode: str = MergeMode.UPDATE_ALL,
    update_subset: Sequence[str] = (),
) -> DataFrame:
    """The MERGE row set: ONE full outer join of target and source on
    null-safe key equality, each side carrying a presence flag, and a
    per-column pick of the side (see ParquetTable.merge for the modes):

    - update_all: the source value wherever the key is in the source;
    - do_nothing: the target value wherever the key is in the target;
    - update_subset: `update_subset` columns as update_all, the rest as
      do_nothing — so a match takes only those columns from the source.

    Precondition: target and source are each unique on `keys` (every
    table MERGE writes is; ParquetTable.merge dedupes the source). A
    duplicated key would meet every row with that key on the other side.
    Pure frame construction — callers own deduplication, schema
    alignment, and writing. Both frames must already share one schema.
    """
    cols = target.columns
    t = target.withColumn("__merge_t", F.lit(True)).alias("t")
    s = source.withColumn("__merge_s", F.lit(True)).alias("s")
    on = reduce(
        lambda a, b: a & b,
        [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys],
    )
    if mode == MergeMode.UPDATE_ALL:
        from_source = set(cols)
    elif mode == MergeMode.UPDATE_SUBSET:
        from_source = set(update_subset)
    else:  # DO_NOTHING
        from_source = set()
    in_s = F.col("s.__merge_s").isNotNull()
    in_t = F.col("t.__merge_t").isNotNull()

    def pick(c: str):
        sc, tc = F.col(f"s.{c}"), F.col(f"t.{c}")
        if c in from_source:
            return F.when(in_s, sc).otherwise(tc).alias(c)
        return F.when(in_t, tc).otherwise(sc).alias(c)

    return t.join(s, on, "full_outer").select(*[pick(c) for c in cols])


def partition_scope(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    partition_by: Sequence[str],
):
    """Decide whether a merge can rewrite only source-touched partitions.

    Returns (scoped_ok, cond): `cond` filters the target to the touched
    partitions (null-safe — NULL partition values land under
    __HIVE_DEFAULT_PARTITION__ and must still be selected). Scoping is
    refused when a key's partition value changes in this batch (the
    migration leaves a stale duplicate outside the scope and can empty
    a partition without replacing its dir — ADVICE r1); the detector is
    a key+partition-column scan, column-pruned and far cheaper than the
    full rewrite it usually avoids.
    """
    keys = list(keys)
    partition_by = list(partition_by)
    parts = [
        r.asDict() for r in source.select(*partition_by).distinct().collect()
    ]
    if not parts:
        return False, None
    if not set(partition_by) <= set(keys):
        tk = target.select(*keys, *partition_by).alias("tk")
        sk = source.select(
            *keys, *[F.col(c).alias(f"__s_{c}") for c in partition_by]
        ).alias("sk")
        on_k = None
        for k in keys:
            e = F.col(f"tk.{k}").eqNullSafe(F.col(f"sk.{k}"))
            on_k = e if on_k is None else (on_k & e)
        moved = None
        for c in partition_by:
            e = ~F.col(f"tk.{c}").eqNullSafe(F.col(f"sk.__s_{c}"))
            moved = e if moved is None else (moved | e)
        if tk.join(sk, on_k).filter(moved).limit(1).count():
            return False, None
    cond = None
    for p in parts:
        c = F.lit(True)
        for k, v in p.items():
            c = c & F.col(k).eqNullSafe(F.lit(v))
        cond = c if cond is None else (cond | c)
    return True, cond


#: Leading-key stat types we trust for file pruning. Anything else
#: (bytes from un-annotated BINARY, Decimal, nested) falls back to the
#: full rewrite rather than risking a wrong comparison. float is
#: deliberately EXCLUDED (code-review r3): a double key can be NaN,
#: which footer min/max never cover and range predicates never match,
#: so a NaN-key update would be misclassified as a pure insert while
#: merge_rows' eqNullSafe would have matched it — a duplicate-key
#: corruption. Float merge keys take the full-rewrite path.
_PRUNABLE_STAT_TYPES = (bool, int, str)


def file_key_ranges(root: str, key: str):
    """Per-data-file (path, min, max, may_have_nulls) for `key`, read
    from parquet FOOTERS only — no data pages touched. Returns None if
    any file lacks usable stats (caller falls back to a full rewrite).

    This is the same file-skipping metadata a Delta/Iceberg manifest
    records at write time; reading it from footers keeps plain parquet
    dirs self-describing. At cluster scale the listing+footer sweep
    would be carried by the table's committed manifest instead
    (operators/versioned.py keeps one per generation).
    """
    import datetime as _dt

    import pyarrow.parquet as pq

    out = []
    for dp, _, fs in os.walk(root):
        for f in sorted(fs):
            if not f.endswith(".parquet"):
                continue
            full = os.path.join(dp, f)
            try:
                md = pq.ParquetFile(full).metadata
            except Exception:
                return None
            if md.num_rows == 0:
                continue  # no rows → nothing to touch, file can stay
            fmin = fmax = None
            may_have_nulls = False
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                col = None
                for i in range(rgm.num_columns):
                    c = rgm.column(i)
                    if c.path_in_schema == key:
                        col = c
                        break
                if col is None:
                    return None  # key column absent — schema drift
                st = col.statistics
                if st is None:
                    return None
                if st.null_count is None or st.null_count > 0:
                    may_have_nulls = True
                if not st.has_min_max:
                    if st.null_count == rgm.num_rows:
                        continue  # all-null row group: range is empty
                    return None
                lo, hi = st.min, st.max
                if isinstance(lo, (_dt.date, _dt.datetime)):
                    pass  # comparable, Spark-representable
                elif not isinstance(lo, _PRUNABLE_STAT_TYPES) or isinstance(
                    lo, bool
                ) != isinstance(hi, bool):
                    return None
                fmin = lo if fmin is None or lo < fmin else fmin
                fmax = hi if fmax is None or hi > fmax else fmax
            out.append((full, fmin, fmax, may_have_nulls))
    return out


def clustered_rewrite(
    df: DataFrame,
    *,
    cluster_by: Sequence[str] | None = None,
    zorder_by: Sequence[str] | None = None,
    n_files: int,
) -> DataFrame:
    """Shared OPTIMIZE rewrite shape (code-review r3: one copy, two
    callers — ParquetTable.compact and VersionedParquetTable.compact):
    range-partition + sort on `cluster_by`, or on the Morton-interleaved
    `zorder_by` key; pass neither for a plain repartition by caller."""
    if cluster_by and zorder_by:
        raise ValueError("pass cluster_by or zorder_by, not both")
    if zorder_by:
        from .scale import with_zorder

        return (
            with_zorder(df, list(zorder_by))
            .repartitionByRange(int(n_files), "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    if cluster_by:
        return df.repartitionByRange(int(n_files), *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    return df


def touched_by_key_ranges(source: DataFrame, key: str, ranges) -> set | None:
    """Which range-annotated files can contain a source key?

    `ranges` is [(file_id, kmin, kmax, may_have_nulls)]; kmin/kmax None
    means "no usable stats" (an all-null or stat-less file — matched
    only by null source keys, or always matched when nulls is True).
    The ranges (one small row per file) broadcast against the source's
    DISTINCT key values: shuffle ∝ |source keys|, never ∝ table size.
    Returns the touched file_id set, or None when the ranges cannot be
    represented in a Spark frame (caller falls back to a full rewrite).
    """
    spark = source.sparkSession
    rows = [
        {"file": f, "kmin": lo, "kmax": hi, "has_nulls": nulls}
        for f, lo, hi, nulls in ranges
    ]
    try:
        rdf = spark.createDataFrame(rows)
    except Exception:
        return None  # un-inferable stat types
    skeys = source.select(F.col(key).alias("__k")).distinct()
    cond = (
        (F.col("__k") >= F.col("kmin")) & (F.col("__k") <= F.col("kmax"))
    ) | (F.col("__k").isNull() & F.col("has_nulls"))
    return {
        r["file"]
        for r in skeys.join(F.broadcast(rdf), cond).select("file").distinct().collect()
    }


@dataclass
class ParquetTable:
    """A keyed, optionally partitioned parquet table with MERGE/overwrite
    semantics. The unit of storage for STG and CORE layers."""

    path: str
    key: Sequence[str]
    partition_by: Sequence[str] = field(default_factory=tuple)
    #: Unpartitioned merges only prune at file level when the table
    #: holds at least this many data bytes: below it, one full-rewrite
    #: job is cheaper than the footer sweep + key-range probe the prune
    #: needs (measured: the prune's fixed cost is ~2 small Spark jobs).
    #: Tables at real scale are always far past this floor.
    prune_min_bytes: int = 64 * 1024 * 1024

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, "_SUCCESS")) or any(
            n.endswith(".parquet") or n.startswith(("part-", "year=", "scope="))
            for n in (os.listdir(self.path) if os.path.isdir(self.path) else ())
        )

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    # -- write paths --------------------------------------------------------

    def _write(self, df: DataFrame, path: str) -> None:
        w = df.write.mode("overwrite")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(path)

    def overwrite(self, df: DataFrame) -> None:
        """Full refresh — the reference's TRUNCATE + INSERT (K5). In
        Spark there are no indexes to drop/recreate; the write IS the
        bulk path."""
        self._swap_write(df)

    def _partition_dirs(self, root: str) -> list[str]:
        return leaf_dirs(root, len(self.partition_by))

    def _swap_write(self, df: DataFrame, *, partition_scoped: bool = False) -> None:
        """Materialize to a temp dir, then atomically swap into place.

        Reading and overwriting the same parquet path in one lazy plan
        is a self-destruction hazard; the temp+swap makes every merge a
        safe, restartable commit.
        """
        tmp = f"{self.path.rstrip('/')}__tmp_{uuid.uuid4().hex[:8]}"
        self._write(df, tmp)
        if partition_scoped and self.partition_by and os.path.isdir(self.path):
            # Partition-scoped commit: move only rewritten partitions —
            # every partition dir present in tmp IS a rewritten one (the
            # merge plan filtered the target to touched partitions), so
            # the on-disk listing is the authoritative move list.
            for rel in self._partition_dirs(tmp):
                dst = os.path.join(self.path, rel)
                src = os.path.join(tmp, rel)
                if os.path.isdir(dst):
                    shutil.rmtree(dst)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.move(src, dst)
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            if os.path.isdir(self.path):
                back = f"{self.path.rstrip('/')}__old_{uuid.uuid4().hex[:8]}"
                os.rename(self.path, back)
                os.rename(tmp, self.path)
                shutil.rmtree(back, ignore_errors=True)
            else:
                os.rename(tmp, self.path)

    def vacuum(self, *, min_age_s: int = 3600) -> list[str]:
        """Remove stale `__tmp_*` / `__old_*` siblings left by swaps
        that crashed mid-commit (the swap itself is atomic — the
        crash-injection test proves no data loss — but an interrupted
        run can leave orphaned scratch dirs that cost storage and
        confuse listings; the reference's VACUUM-ish maintenance is
        optimize_storage.py's cleanup section). Returns removed paths.
        Never touches the live table dir, and skips scratch dirs
        modified within `min_age_s` seconds — a concurrent writer's
        in-flight tmp dir must not be destroyed mid-commit."""
        import time

        base = self.path.rstrip("/")
        parent, name = os.path.dirname(base), os.path.basename(base)
        removed: list[str] = []
        if not os.path.isdir(parent):
            return removed
        cutoff = time.time() - min_age_s
        for entry in os.listdir(parent):
            full = os.path.join(parent, entry)
            if (
                os.path.isdir(full)
                and full != base
                and (
                    entry.startswith(f"{name}__tmp_")
                    or entry.startswith(f"{name}__old_")
                )
            ):
                try:
                    newest = max(
                        (
                            os.path.getmtime(os.path.join(dp, f))
                            for dp, _, fs in os.walk(full)
                            for f in fs
                        ),
                        default=os.path.getmtime(full),
                    )
                except OSError:
                    # The dir vanished mid-scan — a concurrent writer
                    # just committed or cleaned it. Leave it alone.
                    continue
                if newest > cutoff:
                    continue  # possibly a live writer's scratch dir
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
        return removed

    def compact(
        self,
        spark: SparkSession,
        *,
        target_file_mb: int = 128,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        n_files: int | None = None,
    ) -> None:
        """Small-file compaction — the OPTIMIZE analog of the reference's
        storage maintenance (sql/schemas/evo/optimize_storage.py:191-269,
        which fights index bloat; parquet's equivalent disease is
        thousands of tiny files from incremental merges). Rewrites the
        table into ≈target-sized files, preserving partitioning.

        `cluster_by` additionally range-partitions and sorts the rewrite
        by the given columns (lexicographic — skips files on the LEADING
        column only); `zorder_by` clusters on a Morton-interleaved key
        (operators.scale.with_zorder) so every output file covers a
        narrow range in EVERY listed column simultaneously — the real
        OPTIMIZE ZORDER, the data-skipping lever that matters at 100 TB,
        where compaction without clustering leaves every file containing
        every key range."""
        df = self.read(spark)
        if n_files is None:
            total_bytes = self._data_bytes()
            n_files = max(1, total_bytes // (target_file_mb * 1024 * 1024))
        if cluster_by or zorder_by:
            df = clustered_rewrite(
                df, cluster_by=cluster_by, zorder_by=zorder_by, n_files=n_files
            )
        elif self.partition_by:
            df = df.repartition(int(n_files), *self.partition_by)
        else:
            df = df.repartition(int(n_files))
        self._swap_write(df)

    def stats(self, spark: SparkSession) -> dict:
        """File-level health report (scripts/health_check.ps1 storage
        section): row count, file count, bytes — the inputs to a
        compaction decision."""
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(self.path)
            for f in fs
            if f.endswith(".parquet")
        ]
        return {
            "n_rows": self.read(spark).count(),
            "n_files": len(files),
            "total_bytes": sum(os.path.getsize(f) for f in files),
        }

    def replace_where(self, df: DataFrame, condition: str) -> None:
        """Partition-scoped overwrite — the reference's partition
        TRUNCATE (normalize_evo_entries_v2.py:112-117 per-year refresh)."""
        spark = df.sparkSession
        if not self.exists():
            self.overwrite(df)
            return
        kept = self.read(spark).filter(f"NOT ({condition})")
        self._swap_write(kept.unionByName(df.filter(condition)))

    # -- MERGE --------------------------------------------------------------

    def _data_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(self.path)
            for f in fs
            if f.endswith(".parquet")
        )

    def _touched_files(self, source: DataFrame):
        """File-level prune for unpartitioned merges: which data files
        can contain a source key? Footer min/max ranges (broadcast —
        one small row per file) are range-joined against the source's
        distinct leading-key values; shuffle is ∝ |source keys|, never
        ∝ table size. Returns (touched, untouched) path lists, or None
        when stats are unusable and the caller must rewrite fully."""
        key = self.key[0]
        ranges = file_key_ranges(self.path, key)
        if ranges is None or not ranges:
            return None
        touched = touched_by_key_ranges(source, key, ranges)
        if touched is None:
            return None
        untouched = [f for f, *_ in ranges if f not in touched]
        return sorted(touched), untouched

    def _commit_file_pruned(self, tmp: str, untouched: list[str]) -> None:
        """Atomic commit of a file-pruned merge: build the next table
        dir from hardlinks to every untouched data file (same inode —
        zero copy, mtimes preserved) plus the freshly written files
        from `tmp`, then swap dirs exactly like a full rewrite.

        Hardlinks carry the ORIGINAL files' old mtimes (code-review
        r3), which would defeat vacuum()'s newest-mtime recency guard
        for in-flight scratch dirs — so a fresh `_inflight` marker file
        is written FIRST into the commit dir, and into the live dir
        just before the rename pair (its `__old_` incarnation inherits
        the marker). Hadoop-style readers ignore underscore-prefixed
        files, and the marker is removed once the swap lands.
        """
        commit = f"{self.path.rstrip('/')}__tmp_{uuid.uuid4().hex[:8]}"
        os.makedirs(commit)
        with open(os.path.join(commit, "_inflight"), "w") as fh:
            fh.write("file-pruned merge commit in progress\n")
        for f in untouched:
            os.link(f, os.path.join(commit, os.path.basename(f)))
        for name in os.listdir(tmp):
            src = os.path.join(tmp, name)
            if os.path.isfile(src) and not name.startswith("."):
                shutil.move(src, os.path.join(commit, name))
        shutil.rmtree(tmp, ignore_errors=True)
        back = f"{self.path.rstrip('/')}__old_{uuid.uuid4().hex[:8]}"
        with open(os.path.join(self.path, "_inflight"), "w") as fh:
            fh.write("swap in progress\n")
        os.rename(self.path, back)
        os.rename(commit, self.path)
        for leftover in ("_inflight",):
            try:
                os.remove(os.path.join(self.path, leftover))
            except OSError:
                pass
        shutil.rmtree(back, ignore_errors=True)

    def merge(
        self,
        source: DataFrame,
        *,
        mode: str = MergeMode.UPDATE_ALL,
        update_subset: Sequence[str] = (),
        source_order: Sequence[str] = (),
    ) -> None:
        """MERGE INTO this table USING source ON key.

        - update_all: matched rows take all source columns (ON CONFLICT
          DO UPDATE SET <everything> — K2/K3);
        - update_subset: matched rows take only `update_subset` columns
          from source, keeping the rest (the memberships
          status/value_next_month partial update,
          normalize_evo_members_v2.py:225-230);
        - do_nothing: matched rows unchanged, only new keys insert (K4
          DO NOTHING tables).

        `source_order` columns (desc) pick the winner when the source
        batch itself contains multiple versions of one key — the batch
        analog of the reference's last-write-wins loop ordering.
        """
        keys = list(self.key)
        if source_order:
            source = latest_wins(source, keys, list(source_order))
        else:
            source = source.dropDuplicates(keys)

        spark = source.sparkSession
        if not self.exists():
            self._write(source, self.path)
            return

        # Unpartitioned tables: file-level pruned rewrite. Only files
        # whose footer key range intersects the source batch are read
        # and rewritten; the rest are carried into the commit as
        # hardlinks. A merge touching 1% of keys rewrites ~1% of files
        # instead of the whole table — the ON CONFLICT analog of the
        # partition-scoped path below. Source columns must be a subset
        # of the target's (adding columns forces a full rewrite so
        # every on-disk file keeps one schema).
        if not self.partition_by and self._data_bytes() >= self.prune_min_bytes:
            on_disk_cols = {c for c, _ in self.read(spark).dtypes}
            if set(source.columns) <= on_disk_cols:
                pr = self._touched_files(source)
                if pr is not None:
                    touched, untouched = pr
                    if not touched:
                        # Pure-insert batch: no existing file can hold a
                        # matching key — append without reading the table.
                        tmp = f"{self.path.rstrip('/')}__tmp_{uuid.uuid4().hex[:8]}"
                        _, src = align_schemas(self.read(spark).limit(0), source)
                        self._write(src, tmp)
                        self._commit_file_pruned(tmp, untouched)
                        return
                    if untouched:
                        tsub = spark.read.parquet(*touched)
                        tsub, src = align_schemas(tsub, source)
                        merged = merge_rows(tsub, src, keys, mode, update_subset)
                        tmp = f"{self.path.rstrip('/')}__tmp_{uuid.uuid4().hex[:8]}"
                        self._write(merged, tmp)
                        self._commit_file_pruned(tmp, untouched)
                        return
                    # touched == every file: fall through to full rewrite

        target = self.read(spark)
        target, source = align_schemas(target, source)

        # Prune the rewrite to partitions the source actually touches
        # (see partition_scope for the NULL and key-migration rules).
        partition_scoped = False
        if self.partition_by:
            partition_scoped, cond = partition_scope(
                target, source, keys, self.partition_by
            )
            if partition_scoped:
                target = target.filter(cond)

        merged = merge_rows(target, source, keys, mode, update_subset)
        self._swap_write(merged, partition_scoped=partition_scoped)
