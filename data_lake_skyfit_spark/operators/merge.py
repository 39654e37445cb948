"""Keyed upsert (MERGE) over parquet-backed tables.

The reference's exactly-once story is idempotent keyed upserts at every
layer: `COPY → INSERT ... ON CONFLICT (keys) DO UPDATE` for staging
(reference: src/evo/loaders/load_evo_members_stg_fast_v2.py:235-279,
src/common/db.py:120-227) with per-table conflict keys and update-column
subsets (SURVEY.md §2.2 K2-K4), `DO NOTHING` insert-only for tag-like
tables (normalize_zendesk.py:723), and TRUNCATE+INSERT full refresh
(normalize_evo_members_v2.py:101-115).

Spark-first realization, parquet-native (no Delta/Iceberg jars): the
same semantics are built from one join + a scoped rewrite:

- full-outer-join target⟷source on the key once, as Delta Lake's MERGE
  rewrite does, with a presence flag on each side; every column picks
  its side per mode (update-all / update-subset / insert-only), and
  the merged row set is written back (`merge_rows`);
- for partitioned tables only the partitions containing source keys are
  rewritten (dynamic partition overwrite) — the 100 TB path: merging a
  day of entries rewrites one year partition's touched files, not the
  table; unpartitioned tables past `prune_min_bytes` rewrite only the
  files whose footer key range meets the source;
- every write commits one way (`ParquetTable._commit`): the next
  numbered version is built in a sibling directory, untouched files are
  carried in as hardlinks, and the table path — a symlink — is swapped
  onto it with one `os.replace`, as Delta Lake commits by swapping one
  pointer. A failed or crashed job leaves the old version readable (the
  transactional-commit property Postgres gave the reference), and the
  table path stays a plain parquet directory to any reader;
- versions kept by `retain_last` give time travel (`read(version=N)`),
  CDC feeds between versions (`diff`, and `changes`, which reads only
  the files the two versions do not share) and idempotent per-writer
  merges (`merge(txn=...)`).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
    order: Sequence[str | Column] = (),
) -> DataFrame:
    """The MERGE row set: ONE full outer join of target and source on
    null-safe key equality, each side carrying a presence flag, and a
    per-column pick of the side (see ParquetTable.merge for the modes):

    - update_all: the source value wherever the key is in the source;
    - do_nothing: the target value wherever the key is in the target;
    - update_subset: `update_subset` columns as update_all, the rest as
      do_nothing — so a match takes only those columns from the source.

    With `order`, a key on both sides counts as in the source only when
    the source's `order` tuple is at least the target's (NULL lowest, as
    in latest_wins): an older source row never replaces a newer one.

    Precondition: target and source are each unique on `keys` (every
    table MERGE writes is; ParquetTable.merge dedupes the source). A
    duplicated key would meet every row with that key on the other side.
    Pure frame construction — callers own deduplication, schema
    alignment, and writing. Both frames must already share one schema.
    """
    cols = target.columns
    t = target.withColumn("__merge_t", F.lit(True))
    s = source.withColumn("__merge_s", F.lit(True))
    if order:
        t = t.withColumn("__merge_o", F.struct(*order))
        s = s.withColumn("__merge_o", F.struct(*order))
    t, s = t.alias("t"), s.alias("s")
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
    in_t = F.col("t.__merge_t").isNotNull()
    in_s = F.col("s.__merge_s").isNotNull()
    if order:
        in_s = in_s & (~in_t | (F.col("s.__merge_o") >= F.col("t.__merge_o")))

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
    dirs self-describing, and only merges past `prune_min_bytes` pay
    for the sweep.
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


def _await_tasks(spark: SparkSession, group: str | None, since: set[int]) -> None:
    """Wait, at most 30 s, until no stage of a job that `group` started
    after the jobs in `since` has an active task. A cancelled job fails
    on the driver before its killed tasks stop, and those tasks can still
    write under the job's output directory."""
    tracker = spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(group)) - since
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        infos = [tracker.getJobInfo(j) for j in jobs]
        stages = [tracker.getStageInfo(s) for i in infos if i for s in i.stageIds]
        if not any(s and s.numActiveTasks for s in stages):
            return
        time.sleep(0.1)


#: Per version: the committed schema (every read of the version passes
#: it to Spark, so none infers one; a version with no data file reads
#: back as zero rows of it) and the writer-transaction watermarks. Spark
#: and pyarrow.dataset skip `_`-prefixed files, so a version stays a
#: plain parquet dataset.
_COMMIT = "_commit.json"


@dataclass
class ParquetTable:
    """A keyed, optionally partitioned parquet table with MERGE/overwrite
    semantics and numbered versions. The unit of storage for STG and CORE
    layers.

    Version N is the sibling directory `<path>__v<N>`: a plain
    (hive-partitioned) parquet dataset plus `_commit.json`. `path` is a
    relative symlink to the live version, and `_commit` — the only write
    that makes data visible — numbers each version one above the live
    one. A directory numbered above the live version is a crashed commit:
    never listed, and replaced by the next commit. Files a commit does
    not rewrite are hardlinks shared with the version before, which is
    how `changes` tells carried data from churn. Single writer per
    table."""

    path: str
    key: Sequence[str]
    partition_by: Sequence[str] = field(default_factory=tuple)
    #: Unpartitioned merges only prune at file level when the table
    #: holds at least this many data bytes: below it, one full-rewrite
    #: job is cheaper than the footer sweep + key-range probe the prune
    #: needs (measured: the prune's fixed cost is ~2 small Spark jobs).
    #: Tables at real scale are always far past this floor.
    prune_min_bytes: int = 64 * 1024 * 1024
    #: How many versions, the live one included, `read(version=N)` can
    #: reach; None keeps every version. At 1 (STG and CORE) a commit
    #: removes the previous version once the new one is live.
    retain_last: int | None = 1

    def __post_init__(self) -> None:
        if self.retain_last is not None and self.retain_last < 1:
            raise ValueError("retain_last must be None or at least 1 (the live version)")

    def exists(self) -> bool:
        return os.path.islink(self.path.rstrip("/"))

    # -- versions -----------------------------------------------------------

    def _dir(self, version: int) -> str:
        return f"{self.path.rstrip('/')}__v{version}"

    def _version_dirs(self) -> dict[int, str]:
        """Every `<path>__v<N>` sibling directory by N: the versions, and
        what crashed commits left behind."""
        base = self.path.rstrip("/")
        parent, prefix = os.path.dirname(base), f"{os.path.basename(base)}__v"
        if not os.path.isdir(parent):
            return {}
        return {
            int(n[len(prefix):]): os.path.join(parent, n)
            for n in os.listdir(parent)
            if n.startswith(prefix) and n[len(prefix):].isdigit()
        }

    def latest_version(self) -> int | None:
        """The live version: the one the table symlink points to."""
        if not self.exists():
            return None
        return int(os.readlink(self.path.rstrip("/")).rsplit("__v", 1)[1])

    def versions(self) -> list[int]:
        """The readable versions, oldest first: the last `retain_last`
        numbered at most the live one."""
        live = self.latest_version()
        vs = sorted(v for v in self._version_dirs() if live is not None and v <= live)
        return vs[-self.retain_last:] if self.retain_last else vs

    def _readable(self, version: int | None) -> int:
        v = self.latest_version() if version is None else version
        if v is None or (version is not None and v not in self.versions()):
            raise FileNotFoundError(f"{self.path} has no readable version {version}")
        return v

    def _meta(self, version: int) -> dict:
        with open(os.path.join(self._dir(version), _COMMIT)) as f:
            return json.load(f)

    def _schema(self, version: int) -> T.StructType:
        return T.StructType.fromJson(self._meta(version)["schema"])

    def _empty(self, spark: SparkSession, version: int) -> DataFrame:
        return spark.createDataFrame([], self._schema(version))

    def _scan(self, spark: SparkSession, version: int, *files: str) -> DataFrame:
        """`files` of `version` (default: all of it) read with the schema
        its commit recorded, partition column types included, so Spark
        launches no schema-inference job; `basePath` keeps the partition
        columns of a file subset."""
        reader = spark.read.schema(self._schema(version))
        if not files:
            return reader.parquet(self._dir(version))
        return reader.option("basePath", self._dir(version)).parquet(*files)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The table as of `version` (default: the live one). A version
        with no data file reads back as zero rows of its schema."""
        v = self._readable(version)
        d = self._dir(v)
        if not any(f.endswith(".parquet") for _, _, fs in os.walk(d) for f in fs):
            return self._empty(spark, v)
        return self._scan(spark, v)

    # -- the commit ---------------------------------------------------------

    def _write(self, df: DataFrame, path: str) -> None:
        w = df.write.mode("overwrite")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(path)

    def _commit(
        self,
        df: DataFrame,
        carry: Callable[[str], Iterable[str]] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Make `df`, plus the live files `carry(new)` lists (relative to
        the table), version N = live + 1 and return N:

        1. Spark writes `df` into `new` = `<path>__v<N>` (a crashed
           commit's leftover there is removed first);
        2. each carried file is hardlinked into `new` at the same place;
        3. `_commit.json` records the schema (partition columns last, as
           a read returns them) and the live version's writer
           watermarks, with `txn` applied;
        4. a relative symlink to `new` (the lake can move) is made inside
           `new` and `os.replace`d onto `path` — the one atomic step;
        5. versions older than the last `retain_last` are removed.

        A crash before step 4 leaves the old version live, after it the
        new one; `vacuum` reclaims what it leaves behind. A failed step
        removes `new` once the write job's tasks have stopped.
        """
        base = self.path.rstrip("/")
        live = self.latest_version()
        version = 0 if live is None else live + 1
        new = self._dir(version)
        link = os.path.join(new, ".link")  # resolves against its final dir
        txns = {} if live is None else self._meta(live)["txns"]
        if txn is not None:
            txns[txn[0]] = txn[1]
        parts = list(self.partition_by)
        schema = T.StructType(
            [f for f in df.schema if f.name not in parts] + [df.schema[c] for c in parts]
        )
        spark = df.sparkSession
        group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        jobs_before = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        if os.path.lexists(new):
            shutil.rmtree(new)
        try:
            self._write(df, new)
            for rel in carry(new) if carry else ():
                dst = os.path.join(new, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.link(os.path.join(base, rel), dst)
            with open(os.path.join(new, _COMMIT), "w") as f:
                json.dump({"schema": schema.jsonValue(), "txns": txns}, f)
            os.symlink(os.path.basename(new), link)
            try:
                os.replace(link, base)
            except IsADirectoryError:
                if os.listdir(base):
                    raise IsADirectoryError(
                        f"{base} is a plain directory (the pre-link table "
                        "layout): move it aside and rewrite the table"
                    )
                os.rmdir(base)  # an empty directory holds no table
                os.replace(link, base)
        except BaseException:
            _await_tasks(spark, group, jobs_before)
            shutil.rmtree(new, ignore_errors=True)
            raise
        if self.retain_last is not None:
            for v, d in self._version_dirs().items():
                if v <= version - self.retain_last:
                    shutil.rmtree(d, ignore_errors=True)
        return version

    def _other_partitions(self, new: str) -> list[str]:
        """Every live file under a partition directory the write to `new`
        did not produce — the carry of a partition-scoped merge."""
        depth = len(self.partition_by)
        written = set(leaf_dirs(new, depth))
        return [
            os.path.relpath(os.path.join(dp, f), self.path)
            for rel in leaf_dirs(self.path, depth)
            if rel not in written
            for dp, _, fs in os.walk(os.path.join(self.path, rel))
            for f in fs
        ]

    def overwrite(self, df: DataFrame) -> int:
        """Full refresh — the reference's TRUNCATE + INSERT (K5). In
        Spark there are no indexes to drop/recreate; the write IS the
        bulk path."""
        return self._commit(df)

    def vacuum(self, *, min_age_s: int = 3600) -> list[str]:
        """Remove every `<path>__*` sibling directory that is not a
        readable version (`versions()`) — what crashed commits left (the
        reference's VACUUM-ish maintenance is optimize_storage.py's
        cleanup section). Returns the removed paths.

        A directory whose newest mtime, of itself or anything in it, is
        within `min_age_s` seconds is kept: it may be a concurrent
        writer's version in flight. Adding a hardlink moves the
        directory's mtime, so a version built from old-mtime hardlinks
        counts as fresh."""
        base = self.path.rstrip("/")
        parent, name = os.path.dirname(base), os.path.basename(base)
        if not os.path.isdir(parent):
            return []
        keep = {self._dir(v) for v in self.versions()}
        cutoff = time.time() - min_age_s
        removed: list[str] = []
        with os.scandir(parent) as entries:
            siblings = [e.path for e in entries if e.name.startswith(f"{name}__")]
        for full in siblings:
            if full in keep or os.path.islink(full) or not os.path.isdir(full):
                continue
            try:
                newest = max(
                    os.lstat(os.path.join(dp, n)).st_mtime
                    for dp, ds, fs in os.walk(full)
                    for n in (".", *ds, *fs)
                )
            except (OSError, ValueError):
                # Vanished mid-scan — a concurrent writer just committed
                # or cleaned it. Leave it alone.
                continue
            if newest <= cutoff:
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
    ) -> int:
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
        if cluster_by and zorder_by:
            raise ValueError("pass cluster_by or zorder_by, not both")
        df = self.read(spark)
        if n_files is None:
            n_files = max(1, self._data_bytes() // (target_file_mb * 1024 * 1024))
        n_files = int(n_files)
        if zorder_by:
            from .scale import with_zorder

            df = (
                with_zorder(df, list(zorder_by))
                .repartitionByRange(n_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif cluster_by:
            df = df.repartitionByRange(n_files, *cluster_by).sortWithinPartitions(*cluster_by)
        elif self.partition_by:
            df = df.repartition(n_files, *self.partition_by)
        else:
            df = df.repartition(n_files)
        return self._commit(df)

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

    def replace_where(self, df: DataFrame, condition: str) -> int:
        """Partition-scoped overwrite — the reference's partition
        TRUNCATE (normalize_evo_entries_v2.py:112-117 per-year refresh)."""
        if not self.exists():
            return self.overwrite(df)
        kept = self.read(df.sparkSession).filter(f"NOT ({condition})")
        return self._commit(kept.unionByName(df.filter(condition)))

    # -- MERGE --------------------------------------------------------------

    def _data_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(self.path)
            for f in fs
            if f.endswith(".parquet")
        )

    def _touched_files(self, source: DataFrame, version: int):
        """File-level prune for unpartitioned merges: which data files
        can contain a source key? Footer min/max ranges (broadcast —
        one small row per file) are range-joined against the source's
        distinct leading-key values; shuffle is ∝ |source keys|, never
        ∝ table size. Returns (touched, untouched) path lists, or None
        when stats are unusable (or not representable in a Spark frame)
        and the caller must rewrite fully."""
        key = self.key[0]
        ranges = file_key_ranges(self._dir(version), key)
        if not ranges:
            return None
        rows = [
            {"file": f, "kmin": lo, "kmax": hi, "has_nulls": nulls}
            for f, lo, hi, nulls in ranges
        ]
        try:
            rdf = source.sparkSession.createDataFrame(rows)
        except Exception:
            return None  # un-inferable stat types
        skeys = source.select(F.col(key).alias("__k")).distinct()
        cond = (
            (F.col("__k") >= F.col("kmin")) & (F.col("__k") <= F.col("kmax"))
        ) | (F.col("__k").isNull() & F.col("has_nulls"))
        touched = {
            r["file"]
            for r in skeys.join(F.broadcast(rdf), cond).select("file").distinct().collect()
        }
        return sorted(touched), [f for f, *_ in ranges if f not in touched]

    def merge(
        self,
        source: DataFrame,
        *,
        mode: str = MergeMode.UPDATE_ALL,
        update_subset: Sequence[str] = (),
        source_order: Sequence[str | Column] = (),
        keep_newer: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """MERGE INTO this table USING source ON key; returns the new
        version.

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
        analog of the reference's last-write-wins loop ordering. With
        `keep_newer`, they also decide against the table: a stored row
        newer by `source_order` is kept (an incremental load of a late,
        older run never rolls a key back).

        `txn=(app_id, n)` makes the merge idempotent per writer, as
        Delta's transaction ids do: every version records each app's
        highest applied n, and a merge at or below it commits nothing and
        returns the live version — a streaming batch redelivered after a
        crash between the sink commit and the checkpoint advance.
        """
        live = self.latest_version()
        if txn is not None and live is not None:
            applied = self._meta(live)["txns"].get(txn[0])
            if applied is not None and applied >= txn[1]:
                return live
        keys = list(self.key)
        order = list(source_order) if keep_newer else []
        if source_order:
            source = latest_wins(source, keys, list(source_order))
        else:
            source = source.dropDuplicates(keys)
        if live is None:
            return self._commit(source, txn=txn)
        merged, carry = self._merged(source, keys, mode, update_subset, order)
        return self._commit(merged, carry, txn=txn)

    def _merged(self, source, keys, mode, update_subset, order):
        """The merge's rewrite and the live files its commit carries."""
        spark = source.sparkSession
        live = self.latest_version()
        target = self.read(spark)

        # Unpartitioned tables: file-level pruned rewrite. Only files
        # whose footer key range intersects the source batch are read
        # and rewritten; the rest are carried into the commit as
        # hardlinks. A merge touching 1% of keys rewrites ~1% of files
        # instead of the whole table — the ON CONFLICT analog of the
        # partition-scoped path below. Source columns must be a subset
        # of the target's (adding columns forces a full rewrite so
        # every on-disk file keeps one schema).
        if (
            not self.partition_by
            and self._data_bytes() >= self.prune_min_bytes
            and set(source.columns) <= set(target.columns)
        ):
            pr = self._touched_files(source, live)
            if pr is not None and pr[1]:  # touched == every file: full rewrite
                touched, untouched = pr
                kept = [os.path.relpath(f, self._dir(live)) for f in untouched]
                if not touched:
                    # Pure-insert batch: no existing file can hold a
                    # matching key — append without reading the table.
                    # The union widens the source's types to the
                    # table's, as merge_rows does, so the new files
                    # match the schema the commit records.
                    empty, src = align_schemas(target.limit(0), source)
                    return empty.unionByName(src), lambda new: kept
                tsub, src = align_schemas(self._scan(spark, live, *touched), source)
                merged = merge_rows(tsub, src, keys, mode, update_subset, order)
                return merged, lambda new: kept

        target, source = align_schemas(target, source)
        # Prune the rewrite to partitions the source actually touches
        # (see partition_scope for the NULL and key-migration rules); the
        # commit carries every other partition.
        if self.partition_by:
            scoped, cond = partition_scope(target, source, keys, self.partition_by)
            if scoped:
                merged = merge_rows(target.filter(cond), source, keys, mode, update_subset, order)
                return merged, self._other_partitions
        return merge_rows(target, source, keys, mode, update_subset, order), None

    # -- history ------------------------------------------------------------

    def _feed(self, old: DataFrame, new: DataFrame, compare_cols, **kw) -> DataFrame:
        from .history import snapshot_diff

        old, new = align_schemas(old, new)
        if compare_cols is None:
            compare_cols = [c for c in old.columns if c not in self.key]
        return snapshot_diff(old, new, list(self.key), list(compare_cols), **kw)

    def diff(
        self,
        spark: SparkSession,
        v_old: int,
        v_new: int,
        *,
        compare_cols: Sequence[str] | None = None,
        include_unchanged: bool = False,
    ) -> DataFrame:
        """Exact CDC feed between two versions (insert / delete / update
        per key, operators.history.snapshot_diff) over both full reads."""
        return self._feed(
            self.read(spark, v_old),
            self.read(spark, v_new),
            compare_cols,
            include_unchanged=include_unchanged,
        )

    def _files(self, version: int) -> dict[tuple[int, int], str]:
        """A version's data files by (st_dev, st_ino)."""
        out = {}
        for dp, _, fs in os.walk(self._dir(self._readable(version))):
            for f in fs:
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(dp, f))
                    out[st.st_dev, st.st_ino] = os.path.join(dp, f)
        return out

    def changes(
        self,
        spark: SparkSession,
        v_old: int,
        v_new: int,
        *,
        compare_cols: Sequence[str] | None = None,
    ) -> DataFrame:
        """`diff(v_old, v_new)`'s rows, reading only the churn: a file
        hardlinked into both versions (same `(st_dev, st_ino)`) is carried
        data that holds no change, so only each side's own files are read
        (with `basePath`, which keeps partition columns) and fed to
        snapshot_diff, where rows a rewrite carried over unmodified fall
        out as 'unchanged'. That one rule covers partition-scoped merges
        (other partitions carried) and file-pruned merges (untouched
        files carried): a daily merge touching 1% of a 100 TB table reads
        ~2% (old + new copies of the churn), where diff() reads 200 TB.

        No `include_unchanged`, deliberately: unchanged rows in carried
        files are exactly the rows this never sees — use
        diff(include_unchanged=True) for a full feed."""
        old, new = self._files(v_old), self._files(v_new)

        def side(version: int, files: list[str]) -> DataFrame:
            if not files:
                return self._empty(spark, version)
            return self._scan(spark, version, *files)

        return self._feed(
            side(v_old, [p for k, p in old.items() if k not in new]),
            side(v_new, [p for k, p in new.items() if k not in old]),
            compare_cols,
        )

    def poll_changes(
        self,
        spark: SparkSession,
        cursor: int | None,
        *,
        compare_cols: Sequence[str] | None = None,
    ) -> tuple[DataFrame, int]:
        """Incremental-consumer loop step: (change feed since `cursor`,
        new cursor). `cursor=None` is initial sync — the whole live
        version as 'insert' rows in the same feed schema; a cursor at the
        live version yields an empty feed and the same cursor back.
        Persist the returned cursor (a version number) next to the
        consumer's own output and the loop is exactly-once under
        replays. A cursor older than `versions()` reaches raises
        FileNotFoundError: re-sync with `cursor=None`."""
        live = self._readable(None)
        if cursor is None:
            feed = self._feed(self._empty(spark, live), self.read(spark), compare_cols)
            return feed, live
        return self.changes(spark, min(cursor, live), live, compare_cols=compare_cols), live
