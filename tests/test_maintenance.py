"""Storage maintenance (compaction) and multimodal→ANN composition."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_lake_skyfit_spark.llm import multimodal, similarity
from data_lake_skyfit_spark.operators.merge import ParquetTable
from data_lake_skyfit_spark.tables import load_table


def test_compact_reduces_file_count(spark, tmp_path):
    # A key-clustered table whose merges take the file-pruned path: the
    # untouched files are carried and the touched one rewritten, so
    # incremental merges leave many small files. (A full-rewrite merge
    # re-sizes the whole table through the join's coalesced shuffle.)
    t = ParquetTable(str(tmp_path / "t"), ["id"], prune_min_bytes=0)
    base = spark.range(0, 2000, 1, 16).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    t.overwrite(base)
    for i in range(3):
        t.merge(
            spark.range(i * 10, i * 10 + 10)
            .select(F.col("id"), F.lit(-1).alias("v"))
            .repartition(8)
        )
    before = t.stats(spark)
    t.compact(spark, target_file_mb=128)
    after = t.stats(spark)
    assert after["n_rows"] == before["n_rows"] == 2000
    assert after["n_files"] < before["n_files"]
    assert after["n_files"] <= 2
    # content preserved:
    assert t.read(spark).filter("v = -1").count() == 30


def test_media_embeddings_feed_ann(spark):
    """Composition: binary payload → extract_embeddings → top-k cosine
    over the extracted features — the multimodal-to-similarity pipeline."""
    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    media = multimodal.attach_binary_payload(d, "text")
    feats = multimodal.extract_embeddings(media, dims=8)
    corpus = feats.select(F.col("doc_id").alias("vec_id"), F.col("features").alias("embedding"))
    queries = corpus.filter(F.col("vec_id") < 3)
    topk = similarity.brute_force_topk(queries, corpus, k=3)
    rows = topk.collect()
    assert len(rows) == 9  # 3 queries × top-3
    assert all(-1.0001 <= r["cosine"] <= 1.0001 for r in rows)
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)


def test_clustered_compaction_enables_file_skipping(spark, tmp_path):
    """compact(cluster_by=...) must produce near-disjoint per-file
    min/max ranges on the cluster column (parquet footer stats), where
    plain compaction leaves every file spanning the full range — the
    data-skipping property that lets predicate scans drop whole files."""
    import os

    import pyarrow.parquet as pq

    from data_lake_skyfit_spark.operators.merge import ParquetTable

    df = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") % 977).alias("v")
    )
    path = str(tmp_path / "clustered")
    t = ParquetTable(path, ["k"])
    # Interleaved writes -> every file covers the whole v range.
    t.overwrite(df.repartition(8))
    t.compact(spark, cluster_by=["v"], n_files=4)

    ranges = []
    for dp, _, fs in os.walk(path):
        for f in fs:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(dp, f)).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == "v"
                )
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2
    ranges.sort()
    # Adjacent files may touch at the range boundary but must not
    # substantially overlap: each file covers a narrow slice.
    span = max(mx for _, mx in ranges) - min(mn for mn, _ in ranges)
    for mn, mx in ranges:
        assert (mx - mn) < span / 2  # no file spans the whole value range


def test_vacuum_removes_only_stale_scratch_dirs(spark, tmp_path):
    import os

    from data_lake_skyfit_spark.operators.merge import ParquetTable

    t = ParquetTable(str(tmp_path / "t"), ["id"])
    t.overwrite(spark.range(10).select(F.col("id"), F.lit(1).alias("v")))
    live = str(tmp_path / os.readlink(t.path))
    # Simulate crashed-commit leftovers (one of the next version) plus an
    # unrelated sibling table.
    stale1 = str(tmp_path / "t__vdeadbeef")
    stale2 = str(tmp_path / "t__v1")
    other = str(tmp_path / "t2")
    for d in (stale1, stale2, other):
        os.makedirs(d)
    # Default min_age protects a concurrent writer's fresh version dir:
    assert t.vacuum() == []
    assert os.path.isdir(stale1)
    removed = t.vacuum(min_age_s=0)
    assert sorted(removed) == sorted([stale1, stale2])
    assert not os.path.isdir(stale1) and not os.path.isdir(stale2)
    assert os.path.isdir(other)  # unrelated dirs untouched
    assert os.path.isdir(live)  # the live version untouched
    assert t.read(spark).count() == 10  # live data untouched


def test_profile_table_exact_and_approx(spark):
    from data_lake_skyfit_spark.functions.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (None, "b")], "k long, s string"
    )
    got = {r["column"]: r for r in profile_table(df).collect()}
    assert got["k"]["n_rows"] == 4 and got["s"]["n_rows"] == 4
    assert (got["k"]["n_nulls"], got["k"]["n_distinct"]) == (1, 3)
    assert (got["s"]["n_nulls"], got["s"]["n_distinct"]) == (1, 2)
    # Approx mode: same shape, HLL++ estimates close at this scale.
    approx = {r["column"]: r for r in profile_table(df, approx=True).collect()}
    assert approx["k"]["n_nulls"] == 1
    assert abs(approx["k"]["n_distinct"] - 3) <= 1


def test_equi_width_histogram(spark):
    from data_lake_skyfit_spark.functions.profile import equi_width_histogram

    df = spark.createDataFrame(
        [(0.0,), (1.0,), (2.5,), (9.9,), (10.0,), (None,)], "x double"
    )
    h = {r["bucket"]: r for r in equi_width_histogram(df, "x", 4).collect()}
    # range [0,10], width 2.5: 0,1 → b0; 2.5 → b1; 9.9,10 → b3 (max clamps)
    assert h[0]["n"] == 2 and h[1]["n"] == 1 and h[3]["n"] == 2
    assert 2 not in h  # empty buckets are omitted
    assert h[0]["bucket_lo"] == 0.0 and h[3]["bucket_lo"] == 7.5
    assert abs(sum(r["frac"] for r in h.values()) - 1.0) < 1e-12

    # degenerate range: single value lands in bucket 0
    one = spark.createDataFrame([(5.0,), (5.0,)], "x double")
    rows = equi_width_histogram(one, "x", 4).collect()
    assert len(rows) == 1 and rows[0]["bucket"] == 0 and rows[0]["n"] == 2

    # all-NULL input → empty histogram with stable schema
    nulls = spark.createDataFrame([(None,), (None,)], "x double")
    empty = equi_width_histogram(nulls, "x", 4)
    assert empty.count() == 0
    assert empty.columns == ["bucket", "bucket_lo", "n", "frac"]


def test_zorder_compaction_skips_on_every_dimension(spark, tmp_path):
    """compact(zorder_by=[a, b]) must give every file a narrow min/max
    range in BOTH columns (parquet footer stats), where lexicographic
    cluster_by=[a] leaves b spanning the full range in every file —
    the multi-dimensional data-skipping property of a Morton key."""
    import os

    import pyarrow.parquet as pq

    from data_lake_skyfit_spark.operators.merge import ParquetTable

    # 2D uniform grid: a and b are independent.
    df = spark.range(0, 16384).select(
        (F.col("id") % 128).alias("a"), (F.col("id") / 128).cast("long").alias("b")
    )

    def file_ranges(path, col_name):
        out = []
        for dp, _, fs in os.walk(path):
            for f in fs:
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(dp, f)).metadata
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    col = next(
                        md.row_group(rg).column(i)
                        for i in range(md.num_columns)
                        if md.row_group(rg).column(i).path_in_schema == col_name
                    )
                    mins.append(col.statistics.min)
                    maxs.append(col.statistics.max)
                out.append((min(mins), max(maxs)))
        return out

    lex = ParquetTable(str(tmp_path / "lex"), ["a"])
    lex.overwrite(df.repartition(8))
    lex.compact(spark, cluster_by=["a"], n_files=4)
    # Lexicographic on a: b is unconstrained — every file spans ~all of b.
    assert all(mx - mn > 0.9 * 127 for mn, mx in file_ranges(lex.path, "b"))

    zt = ParquetTable(str(tmp_path / "zt"), ["a"])
    zt.overwrite(df.repartition(8))
    zt.compact(spark, zorder_by=["a", "b"], n_files=4)
    ra, rb = file_ranges(zt.path, "a"), file_ranges(zt.path, "b")
    assert len(ra) >= 2
    # Four files over a 2D grid ≈ quadrants. Range-partition boundaries
    # are sampled, so a single file may straddle a quadrant cut — assert
    # on the mean: files cover roughly half of each dimension on
    # average, instead of all of both the way unclustered files do.
    mean = lambda rs: sum(mx - mn for mn, mx in rs) / len(rs)  # noqa: E731
    assert mean(ra) <= 0.75 * 127, ra
    assert mean(rb) <= 0.75 * 127, rb
    # No rows lost by the rewrite.
    assert zt.read(spark).count() == 16384
