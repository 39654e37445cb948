"""Physical-plan assertions for the headline queries — the 100 TB
health checks. A query can be correct and still disastrous at scale;
these tests pin the plan properties that make it scale:

- predicate pushdown reaches the parquet scan (PushedFilters)
- column pruning reaches the scan (ReadSchema ⊂ table schema)
- dim joins broadcast (no shuffle of the fact side)
- aggregations partial-combine (two HashAggregate phases)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lake_skyfit_spark import queries


@pytest.fixture(scope="module")
def qreg():
    return queries.registry()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = l.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = _physical(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = l.select("l_orderkey", "l_quantity")
    plan = _physical(df)
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    # untouched wide columns must NOT be read:
    assert "l_comment" not in read_schema
    assert "l_extendedprice" not in read_schema


def test_star_join_broadcasts_all_dims(spark, sf_dir, qreg):
    df = qreg["multiway_star_join"].fn(spark, sf_dir)
    plan = _physical(df)
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan  # the fact side never shuffles for a join


def test_aggregation_partial_combines(spark, sf_dir, qreg):
    df = qreg["pricing_summary"].fn(spark, sf_dir)
    plan = _physical(df)
    # partial + final HashAggregate = map-side combine before the shuffle
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_anti_join_stays_broadcast(spark, sf_dir, qreg):
    df = qreg["orphan_check_anti_join"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_whole_stage_codegen_covers_scalar_suite(spark, sf_dir, qreg):
    df = qreg["scalar_function_suite"].fn(spark, sf_dir)
    plan = _physical(df)
    # '*(n)' prefixes mark operators fused into a WholeStageCodegen stage
    assert "*(1)" in plan


def test_exact_dedup_shuffles_hash_not_text(spark, sf_dir, qreg):
    """The dedup shuffle must carry the 16-byte hash, not document text."""
    df = qreg["dedup_exact"].fn(spark, sf_dir)
    plan = _physical(df)
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert ex and all("text" not in ln for ln in ex)


def test_pii_scan_is_shuffle_free_map(spark, sf_dir, qreg):
    """PII redaction must run at scan speed: a single codegen'd map
    stage with zero exchanges."""
    df = qreg["pii_scan_redaction"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "Exchange" not in plan
    assert "*(1)" in plan  # whole-stage codegen covers the regexp map


def test_oov_vocab_broadcasts_not_corpus(spark, sf_dir, qreg):
    """OOV scoring joins the exploded corpus against the K-row vocab:
    the vocab side must broadcast; the corpus must never shuffle by
    token for the join (its only exchanges are the vocab aggregation
    and the per-doc count)."""
    df = qreg["text_vocab_oov"].fn(spark, sf_dir)
    plan = _physical(df)
    # Both the vocab lookup and the per-doc result join broadcast.
    assert plan.count("BroadcastHashJoin") == 2
    # The one exchange keyed by token is the vocab aggregation, and it
    # must be fed by a partial (map-side combined) aggregate — i.e. only
    # distinct tokens per partition cross the wire, never raw corpus.
    lines = plan.splitlines()
    tok_ex = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning(__tok" in ln]
    assert tok_ex and all("partial_count" in lines[i + 1] for i in tok_ex)


def test_mixture_sample_filters_map_side(spark, sf_dir, qreg):
    """Temperature sampling must broadcast the per-group thresholds and
    filter the corpus map-side — the corpus never shuffles."""
    df = qreg["corpus_mixture_sample"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan
    # The only exchanges aggregate the K-row group counts, never the
    # corpus: no exchange may partition by doc_id.
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert all("doc_id" not in ln for ln in ex)


def test_document_chunking_is_shuffle_free(spark, sf_dir, qreg):
    """Chunking is map + explode only — no exchange anywhere."""
    df = qreg["document_chunking"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "Exchange" not in plan


def test_table_profile_is_single_scan(spark, sf_dir, qreg):
    """The profiler's claim is ONE aggregation pass for all columns: the
    physical plan must contain exactly one file scan (Spark's Expand
    handles the multi-distinct, never a per-column job or union of
    scans), with partial aggregation before the shuffle."""
    df = qreg["table_profile"].fn(spark, sf_dir)
    plan = _physical(df)
    assert plan.count("FileScan") == 1
    assert "Expand" in plan and "partial" in plan


def test_sharded_probe_broadcasts_query_side(spark, sf_dir, qreg):
    """Sub-exhaustive ANN: the exploded query×probe side must broadcast
    into the shard equi-join — the corpus shuffles by shard at most
    once, never pairwise."""
    df = qreg["ann_sharded_probe_topk"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_multimodal_decode_stays_arrow_batched(spark, sf_dir, qreg):
    """Real-codec queries must run the payload through ONE Arrow
    mapInPandas stage each for encode and decode — no row-at-a-time
    Python UDF (BatchEvalPython) anywhere in the plan."""
    for name in ("multimodal_decode_images", "multimodal_decode_audio"):
        plan = _physical(qreg[name].fn(spark, sf_dir))
        assert "MapInPandas" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_file_pruned_merge_probe_broadcasts_ranges(spark, tmp_path):
    """The merge's touched-file probe must broadcast the per-file range
    frame (one small row per file) against the source's distinct keys —
    shuffle ∝ source keys, never ∝ table size."""
    from data_lake_skyfit_spark.operators.merge import (
        ParquetTable,
        file_key_ranges,
    )
    from pyspark.sql import functions as F  # noqa: F811

    t = ParquetTable(str(tmp_path / "probe"), ["id"], prune_min_bytes=0)
    t.overwrite(
        spark.range(10_000)
        .select(F.col("id"), F.lit(1).alias("v"))
        .repartitionByRange(8, "id")
    )
    ranges = file_key_ranges(t.path, "id")
    rows = [
        {"file": f, "kmin": lo, "kmax": hi, "has_nulls": nulls}
        for f, lo, hi, nulls in ranges
    ]
    rdf = spark.createDataFrame(rows)
    skeys = spark.range(100, 200).select(F.col("id").alias("__k")).distinct()
    cond = (
        (F.col("__k") >= F.col("kmin")) & (F.col("__k") <= F.col("kmax"))
    ) | (F.col("__k").isNull() & F.col("has_nulls"))
    probe = skeys.join(F.broadcast(rdf), cond).select("file").distinct()
    plan = _physical(probe)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_trigram_language_id_is_shuffle_free_map(spark, sf_dir, qreg):
    """The trigram scorer must stay a pure codegen scalar map: per-doc
    replace-counts, cosine and argmax all compute in one scan pipeline
    (scan-speed at 100 TB). The ONLY exchange allowed is the r10
    small-input row spread (REPARTITION_BY_NUM — a no-op on real
    multi-split scans); no shuffle may come from the scoring itself."""
    plan = _physical(qreg["text_language_id_trigram"].fn(spark, sf_dir))
    assert plan.count("Exchange") == plan.count("REPARTITION_BY_NUM")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_versioned_diff_is_single_outer_join(spark, sf_dir, tmp_path):
    """ParquetTable.diff between two kept versions must be ONE
    full-outer hash join on the key — never a window or an interval
    product; the version reads feed it directly."""
    from pyspark.sql import functions as F

    from data_lake_skyfit_spark.operators.merge import ParquetTable
    from data_lake_skyfit_spark.tables import load_table

    t = ParquetTable(str(tmp_path / "vt"), ("event_id",), retain_last=2)
    base = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("value").cast("double").alias("value")
    ).filter(F.col("event_id") < 2000)
    v0 = t.overwrite(base)
    v1 = t.merge(base.withColumn("value", F.col("value") * 2).filter(
        F.col("event_id") % 3 == 0
    ))
    plan = _physical(t.diff(spark, v0, v1, compare_cols=("value",)))
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert "FullOuter" in plan
    assert "Window" not in plan and "Cartesian" not in plan


def test_video_pipeline_identity_join_keys_are_hashes(spark, sf_dir, qreg):
    """The whole-video identity self-join must shuffle the 8-byte
    xxhash64 of the concatenated frame signature, never the signature
    string itself (unbounded — hundreds of KB for an hour of video);
    the full string travels once as a VALUE to exact-confirm candidate
    pairs (r5 verdict #3, the containment two-pass discipline)."""
    df = qreg["multimodal_video_pipeline"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "xxhash64" in plan
    keys = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert keys and all("_sig" not in ln for ln in keys)
