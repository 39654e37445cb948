"""Spec-driven medallion pipeline: bronze JSONL → STG (deduped raw
payload + lineage) → CORE (typed tables + exploded children).

One parameterized implementation replaces the reference's seven
near-identical normalize_* scripts (SURVEY.md §7.0). Execution maps to
the reference lifecycle (§3):
  load_stg      ≙ loaders (COPY + upsert → here: read + MERGE)
  normalize     ≙ transformers (dedupe-CTE + INSERT..SELECT → here:
                  window dedupe + typed select + MERGE/overwrite)

Everything is declarative DataFrame code — Catalyst prunes the JSON
schema to consumed fields, the bronze read lists only the entity's
not-yet-loaded run directories (the I4 ledger), and the per-entity
MERGE keys come from the spec (K4 fidelity).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import bronze
from ..sources.watermarks import WatermarkStore
from ..specs.base import ChildSpec, EntitySpec
from .merge import ParquetTable

__all__ = ["Lakehouse"]

_LINEAGE = ("_source_file", "_loaded_at", "run_id", "ingestion_date")


class Lakehouse:
    """Filesystem-rooted bronze/stg/core catalog."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # -- paths / tables -----------------------------------------------------

    def stg_table(self, spec: EntitySpec) -> ParquetTable:
        keys = list(spec.stg_key) + (["scope"] if spec.scoped else [])
        return ParquetTable(os.path.join(self.root, "stg", spec.name), keys)

    def core_table(self, spec: EntitySpec) -> ParquetTable:
        keys = list(spec.core_key) + (["scope"] if spec.scoped else [])
        return ParquetTable(
            os.path.join(self.root, "core", spec.name), keys, spec.partition_by
        )

    def child_table(self, spec: EntitySpec, child: ChildSpec) -> ParquetTable:
        keys = list(child.key) + (["scope"] if spec.scoped else [])
        return ParquetTable(os.path.join(self.root, "core", child.name), keys)

    def read(self, layer: str, name: str) -> DataFrame:
        return ParquetTable(os.path.join(self.root, layer, name), ()).read(self.spark)

    # -- bronze → STG -------------------------------------------------------

    def load_stg(
        self,
        spec: EntitySpec,
        *,
        runs: list[str] | None = None,
        scopes: tuple[str, ...] | None = None,
    ) -> ParquetTable:
        """Land bronze JSONL into the staging table: every run of the
        entity, or the `runs` given (`bronze.run_dirs` paths).

        STG keeps the payload as a raw JSON string (schema-on-read,
        ADR-002) + parsed struct + lineage; the MERGE key is the
        reference's STG conflict key (K4). Null-key records are dropped
        (P7) exactly as the loaders do.
        """
        df = bronze.read_bronze(
            self.spark, self.root, spec.source, entity=spec.entity, runs=runs
        )
        if scopes and "scope" in df.columns:
            df = df.filter(F.col("scope").isin(*scopes))  # P5
        return self._load_stg_frame(spec, df)

    def _load_stg_frame(self, spec: EntitySpec, df: DataFrame) -> ParquetTable:
        payload_cols = [c for c in df.columns if c not in _LINEAGE + ("scope", "entity")]
        raw_json = F.to_json(F.struct(*payload_cols))
        df = df.withColumn("raw_data", raw_json).withColumn(
            "raw", F.from_json(F.col("raw_data"), spec.payload_schema)
        )

        for f in spec.required_fields:  # P7 required-field filter
            df = df.filter(F.col(f"raw.{f}").isNotNull())

        if spec.derived_key is not None:
            for name, expr in spec.derived_key().items():
                df = df.withColumn(name, expr)

        key_cols = list(spec.stg_key)
        for k in key_cols:
            src = F.col(k) if k in df.columns else F.col(f"raw.{k}")
            df = df.withColumn(k, src)
            df = df.filter(F.col(k).isNotNull())  # P7 null-key filter

        keep = key_cols + (["scope"] if spec.scoped else []) + ["raw_data", "raw"] + [
            c for c in _LINEAGE if c in df.columns
        ]
        staged = df.select(*dict.fromkeys(keep))

        order = (
            [F.col(f"raw.{spec.dedupe_order}")]
            if spec.dedupe_order not in staged.columns
            else [spec.dedupe_order]
        )
        table = self.stg_table(spec)
        table.merge(staged, source_order=order + ["_source_file"], keep_newer=True)
        return table

    # -- STG → CORE ---------------------------------------------------------

    def normalize_core(self, spec: EntitySpec, *, full_refresh: bool = False) -> None:
        """Typed CORE projection + children (the transformer stage).

        STG is read as is: its MERGE keeps it unique on the STG key plus
        scope, newest row per key (the reference's W1 keep-newest CTE,
        normalize_pipedrive.py:122-133), and the audit's
        `stg_duplicate_keys` check verifies that."""
        stg = self.stg_table(spec).read(self.spark)

        cols = [expr.alias(name) for name, expr in spec.columns().items()]
        if spec.derived_key is not None:
            cols = [F.col(k).alias(k) for k in spec.stg_key] + cols
        if spec.scoped:
            cols.append(F.col("scope"))
        core_df = stg.select(*cols)

        table = self.core_table(spec)
        if full_refresh:
            table.overwrite(core_df)  # K5 TRUNCATE+INSERT
        else:
            table.merge(core_df, mode=spec.merge_mode, update_subset=spec.update_subset)

        for child in spec.children:
            self._normalize_child(spec, child, stg, full_refresh=full_refresh)

    def _normalize_child(
        self,
        spec: EntitySpec,
        child: ChildSpec,
        stg: DataFrame,
        *,
        full_refresh: bool,
    ) -> None:
        """J1: parent ⋈ explode(array) → child table
        (LATERAL jsonb_array_elements, normalize_evo_members_v2.py:292-294)."""
        parent_exprs = {
            out: spec.columns()[src].alias(out) for out, src in child.parent_cols.items()
        }
        arr = F.col(f"raw.{child.array_col}")
        base = stg.filter(arr.isNotNull() & (F.size(arr) > 0))  # P9 guard
        exploded = base.select(
            *parent_exprs.values(),
            *([F.col("scope")] if spec.scoped else []),
            F.explode(arr).alias("x"),
        )
        if child.element_filter is not None:
            exploded = exploded.filter(child.element_filter(F.col("x")))
        child_df = exploded.select(
            *[F.col(out) for out in parent_exprs],
            *([F.col("scope")] if spec.scoped else []),
            *[expr.alias(name) for name, expr in child.columns().items()],
        ).dropDuplicates(list(child.key) + (["scope"] if spec.scoped else []))

        table = self.child_table(spec, child)
        if full_refresh:
            table.overwrite(child_df)
        else:
            table.merge(
                child_df, mode=child.merge_mode, update_subset=child.update_subset
            )

    # -- convenience --------------------------------------------------------

    def run_pipeline(self, spec: EntitySpec, *, full_refresh: bool = False) -> None:
        """Bronze → STG → CORE for one entity (the daily_pipeline.ps1
        sequence collapsed into one driver call), over only the bronze
        runs its ledger (I4) has not recorded. A missing STG table or
        `full_refresh` reads every run; with no new run nothing runs.
        The ledger commits after CORE, as the watermark does (I3)."""
        store = WatermarkStore(self.root)
        runs = bronze.run_dirs(self.spark, self.root, spec.source, spec.entity)
        loaded = (
            store.loaded_runs(spec.source, spec.entity)
            if not full_refresh and self.stg_table(spec).exists()
            else set()
        )
        new = [r for r in runs if r not in loaded]
        if not new:
            return
        self.load_stg(spec, runs=new)
        self.normalize_core(spec, full_refresh=full_refresh)
        store.record_runs(spec.source, spec.entity, set(runs))

    def register_views(self, spec: EntitySpec, scopes: tuple[str, ...] = ()) -> None:
        """P5 per-scope views (sql/schemas/05_scope_views.sql:9-41):
        `core_{name}` plus `core_{name}_{scope}` filtered temp views."""
        core = self.core_table(spec).read(self.spark)
        core.createOrReplaceTempView(f"core_{spec.name}")
        for s in scopes:
            core.filter(F.col("scope") == s).createOrReplaceTempView(
                f"core_{spec.name}_{s}"
            )
