"""Incremental ingestion contract: watermarks, cursors, run manifests.

Reproduces the reference's exactly-once story (SURVEY.md §2.9):

- I1 low-watermark incremental extract with overlap: `since = watermark
  − 5 min`, `until = now`, watermark advanced only after a successful
  run (reference: src/extractors/pipedrive_bronze.py:203,233-240,274).
- I2 cursor/offset change stream: persisted `after_cursor` resumed
  across runs (src/extractors/zendesk_bronze.py:153-204,230-243).
- I3 idempotency: the overlap re-extracts recent rows and every layer
  upserts on its key, so re-runs and overlap duplicates are absorbed
  (docs/OPERATIONS_GUIDE.md "COMPORTAMENTO INCREMENTAL").

- I4 run ledger: the set of bronze run directories each entity has
  loaded, so a daily run reads only the runs it has not (Delta Lake's
  application transaction ids, kept per entity). A set, not a max: a
  late run landed under an older run_id is still new.

Watermark state is driver-side metadata, kilobytes at any scale — it
lives as JSON documents under `_meta/{source}/watermarks/`, exactly the
reference's layout, NOT in a data-plane table. Run manifests land under
`_meta/{source}/runs/run_id={r}/manifest.json` (pipedrive_bronze.py:
299-318). At 100 TB the data plane never touches these files; only the
driver reads them, once per run.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["WatermarkStore", "incremental_filter", "DEFAULT_OVERLAP"]

DEFAULT_OVERLAP = timedelta(minutes=5)  # pipedrive_bronze.py:203

_ISO = "%Y-%m-%dT%H:%M:%S.%f%z"


def _dump_ts(dt: datetime) -> str:
    return dt.astimezone(timezone.utc).strftime(_ISO)


def _load_ts(s: str) -> datetime:
    return datetime.strptime(s, _ISO)


@dataclass
class WatermarkStore:
    """Per-(source, entity[, scope]) watermark + cursor persistence."""

    root: str

    def _path(self, source: str, entity: str, scope: str | None = None) -> str:
        name = f"{entity}__{scope}.json" if scope else f"{entity}.json"
        return os.path.join(self.root, "_meta", source, "watermarks", name)

    # -- I1: time watermarks -------------------------------------------------

    def get(
        self, source: str, entity: str, scope: str | None = None
    ) -> datetime | None:
        """Last successful `until`; None on first run (full backfill)."""
        p = self._path(source, entity, scope)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            doc = json.load(f)
        ts = doc.get("last_successful_until")
        return _load_ts(ts) if ts else None

    def window(
        self,
        source: str,
        entity: str,
        *,
        scope: str | None = None,
        overlap: timedelta = DEFAULT_OVERLAP,
        now: datetime | None = None,
    ) -> tuple[datetime | None, datetime]:
        """(since, until) for this run. `since` backs off by `overlap` so
        rows updated during the previous extraction are re-read; the
        keyed upserts downstream absorb the duplicates (I3)."""
        until = (now or datetime.now(timezone.utc)).astimezone(timezone.utc)
        wm = self.get(source, entity, scope)
        since = (wm - overlap) if wm is not None else None
        return since, until

    def advance(
        self,
        source: str,
        entity: str,
        until: datetime,
        *,
        scope: str | None = None,
        cursor: str | None = None,
    ) -> None:
        """Commit the watermark — call ONLY after the run succeeded
        (pipedrive_bronze.py:274 advances post-success)."""
        doc = {"last_successful_until": _dump_ts(until)}
        if cursor is not None:
            doc["cursor"] = cursor
        _write_atomic(self._path(source, entity, scope), doc)

    # -- I2: opaque cursors --------------------------------------------------

    def get_cursor(
        self, source: str, entity: str, scope: str | None = None
    ) -> str | None:
        p = self._path(source, entity, scope)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f).get("cursor")

    # -- I4: run ledger -------------------------------------------------------

    def _ledger_path(self, source: str, entity: str) -> str:
        return os.path.join(self.root, "_meta", source, "ledger", f"{entity}.json")

    def loaded_runs(self, source: str, entity: str) -> set[str]:
        """Run directories (relative to the source's bronze root, as
        `bronze.run_dirs` lists them) already loaded; empty on first run."""
        p = self._ledger_path(source, entity)
        if not os.path.exists(p):
            return set()
        with open(p) as f:
            return set(json.load(f)["runs"])

    def record_runs(self, source: str, entity: str, runs: set[str]) -> None:
        """Commit the loaded set — call ONLY after both layers landed
        (the I3 contract: a crash before this reloads the runs, and the
        keyed MERGEs absorb the replay)."""
        _write_atomic(self._ledger_path(source, entity), {"runs": sorted(runs)})

    # -- run manifests (K6) --------------------------------------------------

    def write_manifest(self, source: str, run_id: str, manifest: dict) -> None:
        p = os.path.join(
            self.root, "_meta", source, "runs", f"run_id={run_id}", "manifest.json"
        )
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            json.dump(manifest, f, default=str)

    def list_runs(self, source: str) -> list[str]:
        d = os.path.join(self.root, "_meta", source, "runs")
        if not os.path.isdir(d):
            return []
        return sorted(
            n.split("=", 1)[1] for n in os.listdir(d) if n.startswith("run_id=")
        )


def _write_atomic(path: str, doc: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, path)  # atomic commit


def incremental_filter(
    df: DataFrame,
    ts_col: str | Column,
    since: datetime | None,
    until: datetime,
) -> DataFrame:
    """I1 applied to a frame: rows with since < ts <= until. With a
    partitioned/ordered source the predicate pushes down to the scan, so
    incremental runs read only recent files."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    out = df.filter(c <= F.lit(until.astimezone(timezone.utc).replace(tzinfo=None)))
    if since is not None:
        out = out.filter(c > F.lit(since.astimezone(timezone.utc).replace(tzinfo=None)))
    return out
