"""Medallion-pipeline battery queries: the reference's core loop —
bronze JSONL.GZ → STG latest-wins dedupe → typed CORE upsert — made
driver-checkable (round-1 VERDICT "What's missing" #3: these operators
were pytest-green but invisible to the driver gate).

Each query builds a DETERMINISTIC bronze fixture from the driver's own
`events` parquet at call time (two ingestion runs, injected dirty rows,
nested-array payloads), runs the real pipeline operators on it
(sources.bronze writer/reader, operators.dedupe.latest_wins,
operators.merge.ParquetTable), and returns the resulting frame. Because
the fixture is a pure function of `events`, the DuckDB oracle is plain
SQL over the pre-registered `events` view — no filesystem coupling.

Reference semantics exercised:
- S1/K1  gzipped JSONL bronze parts (pipedrive_bronze.py:145-146,204-210)
- S2/S3  Hive-partitioned pruning + run discovery
- S8/P7/P11  staging scan, null-key drop, safe typed casts
  (load_evo_members_stg_fast_v2.py:215-279)
- W1  rn=1 latest-wins dedupe (normalize_pipedrive.py:122-151)
- K2/K3/I3/K5  keyed upsert, source-order winners, idempotent re-run,
  TRUNCATE+INSERT (src/common/db.py:120-227)
- P2/J1  nested path projection + array explode
  (normalize_evo_members_v2.py:292-294)
- 2.10-hash  md5 surrogate entry key (ADR-004)
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.hashing import md5_prefix
from .operators.dedupe import latest_wins
from .operators.merge import ParquetTable
from .queries import register, _t
from .sources import bronze

_SOURCE = "battery"

_EVENTS_PAYLOAD = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ts_us", T.LongType()),
    ]
)


def _events_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts lowered to epoch micros — bronze JSON carries raw
    integers (the reference lands epoch/string fields, never typed
    timestamps), and micros round-trip exactly where ISO strings and
    double epochs would not."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


def _land(df: DataFrame, root: str, *, entity: str, date: str, run: str) -> None:
    bronze.write_bronze(
        df.withColumn("entity", F.lit(entity))
        .withColumn("ingestion_date", F.lit(date))
        .withColumn("run_id", F.lit(run)),
        root,
        _SOURCE,
    )


@register(
    "medallion_bronze_to_stg",
    """
    SELECT event_id, user_id, event_type, ts,
           CASE WHEN event_id % 2 = 0 THEN value + 100 ELSE value END AS value,
           CAST(CASE WHEN event_id % 2 = 0 THEN 2 ELSE 1 END AS INT) AS src_run,
           SUBSTRING(MD5(CONCAT_WS('|',
             CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR), event_type)), 1, 15) AS entry_key
    FROM events
    """,
    tags=("S1", "S2", "K1", "S8", "W1", "W2", "P7", "P11", "2.10-hash", "K4"),
    doc="The reference's bronze→STG loop end-to-end on a deterministic "
    "fixture: land TWO gzipped-JSONL ingestion runs (run 2 re-sends "
    "even-keyed events with updated values) plus null-key dirty rows, "
    "read back with partition pruning + explicit schema, drop null keys "
    "(P7), latest-wins per event_id ordered by run (W1, "
    "normalize_pipedrive.py:122-151), project typed columns + the "
    "ADR-004 md5 entry key. Oracle: the fixture is a pure function of "
    "`events`, so the expected STG state is plain SQL over it.",
)
def medallion_bronze_to_stg(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = tempfile.mkdtemp(prefix="skyfit_med_stg_")
    e = _events_src(spark, sf_dir)

    dirty = e.filter(F.col("event_id") < 5).withColumn(
        "event_id", F.lit(None).cast("long")
    )
    _land(e.unionByName(dirty), root, entity="events", date="2024-02-01", run="1")
    _land(
        e.filter(F.col("event_id") % 2 == 0).withColumn("value", F.col("value") + 100),
        root,
        entity="events",
        date="2024-02-02",
        run="2",
    )

    raw = bronze.read_bronze(
        spark, root, _SOURCE, entity="events", schema=_EVENTS_PAYLOAD
    )
    stg = raw.filter(F.col("event_id").isNotNull())  # P7 null-key drop
    deduped = latest_wins(
        stg, ["event_id"], ["run_id"], tie_breakers=["_source_file"]
    )
    return deduped.select(
        "event_id",
        "user_id",
        "event_type",
        F.timestamp_micros(F.col("ts_us")).cast("timestamp_ntz").alias("ts"),
        "value",
        F.col("run_id").cast("int").alias("src_run"),
        md5_prefix([F.col("event_id"), F.col("user_id"), F.col("event_type")]).alias(
            "entry_key"
        ),
    )


@register(
    "medallion_upsert_roundtrip",
    """
    SELECT event_id, user_id, event_type, ts,
           CASE WHEN event_id % 10 = 0 THEN value + 1000 ELSE value END AS value
    FROM events
    """,
    tags=("K2", "K3", "K5", "I3", "W1"),
    doc="Bulk keyed upsert with source-order winners and idempotent "
    "re-run: full-refresh a parquet STG table from events (K5 "
    "TRUNCATE+INSERT), MERGE a delta holding TWO versions of every "
    "hot key (source_order picks the newer — the reference's "
    "last-write-wins ON CONFLICT loop, db.py:120-227), then re-run the "
    "same MERGE (I3: second application must be a no-op). Oracle: "
    "latest version per key over `events`.",
)
def medallion_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    path = tempfile.mkdtemp(prefix="skyfit_med_upsert_") + "/stg_events"
    table = ParquetTable(path, ["event_id"])
    table.overwrite(e)  # K5 full refresh

    hot = e.filter(F.col("event_id") % 10 == 0)
    delta = (
        hot.withColumn("value", F.col("value") + 500)
        .withColumn("src_run", F.lit(1))
        .unionByName(
            hot.withColumn("value", F.col("value") + 1000).withColumn(
                "src_run", F.lit(2)
            )
        )
    )
    table.merge(delta, source_order=["src_run"])
    table.merge(delta, source_order=["src_run"])  # I3: idempotent re-run
    return table.read(spark).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )


_NESTED_PAYLOAD = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField(
            "entries",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("event_id", T.LongType()),
                        T.StructField("event_type", T.StringType()),
                        T.StructField("value", T.DoubleType()),
                    ]
                )
            ),
        ),
    ]
)


@register(
    "medallion_nested_explode",
    "SELECT user_id, event_id, event_type, value FROM events",
    tags=("P2", "J1", "S1", "P9"),
    doc="Nested-payload bronze → exploded child rows: land one JSONL "
    "document per user holding an `entries` array-of-structs (the "
    "reference's memberships JSONB array), read with an explicit nested "
    "schema, guard non-empty arrays (P9), LATERAL-explode (J1 ≙ "
    "jsonb_array_elements, normalize_evo_members_v2.py:292-294) and "
    "project nested paths (P2). Oracle: flattening the grouped fixture "
    "recovers `events` exactly.",
)
def medallion_nested_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = tempfile.mkdtemp(prefix="skyfit_med_nested_")
    e = _t(spark, sf_dir, "events")
    nested = e.groupBy("user_id").agg(
        F.collect_list(F.struct("event_id", "event_type", "value")).alias("entries")
    )
    _land(nested, root, entity="user_entries", date="2024-02-01", run="1")

    raw = bronze.read_bronze(
        spark, root, _SOURCE, entity="user_entries", schema=_NESTED_PAYLOAD
    )
    arr = F.col("entries")
    base = raw.filter(arr.isNotNull() & (F.size(arr) > 0))  # P9 guard
    return base.select("user_id", F.explode(arr).alias("x")).select(
        "user_id",
        F.col("x.event_id").alias("event_id"),
        F.col("x.event_type").alias("event_type"),
        F.col("x.value").alias("value"),
    )


@register(
    "versioned_time_travel",
    """
    WITH base AS (
      SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value
      FROM events WHERE event_id % 4 = 1
    ),
    v0 AS (SELECT * FROM base WHERE event_id % 7 <> 0),
    src AS (
      SELECT event_id, user_id, event_type, value * 2 AS value
      FROM base WHERE event_id % 3 = 0
    ),
    v1 AS (
      SELECT * FROM src
      UNION ALL
      SELECT * FROM v0 WHERE event_id % 3 <> 0
    ),
    d AS (
      SELECT COALESCE(o.event_id, n.event_id) AS event_id,
             CASE WHEN o.event_id IS NULL THEN 'insert'
                  WHEN n.event_id IS NULL THEN 'delete'
                  WHEN o.value IS DISTINCT FROM n.value THEN 'update'
                  ELSE 'unchanged' END AS change_type,
             o.value AS value_old, n.value AS value_new
      FROM v0 o FULL OUTER JOIN v1 n ON o.event_id = n.event_id
    )
    SELECT 'v0_read' AS leg, event_id, user_id, event_type,
           CAST(NULL AS VARCHAR) AS change_type,
           value AS value_old, CAST(NULL AS DOUBLE) AS value_new
    FROM v0
    UNION ALL
    SELECT 'v1_read', event_id, user_id, event_type, NULL, NULL, value FROM v1
    UNION ALL
    SELECT 'diff', event_id, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           change_type, value_old, value_new
    FROM d WHERE change_type <> 'unchanged'
    UNION ALL
    SELECT 'v2_compacted', event_id, user_id, event_type, NULL, NULL, value
    FROM v1
    """,
    tags=("versioned", "time-travel"),
    doc="Table versions under the driver hash check (VERDICT r3 "
    "'What's missing' #3): build a ParquetTable that keeps every version "
    "(retain_last=None) from a pure function of `events` — overwrite v0 "
    "(event_id % 7 <> 0), MERGE v1 (event_id % 3 = 0 at doubled value: "
    "inserts + updates), then TIME-TRAVEL read(v0) lazily, after v1 and "
    "v2 committed, read(v1), diff(v0, v1), and COMPACT v2 (key-clustered "
    "rewrite) + re-read — per-row output of all four legs, so the "
    "version directories, the MERGE, the CDC feed AND the OPTIMIZE path "
    "are each hash-graded, not pytest-asserted (compaction must be a "
    "pure layout change: its leg hashes identical rows to v1_read under "
    "a different label). Oracle is plain SQL replaying the same "
    "overwrite/upsert algebra. Doubling a DOUBLE is an exponent bump "
    "(exact both engines); NULL values stay 'unchanged' under null-safe "
    "compare on both sides.",
)
def versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = tempfile.mkdtemp(prefix="skyfit_versioned_tt_")
    t = ParquetTable(root + "/events_versioned", ("event_id",), retain_last=None)
    base = (
        _t(spark, sf_dir, "events")
        # deterministic quarter of the table: the graded machinery is the
        # version/MERGE/diff plumbing, not scan volume (bench r4)
        .filter(F.col("event_id") % 4 == 1)
        .select(
            "event_id", "user_id", "event_type",
            F.col("value").cast("double").alias("value"),
        )
    )
    v0 = t.overwrite(base.filter(F.col("event_id") % 7 != 0))
    v1 = t.merge(
        base.filter(F.col("event_id") % 3 == 0).withColumn(
            "value", F.col("value") * 2
        )
    )
    old_read = t.read(spark, v0)  # time travel: read lazily after v1 and v2 commit
    new_read = t.read(spark, v1)
    d = t.diff(spark, v0, v1, compare_cols=("value",))

    null_str = F.lit(None).cast("string")
    null_dbl = F.lit(None).cast("double")
    leg_old = old_read.select(
        F.lit("v0_read").alias("leg"),
        "event_id",
        "user_id",
        "event_type",
        null_str.alias("change_type"),
        F.col("value").alias("value_old"),
        null_dbl.alias("value_new"),
    )
    leg_new = new_read.select(
        F.lit("v1_read").alias("leg"),
        "event_id",
        "user_id",
        "event_type",
        null_str.alias("change_type"),
        null_dbl.alias("value_old"),
        F.col("value").alias("value_new"),
    )
    leg_diff = d.select(
        F.lit("diff").alias("leg"),
        "event_id",
        F.lit(None).cast("long").alias("user_id"),
        null_str.alias("event_type"),
        "change_type",
        F.col("old_value").alias("value_old"),
        F.col("new_value").alias("value_new"),
    )
    v2 = t.compact(spark, cluster_by=("event_id",), n_files=2)
    leg_compacted = t.read(spark, v2).select(
        F.lit("v2_compacted").alias("leg"),
        "event_id",
        "user_id",
        "event_type",
        null_str.alias("change_type"),
        null_dbl.alias("value_old"),
        F.col("value").alias("value_new"),
    )
    out = (
        leg_old.unionByName(leg_new)
        .unionByName(leg_diff)
        .unionByName(leg_compacted)
    )
    # This query writes THREE versions (overwrite, merge, compact) under
    # a fresh mkdtemp per invocation; eagerly checkpointing the
    # result lets the parquet tree be deleted NOW instead of leaking
    # tens of MB per verify/bench cycle (code-review r4). The caller
    # still collects lazily from the checkpointed blocks.
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "watermark_incremental_runs",
    """
    SELECT 'run1_backfill' AS run, event_id FROM events
    WHERE ts <= TIMESTAMP '2024-01-11 00:00:00'
    UNION ALL
    SELECT 'run2_incremental', event_id FROM events
    WHERE ts > TIMESTAMP '2024-01-11 00:00:00' - INTERVAL 5 MINUTE
      AND ts <= TIMESTAMP '2024-01-21 00:00:00'
    UNION ALL
    SELECT 'run3_replay', event_id FROM events
    WHERE ts > TIMESTAMP '2024-01-21 00:00:00' - INTERVAL 5 MINUTE
      AND ts <= TIMESTAMP '2024-01-21 00:00:00'
    """,
    tags=("I1", "I3", "K6"),
    doc="The I1/I3 watermark machinery itself under the driver hash "
    "check (VERDICT r3 'What's missing' #2 — the REST half stays "
    "structurally pytest-only, but the watermark/overlap arithmetic is "
    "filesystem-backed and gradable): a REAL WatermarkStore in a fresh "
    "root drives three pulls over `events` with PINNED clocks — run 1 "
    "backfills (no watermark: since=None), advance() commits ONLY "
    "after success, run 2's window backs off the stored watermark by "
    "the 5-minute overlap (re-pulling boundary rows the downstream "
    "keyed upsert absorbs — I3), and run 3 replays run 2's clock to "
    "show the committed watermark makes re-runs pull only the overlap. "
    "Per-row (run, event_id) output, so any boundary arithmetic error "
    "(>=/>, overlap sign, tz) hash-mismatches exactly. A run manifest "
    "is written per pull (K6) and the third leg asserts via "
    "list_runs() that all three committed.",
)
def watermark_incremental_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime, timezone

    from .sources.watermarks import WatermarkStore, incremental_filter

    store = WatermarkStore(root=tempfile.mkdtemp(prefix="skyfit_wm_runs_"))
    e = _t(spark, sf_dir, "events").select("event_id", "ts")
    t1 = datetime(2024, 1, 11, tzinfo=timezone.utc)
    t2 = datetime(2024, 1, 21, tzinfo=timezone.utc)

    legs = []
    for run_id, leg, now in (
        ("r1", "run1_backfill", t1),
        ("r2", "run2_incremental", t2),
        ("r3", "run3_replay", t2),
    ):
        since, until = store.window("battery", "events", now=now)
        pulled = incremental_filter(e, "ts", since, until).select(
            F.lit(leg).alias("run"), "event_id"
        )
        legs.append(pulled)
        # commit AFTER the (lazy) pull is defined — grading runs the
        # legs later, but the watermark contract is per-run metadata,
        # not data-plane state, so advancing here mirrors the
        # reference's post-success ordering at run granularity
        store.advance("battery", "events", until)
        store.write_manifest("battery", run_id, {"leg": leg, "until": str(until)})
    if store.list_runs("battery") != ["r1", "r2", "r3"]:  # K6 manifests
        raise RuntimeError("watermark battery: run manifests not committed")
    out = legs[0].unionByName(legs[1]).unionByName(legs[2])
    return out


@register(
    "rest_pagination_landing",
    """
    WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
    k AS (SELECT UNNEST(range(0, (SELECT n FROM c))) AS id),
    q AS (SELECT n // 4 AS qd, n FROM c)
    SELECT 'skip_take' AS protocol, 'r1' AS run, CAST(k.id AS BIGINT) AS rec_id,
           CAST((k.id - LEAST(k.id // q.qd, 3) * q.qd) // 37 AS INT) AS page_no,
           CAST(LEAST(k.id // q.qd, 3) AS INT) AS part
    FROM k, q
    UNION ALL
    SELECT 'cursor', 'r1', CAST(id AS BIGINT), CAST(id // 43 AS INT),
           CAST(-1 AS INT) FROM k
    UNION ALL
    SELECT 'next_page', 'r1', CAST(id AS BIGINT), CAST(id // 29 AS INT),
           CAST(-1 AS INT) FROM k
    UNION ALL
    SELECT 'cursor_export', 'run1', CAST(id AS BIGINT), CAST(-1 AS INT),
           CAST(-1 AS INT) FROM k, q WHERE id < q.qd * 2
    UNION ALL
    SELECT 'cursor_export', 'run2', CAST(id AS BIGINT), CAST(-1 AS INT),
           CAST(-1 AS INT) FROM k, q WHERE id >= q.qd * 2 - 10
    """,
    tags=("S4", "S5", "S6", "S7", "I2", "I4", "K1", "S2", "no-bench"),
    doc="(no-bench: like image_neardup_incremental, this entry "
    "deliberately WRITES five partitioned gzipped-JSONL bronze datasets "
    "and lists them back — pipeline-maintenance cost, not query "
    "latency.) The REST pagination family's LANDING semantics under the "
    "driver hash gate (VERDICT r4 next #8 — the HTTP half stays "
    "structurally pytest-only, but page arithmetic, stop conditions, "
    "cursor resume and the landed bytes are all file-backed and "
    "gradable). Four real connector protocols drain deterministic "
    "in-process fetchers over a corpus sized by the customer table: "
    "S4 skip/take (take=37, stop on short page) runs DISTRIBUTED via "
    "extract_periods_to_bronze — generate_periods' I4 chunks fan out "
    "as Spark tasks, each draining its period's page iterator "
    "executor-side; S5 opaque-cursor (43/page), S6 next_page-URL "
    "snapshot (29/page) and S7/I2 incremental cursor export (two runs "
    "with a 10-record server-side overlap re-delivery, resume from the "
    "persisted cursor) drain driver-side (per-stream pagination is "
    "inherently sequential; the period fan-out IS the distributed "
    "story). Every record lands through land_bronze (K1 gzipped JSONL "
    "parts, Hive-partitioned by entity/run) and the output is read "
    "BACK from the landed files via the partition-pruned bronze scan "
    "(S2) — so the oracle's closed-form page replay checks the whole "
    "serve→paginate→land→list→read chain, and any boundary error "
    "(short-page stop, cursor off-by-one, overlap sign, lost page) "
    "hash-mismatches exactly.",
)
def rest_pagination_landing(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    from datetime import date

    from .sources import rest

    n = _t(spark, sf_dir, "customer").count()
    qd = n // 4
    root = tempfile.mkdtemp(prefix="skyfit_rest_land_")

    def land(proto: str, run: str, recs: list[dict]) -> None:
        ext = spark.createDataFrame(
            [("", "", json.dumps(r)) for r in recs],
            "period_start string, period_end string, raw_json string",
        )
        rest.land_bronze(ext, root, "restapi", proto, run, ingestion_date="2024-01-15")

    # S4 skip/take — DISTRIBUTED: one period per quarter of the key
    # space, each executor task drains its own page iterator
    periods = rest.generate_periods(date(2024, 1, 1), date(2024, 1, 5), days=1)

    def period_pages(start: str, end: str):
        idx = min(int(start[8:10]) - 1, 3)
        lo = idx * qd
        hi = n if idx == 3 else (idx + 1) * qd

        def fetch(skip: int, take: int):
            base = lo + skip
            return [
                {"rec_id": k, "page_no": skip // take, "part": idx}
                for k in range(base, min(base + take, hi))
            ]

        return rest.paginate_skip_take(fetch, take=37)

    extracted = rest.extract_periods_to_bronze(spark, periods, period_pages)
    rest.land_bronze(
        extracted, root, "restapi", "skip_take", "r1", ingestion_date="2024-01-15"
    )

    # S5 opaque cursor, 43/page
    def fetch_cur(cursor=None):
        start = int(cursor) if cursor else 0
        items = [
            {"rec_id": k, "page_no": start // 43, "part": -1}
            for k in range(start, min(start + 43, n))
        ]
        nxt = str(start + 43) if start + 43 < n else None
        return {"items": items, "next_cursor": nxt}

    land("cursor", "r1", list(rest.paginate_cursor(fetch_cur)))

    # S6 next_page-URL snapshot, 29/page
    def fetch_np(page_url=None):
        start = int(page_url.rsplit("=", 1)[1]) if page_url else 0
        rows = [
            {"rec_id": k, "page_no": start // 29, "part": -1}
            for k in range(start, min(start + 29, n))
        ]
        nxt = f"https://api.test/items?start={start + 29}" if start + 29 < n else None
        return {"items": rows, "next_page": nxt}

    land("next_page", "r1", list(rest.paginate_next_page(fetch_np, root_key="items")))

    # S7/I2 incremental cursor export: run1 drains to head 2·qd in
    # 100-record pages, the server's end-of-stream cursor re-delivers
    # the last 10 records (the Zendesk boundary-overlap convention);
    # run2 resumes from the persisted cursor to the new head n
    state = {"head": 2 * qd}

    def fetch_ic(start_time=None, cursor=None):
        start = int(cursor) if cursor is not None else 0
        end = min(start + 100, state["head"])
        page = [
            {"rec_id": k, "page_no": -1, "part": -1} for k in range(start, end)
        ]
        eos = end >= state["head"]
        after = str(max(end - 10, 0)) if eos else str(end)
        return {"tickets": page, "after_cursor": after, "end_of_stream": eos}

    recs1, cur = rest.incremental_cursor_export(
        fetch_ic, start_time=0, cursor=None
    )
    land("cursor_export", "run1", recs1)
    state["head"] = n
    recs2, _final = rest.incremental_cursor_export(
        fetch_ic, start_time=None, cursor=cur
    )
    land("cursor_export", "run2", recs2)

    schema = T.StructType(
        [
            T.StructField("rec_id", T.LongType()),
            T.StructField("page_no", T.IntegerType()),
            T.StructField("part", T.IntegerType()),
        ]
    )
    back = bronze.read_bronze(spark, root, "restapi", schema=schema)
    return back.select(
        F.col("entity").alias("protocol"),
        F.col("run_id").alias("run"),
        "rec_id",
        "page_no",
        "part",
    )


@register(
    "format_roundtrip_csv_orc",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS total_value,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events GROUP BY event_type
    """,
    tags=("S1", "K1", "sources-formats"),
    doc="CSV + ORC interchange round-trip (sources/formats.py, r4c): "
    "events -> CSV sink (explicit micros timestampFormat, header) -> "
    "schema-enforced FAILFAST CSV read -> ORC sink -> ORC read -> "
    "aggregate. The oracle aggregates the original parquet directly, "
    "so a green row proves BOTH text and ORC round-trips are lossless "
    "for bigint/double/string/timestamp: doubles survive textually "
    "(Java shortest round-trip repr), timestamps microsecond-exact "
    "under the pinned pattern, and value sums route through "
    "DECIMAL(15,2) per the battery determinism rules. PERMISSIVE "
    "corrupt-row quarantine is pinned in tests/test_formats.py.",
)
def format_roundtrip_csv_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import formats

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    root = tempfile.mkdtemp(prefix="skyfit_fmt_rt_")
    formats.write_csv(ev, f"{root}/csv")
    back = formats.read_csv(
        spark,
        f"{root}/csv",
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE",
    )
    formats.write_orc(back, f"{root}/orc")
    rt = formats.read_orc(spark, f"{root}/orc")
    return rt.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.sum(F.col("value").cast("decimal(15,2)")).cast("double").alias("total_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )

@register(
    "warc_ingest",
    """
    WITH d AS (SELECT doc_id, text, strlen(text) AS L
               FROM documents WHERE doc_id < 300)
    SELECT doc_id, CAST(0 AS INT) AS rec_idx,
           'warcinfo' AS warc_type,
           CAST(NULL AS VARCHAR) AS target_uri,
           CAST(18 AS BIGINT) AS content_length,
           CAST(NULL AS INT) AS http_status,
           CAST(NULL AS VARCHAR) AS content_encoding,
           md5('software: skyfit' || chr(13) || chr(10)) AS body_md5
    FROM d
    UNION ALL
    SELECT doc_id, CAST(1 AS INT), 'response',
           'http://corpus.test/' || CAST(doc_id AS VARCHAR),
           CAST(CASE doc_id % 3
                -- identity: headers(45) + body
                WHEN 0 THEN 45 + L
                -- gzip stored blocks: +24 header line, wire = L + 18
                -- + 5 per 65535-byte block (sources/warc.py:_gzip_store)
                WHEN 1 THEN 45 + 24 + L + 18
                            + 5 * ((GREATEST(L, 1) + 65534) // 65535)
                -- brotli store: +22 header line, wire per
                -- brotli_compress_store's closed form
                ELSE 45 + 22 + CASE WHEN L = 0 THEN 1
                                    WHEN L <= 65536 THEN L + 4
                                    WHEN L <= 1048576 THEN L + 5
                                    ELSE L + 6 END
                END AS BIGINT),
           CAST(200 AS INT),
           CASE doc_id % 3 WHEN 1 THEN 'gzip' WHEN 2 THEN 'br'
                ELSE CAST(NULL AS VARCHAR) END,
           md5(text)
    FROM d
    UNION ALL
    SELECT doc_id, CAST(2 AS INT), 'metadata',
           'http://corpus.test/' || CAST(doc_id AS VARCHAR),
           CAST(strlen('length: ' || CAST(L AS VARCHAR)) AS BIGINT),
           CAST(NULL AS INT),
           CAST(NULL AS VARCHAR),
           md5('length: ' || CAST(L AS VARCHAR))
    FROM d
    """,
    tags=("S1", "sources-formats", "llm-multimodal"),
    doc="WARC ingestion (sources/warc.py, r4c): the Common-Crawl entry "
    "point of web-scale LLM pipelines. synthesize_warc_payloads encodes "
    "a REAL 3-record WARC/1.0 archive per doc (warcinfo + HTTP response "
    "carrying the text + metadata; every odd doc member-gzipped per the "
    "*.warc.gz splittability convention), read_warc_records walks the "
    "records for real — CRLF header blocks, Content-Length-delimited "
    "payloads validated BEFORE slicing, bounded member-by-member zlib "
    "inflation, HTTP status/body split. r7b: responses rotate HTTP "
    "Content-Encoding identity/gzip/brotli by doc_id%3 — gzip as "
    "stored-DEFLATE and brotli via brotli_compress_store, both chosen "
    "for closed-form wire lengths the oracle mirrors, with the REAL "
    "pure-Python brotli decoder (sources/brotli_codec.py, "
    "libbrotli-cross-pinned) decoding the bodies in-battery; body_md5 "
    "is over the DECODED body so all three encodings hash to md5(text). "
    "The oracle recomputes every field arithmetically (byte lengths "
    "via strlen, not codepoint length()). Corrupt archives quarantine "
    "to NULL-type rows — pinned with fuzz cases in tests/test_formats.py.",
)
def warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import warc

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return warc.read_warc_records(warc.synthesize_warc_payloads(d))
