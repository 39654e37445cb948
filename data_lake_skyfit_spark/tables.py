"""Test-data table loading.

The driver provides deterministic TPC-H-ish parquet tables (see
/root/repo/TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
an sf directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def events_ts_unit(sf_dir: str) -> str | None:
    """Physical unit of events.ts in this sf_dir's parquet footer.

    The driver has shipped the events table with two encodings across
    rounds: INT64 TIMESTAMP(NANOS) (arrow timestamp[ns]; Spark 4 refuses
    it without the nanosAsLong legacy conf) and plain TIMESTAMP(MICROS)
    (arrow timestamp[us]; reads natively as TIMESTAMP_NTZ). Sniff the
    footer so both load identically — one metadata read, no data scan.
    """
    import pyarrow.parquet as pq

    t = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
    unit = getattr(t, "unit", None)
    if unit is None:
        # ADVICE r2: a future round shipping ts as un-annotated INT64
        # (or anything non-timestamp) must fail loudly at round start,
        # not silently cast epoch-nanos as epoch-seconds downstream.
        raise TypeError(
            f"events.ts has non-timestamp physical type {t!r} in {sf_dir}; "
            "teach events_ts_unit/load_table the new encoding"
        )
    if unit not in ("s", "ms", "us", "ns"):
        raise TypeError(f"events.ts has unexpected timestamp unit {unit!r} in {sf_dir}")
    return unit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a test table, normalizing physical quirks.

    events.ts is normalized to TIMESTAMP_NTZ at microsecond precision
    regardless of the file's physical encoding (see events_ts_unit).
    The nanos path converts with *integer* division — epoch-nanos exceed
    double precision, so a float path would corrupt microseconds.
    """
    if name == "events":
        if events_ts_unit(sf_dir) == "ns":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
            return df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
