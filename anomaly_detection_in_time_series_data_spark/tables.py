"""Loaders for the driver fixture tables (TESTDATA.md).

All loads are plain ``spark.read.parquet`` — schema comes from the parquet
footer (already canonical), filters/projections push down to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLE_NAMES = [
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
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .session import ensure_pyfiles

    ensure_pyfiles(spark)  # the driver's own session needs the package too
    # Deterministic timestamp semantics vs the (naive-timestamp) DuckDB
    # oracle: date-part extraction and date literals must render in UTC
    # regardless of how the caller's session was built.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts may be parquet TIMESTAMP(NANOS), which Spark's
        # vectorized reader rejects with PARQUET_TYPE_ILLEGAL unless read
        # as long; normalize_events_ts converts whatever the footer says.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return normalize_events_ts(df)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """``df`` (a batch or streaming read of events.parquet) with ``ts`` as
    TimestampType.  The physical type of events.ts differs between fixture
    generations: sometimes parquet TIMESTAMP(NANOS) (read as long under
    ``nanosAsLong``), sometimes a plain TIMESTAMP(MICROS) (read as NTZ).
    Branch on what the footer actually says."""
    ts = df.schema["ts"].dataType
    if isinstance(ts, LongType):
        # nanos-as-long → exact integer division to micros (`div`, not
        # `/` — nanos exceed double's 2^53 integer range).
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts, TimestampNTZType):
        # Normalize NTZ to TimestampType so every downstream consumer
        # (unix_micros, session_window, streaming watermarks) sees one
        # type regardless of the fixture's physical encoding.  The
        # session timezone is pinned UTC in load_table, so the wall-clock
        # values are unchanged and match the naive-timestamp DuckDB oracle.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
