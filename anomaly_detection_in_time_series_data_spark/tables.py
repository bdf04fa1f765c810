"""Loaders for the driver fixture tables (TESTDATA.md).

Every load is ``spark.read.schema(...).parquet``: the schema is the one
Spark infers from the parquet footer, inferred once per process for each
unchanged file (``parquet_schema``), so only a table's first load pays
Spark's schema-inference job.  Filters and projections push down to the
scan as before.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

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

# Session confs that change the schema Spark derives from a parquet
# footer.  Their values are part of a cached schema's key.
_SCHEMA_CONFS = (
    # TIMESTAMP(NANOS) reads as LongType (load_table sets it for events)
    "spark.sql.legacy.parquet.nanosAsLong",
    # BINARY without a string annotation reads as StringType
    "spark.sql.parquet.binaryAsString",
    # INT96 reads as TimestampType
    "spark.sql.parquet.int96AsTimestamp",
    # a timestamp with isAdjustedToUTC=false reads as TimestampNTZType
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    # passed to Spark's footer converter, and decides whether two columns
    # that differ only in case are duplicates
    "spark.sql.caseSensitive",
)
_SCHEMAS: dict[tuple, StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    process for each unchanged regular file and session conf.

    The key is the file's absolute path and ``(st_dev, st_ino, st_size,
    st_mtime_ns)``, plus the session's values of ``_SCHEMA_CONFS``. A miss
    costs one schema-inference job, as a plain read does; a hit costs no
    Spark job. The cache relies on a rewritten file getting a new stat
    key: a file rewritten in place gets a new size or mtime, one swapped
    in with ``os.replace`` a new inode (the argument of the package's
    worker zip cache, ``_cache_zip_directories``). The file is stat-ed
    before it is read, so a rewrite during inference can only leave an
    entry under the old key. A directory is inferred every time, since
    its mtime does not change when a part file inside is rewritten. Dict
    get and set are atomic under the GIL, so two racing misses only infer
    twice. Only the schema is cached: each read still builds its own
    relation, with its own attribute ids."""
    path = os.path.abspath(path)
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path).schema
    key = (
        path,
        st.st_dev,
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        # one get per conf: getAll costs more than the inference saves
        *(spark.conf.get(c, None) for c in _SCHEMA_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


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
        # Set before the schema lookup: the conf is part of its key.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return normalize_events_ts(df) if name == "events" else df


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
