"""Streaming runtime for the streaming-executed queries: availableNow
file-source streams over the fixture tables, run to a memory sink or
folded through a foreachBatch sink into an on-disk store.

Every query here replays a finite source to completion, so each stream
runs under ``trigger(availableNow=True)`` and the caller blocks on
``awaitTermination()``.  The shuffle and state-store partition count is
sized from the replayed source's bytes (``stream_parts``) and set on the
session only around the query's ``start()`` (``scoped_conf``), where the
query freezes it.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scoped_conf
from ..tables import load_table, normalize_events_ts, parquet_schema
from .sinks import read_store

# Target source bytes per streaming shuffle/state partition (AQE's own
# advisory partition size).
STREAM_PART_BYTES = 64 * 1024 * 1024


def read_events_stream(spark: SparkSession, sf_dir: str):
    """Structured-Streaming twin of ``load_table(..., 'events')``: a
    file-source over the fixture parquet, with ``ts`` normalized by the
    same ``normalize_events_ts`` as the batch frame.  The stream's raw
    schema is the one the batch load just cached (``parquet_schema``), so
    a call launches no schema-inference job once events has been loaded
    in this process."""
    batch = load_table(spark, sf_dir, "events")  # sets tz + nanosAsLong conf
    raw_schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")  # file source needs a dir
        .parquet(sf_dir)
    )
    return normalize_events_ts(stream), batch


def stage_deliveries(df, src: str, shard_col: str, shard_values, cols):
    """Stage per-shard delivery files for a file-source replay in ONE
    Spark job instead of one filter+coalesce(1)+write job per shard
    (optimization r12, guide §2.4: remove redundant passes — the old
    loop re-scanned the staged frame once per shard).  Hash-repartition
    on the shard column puts each shard's rows in exactly one task, the
    hive-partitioned write splits them into one file per shard
    (``partitionBy`` drops the partition column from the data files, so
    a shadow ``_shard`` column keeps ``cols`` intact in the payload),
    and each file is then moved into mod-time delivery order — the file
    source replays oldest first, exactly as before.  Within-file row
    order changes vs the per-shard coalesce(1) (a hash shuffle replaces
    a concatenation); every downstream fold is row-order-insensitive
    WITHIN a delivery, and the delivery order itself is carried by mod
    time exactly as before.  An empty shard stages no file — the old
    loop would have staged a zero-row delivery the sinks no-op on, so
    the final state is identical either way."""
    stage = f"{src}_stage"
    (
        df.select(*cols, F.col(shard_col).alias("_shard"))
        .repartition(len(shard_values), "_shard")
        .write.partitionBy("_shard")
        .mode("overwrite")
        .parquet(stage)
    )
    base = 1_000_000_000
    os.makedirs(src, exist_ok=True)
    for i, sv in enumerate(shard_values):
        parts = glob.glob(os.path.join(stage, f"_shard={sv}", "part-*.parquet"))
        if not parts:
            continue  # empty shard: the sinks treat it as the fold identity
        if len(parts) != 1:  # RuntimeError, not assert: stripped under -O,
            # and a multi-file shard moved partially is SILENT data loss
            raise RuntimeError(
                f"stage_deliveries: shard {sv} split across "
                f"{len(parts)} files"
            )
        dst = os.path.join(src, f"delivery-{sv}.parquet")
        shutil.move(parts[0], dst)
        os.utime(dst, (base + i, base + i))
    shutil.rmtree(stage, ignore_errors=True)


def stream_parts(sf_dir: str, *tables: str) -> int:
    """Scale-adaptive shuffle/state-store partition count for a streaming
    query replaying the given fixture tables (optimization r13, guide
    §2.1-2.2: size partitions by DATA, not cluster width).  Streaming
    cannot use AQE partition coalescing (Spark disables AQE for stateful
    workloads), so a ``local[32]`` session otherwise opens, commits and
    snapshots 32 state stores PER TRIGGER (x4 stores for a stream-stream
    join) to shuffle a few MB — the per-trigger fixed cost that dominated
    every streaming bench query at sf0.1 (r12 scaling ratios ~1 between 8
    and 32 cores).  Derived as ceil(source_bytes / STREAM_PART_BYTES):
    at bench SFs this is 1, on a 100 TB replay it is thousands —
    the same partition-per-64MB discipline AQE applies to batch shuffles.
    ``$ADTS_STREAM_PARTS`` overrides outright (cluster operators pin it).
    Results are partitioning-independent: every streaming sink here is a
    keyed fold (per-key state / per-key aggregate), and the oracle hash
    canonicalizes row order."""
    override = os.environ.get("ADTS_STREAM_PARTS")
    if override:
        return max(1, int(override))
    total = 0
    for t in tables:
        try:
            total += os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
        except OSError:
            total += STREAM_PART_BYTES  # unknown source: one full partition
    return max(1, math.ceil(total / STREAM_PART_BYTES))


def run_to_memory(
    result: DataFrame,
    name_prefix: str,
    output_mode: str,
    sf_dir: str,
    *sources: str,
    nodata_batch: bool = True,
) -> DataFrame:
    """Run a streaming frame over the fixture tables ``sources`` to a
    memory sink under availableNow and return the sink's table.

    ``nodata_batch=False`` skips the trailing no-data micro-batch
    (optimization r12, measured via StreamingQueryProgress: that batch
    re-opens and commits every state store — and in complete mode
    rewrites the whole sink — at the same cost as the data batch, just
    to advance the watermark for a terminating query).  Callers may pass
    False ONLY when the skipped batch is provably output-empty /
    output-identical: complete-mode sinks (every data batch already
    emitted the full result), inner stream-stream joins and
    dropDuplicates (emit on arrival, watermark only evicts), and
    NoTimeout applyInPandasWithState (emits only on input rows).
    Append-mode windowed aggregations, session windows and OUTER joins
    emit ON watermark advance and must keep the default True.

    ``spark.sql.shuffle.partitions`` — the stream's exchange AND
    state-store partition count, frozen into the query at start — is
    scoped to ``stream_parts(sf_dir, *sources)`` instead of the
    session's core-count default (optimization r13)."""
    qname = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    spark = result.sparkSession
    confs = {"spark.sql.shuffle.partitions": stream_parts(sf_dir, *sources)}
    if not nodata_batch:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    writer = (
        result.writeStream.format("memory")
        .queryName(qname)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    with scoped_conf(spark, confs):  # frozen into the query at start()
        query = writer.start()
    query.awaitTermination()
    return spark.table(qname)


def replay_to_store(
    frame: DataFrame,
    shard_col: str,
    shard_values,
    cols: list[str],
    sink,
    project,
    sf_dir: str,
    *sources: str,
) -> DataFrame:
    """Replay ``frame`` through a foreachBatch sink as one delivery per
    shard value and return the projected final store.

    The rows of each shard value (``cols`` only) are staged as one
    parquet delivery in ``shard_values`` order (``stage_deliveries``),
    replayed by a file-source stream one file per trigger, and folded
    into an on-disk store by ``sink(stream, store, checkpoint=...)``,
    which starts the query and returns it.  ``project(store_df)`` shapes
    the output; it is checkpointed locally so it outlives the temp root,
    which is removed whether or not the replay succeeds.  The stream's
    schema is ``frame.select(*cols).schema`` (analysis only, no job), and
    the sink's partition count is ``stream_parts(sf_dir, *sources)``."""
    spark = frame.sparkSession
    root = tempfile.mkdtemp(prefix="adts_replay_")
    try:
        src = os.path.join(root, "src")
        stage_deliveries(frame, src, shard_col, shard_values, cols)
        stream = (
            spark.readStream.schema(frame.select(*cols).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        store = os.path.join(root, "store")
        parts = stream_parts(sf_dir, *sources)
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": parts}):
            query = sink(stream, store, checkpoint=os.path.join(root, "ckpt"))
        query.awaitTermination()
        return project(read_store(spark, store)).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
