"""Streaming execution tests (SURVEY.md §5 item 3): replay the FIXTURES.md
§B4-style t=-partitioned layout through the streaming scorers with a memory
sink + processAllAvailable; watermark behavior with out-of-order batches."""

from __future__ import annotations

import sys
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anomaly_detection_in_time_series_data_spark.streaming import (
    anomaly_stream,
    replay,
)
from conftest import stage_deliveries

ROW = T.StructType(
    [
        T.StructField("ride_id", T.StringType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("speed", T.DoubleType()),
    ]
)

# Reference's exact offsets, first 8 (Week#8_Assignment.ipynb:302-467)
OFFSETS = [0.0, 4.5, 7.8, 10.6, 14.9, 17.9, 21.3, 26.1]


@pytest.fixture(scope="module")
def telemetry_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("telemetry") / "locations"
    for i, t in enumerate(OFFSETS):
        speed = 100.0 if i == 6 else 10.0 + (i % 3)  # spike in batch 6
        df = spark.createDataFrame(
            [("r1", i, speed), ("r2", i, 20.0 + (i % 2))], ROW
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{root}/t={t:05.1f}")
    return str(root)


def test_list_time_partitions_sorted(spark, telemetry_dir):
    got = replay.list_time_partitions(spark, telemetry_dir)
    assert got == sorted(OFFSETS)  # explicit order (reference's O3 bug fixed)


def test_replay_stream_zscore_flags_spike(spark, telemetry_dir, tmp_path):
    stream = replay.read_replay_stream(spark, telemetry_dir, ROW, files_per_trigger=2)
    scored = anomaly_stream.streaming_zscore(
        stream, key_col="ride_id", value_col="speed", threshold=3.0, min_points=4
    )
    q = (
        scored.writeStream.format("memory")
        .queryName("zscores")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("select * from zscores").collect()
    assert len(rows) == len(OFFSETS) * 2
    flagged = [(r.ride_id, r.value) for r in rows if r.is_anomaly]
    assert ("r1", 100.0) in flagged  # the planted spike
    assert all(v == 100.0 for _, v in flagged)  # and nothing else


def test_windowed_stats_with_watermark(spark, tmp_path):
    # Hand-crafted out-of-order micro-batches via a file stream.
    src = tmp_path / "events"
    schema = T.StructType(
        [
            T.StructField("event_ts", T.TimestampType()),
            T.StructField("key", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{name}")

    write_batch("b0", [(base + dt.timedelta(seconds=s), "k", float(s)) for s in (1, 5, 9)])
    # late-but-within-watermark event for the first window, plus later data
    write_batch("b1", [(base + dt.timedelta(seconds=s), "k", float(s)) for s in (12, 3)])

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        f"{src}/*"
    )
    stats = anomaly_stream.windowed_stats(
        stream, key_col="key", window="10 seconds", watermark="30 seconds"
    )
    q = (
        stats.writeStream.format("memory")
        .queryName("winstats")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = {
        (r.window_start.second, r.n): r for r in spark.sql("select * from winstats").collect()
    }
    # First window [0,10): events at 1,5,9 plus late 3 -> n=4
    assert (0, 4) in out
    # Second window [10,20): event at 12 -> n=1
    assert (10, 1) in out


def test_delivery_listener_records_batches(spark, telemetry_dir, tmp_path):
    from anomaly_detection_in_time_series_data_spark.streaming.observability import (
        attach_delivery_listener,
    )

    listener = attach_delivery_listener(spark)
    try:
        stream = replay.read_replay_stream(spark, telemetry_dir, ROW, files_per_trigger=4)
        q = (
            stream.writeStream.format("memory")
            .queryName("obs")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "obsck"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
        import time

        deadline = time.time() + 20
        while time.time() < deadline and listener.log.rows_delivered < len(OFFSETS) * 2:
            time.sleep(0.5)
        assert listener.log.rows_delivered == len(OFFSETS) * 2
        assert len(listener.log.progresses) >= 2  # batch-at-a-time callbacks
    finally:
        spark.streams.removeListener(listener)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    b1 = spark.createDataFrame(
        [(1, "2024-01-01 00:00:01"), (2, "2024-01-01 00:00:02")],
        "id long, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    b2 = spark.createDataFrame(
        [(2, "2024-01-01 00:00:03"), (3, "2024-01-01 00:00:04")],  # 2 is a dup
        "id long, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    b1.coalesce(1).write.parquet(str(src / "b1"))
    b2.coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["id"]
    )
    import uuid

    qname = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ids = sorted(r["id"] for r in spark.table(qname).collect())
    assert ids == [1, 2, 3]  # duplicate id=2 dropped across micro-batches


EVENT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("event_ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture
def arrow_batch_7(spark):
    """Spark cuts each key's rows into Arrow chunks of 7 rows, so one key
    reaches the scorer as several chunks within one trigger."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "7")
    yield
    spark.conf.set(key, prev) if prev is not None else spark.conf.unset(key)


def _shuffled_deliveries(n_triggers):
    """Keys 'a', 'b' and NULL, 60 one-second points each (a spike in 'a'
    and in NULL), cut by time into ``n_triggers`` deliveries whose rows
    are shuffled."""
    import datetime as dt
    import random

    base = dt.datetime(2024, 1, 1)
    rng = random.Random(n_triggers)
    per = 60 // n_triggers
    deliveries = []
    for b in range(n_triggers):
        rows = [
            (k, base + dt.timedelta(seconds=i),
             100.0 if (k != "b" and i == 45) else float((i * 7) % 13) + (k == "b"))
            for i in range(b * per, (b + 1) * per)
            for k in ("a", "b", None)
        ]
        rng.shuffle(rows)
        deliveries.append(rows)
    return deliveries


def _run_stream(spark, tmp_path, deliveries, build):
    """Replay ``deliveries`` one per trigger through ``build(stream)`` into
    a memory sink and return the collected rows."""
    import uuid

    stage_deliveries(spark, str(tmp_path / "src"), deliveries, EVENT)
    stream = (
        spark.readStream.schema(EVENT)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "src"))
    )
    name = f"scan_{uuid.uuid4().hex[:8]}"
    q = (
        build(stream).writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).collect()


@pytest.mark.parametrize("n_triggers", [1, 3, 12])
@pytest.mark.parametrize("scorer", ["welford", "ewma", "holt"])
def test_stream_scan_equals_batch_scan(spark, tmp_path, arrow_batch_7, scorer, n_triggers):
    """Prefix consistency: the streaming scorer over 1, 3 or 12 triggers
    returns the batch ``_handoff_scan`` rows bit for bit, NULL key
    included, however Spark cuts a key's trigger into Arrow chunks and
    in whatever order the rows arrive.  Compared as Spark rows, so a
    missing score must be NULL on both sides."""
    from collections import Counter

    from anomaly_detection_in_time_series_data_spark.operators.anomaly import (
        _ewma,
        _handoff_scan,
        _holt,
        _welford,
    )

    triple = {
        "welford": _welford(3.0, 5),
        "ewma": _ewma(0.1, 3.0, 5),
        "holt": _holt(0.5, 0.3, 0.2, 4.0, 10),
    }[scorer]
    cols = dict(key_col="key", ts_col="event_ts", value_col="value", tiebreak_col=None)
    deliveries = _shuffled_deliveries(n_triggers)
    got = _run_stream(
        spark, tmp_path, deliveries,
        lambda s: anomaly_stream._stream_scan(s, **cols, **triple),
    )
    batch = spark.createDataFrame([r for d in deliveries for r in d], EVENT)
    want = _handoff_scan(batch, chunk=None, **cols, **triple).collect()
    assert len(got) == len(want) == 180
    assert Counter(map(tuple, got)) == Counter(map(tuple, want))
    score = triple["score_col"]
    assert any(r[score] is None for r in got if r.key is None)
    assert any(r.is_anomaly for r in got if r.key is None)


def test_streaming_zscore_is_sequential_welford(spark, tmp_path, arrow_batch_7):
    """The public ``streaming_zscore`` scores each row against ALL prior
    rows of its key in time order — the sequential Welford recurrence,
    bit for bit — although its rows arrive shuffled and in Arrow chunks
    of 7 rows."""
    deliveries = _shuffled_deliveries(3)
    got = _run_stream(
        spark, tmp_path, deliveries,
        lambda s: anomaly_stream.streaming_zscore(s, key_col="key", min_points=5),
    )
    want = {}
    for k in ("a", "b", None):
        n, mean, m2 = 0, 0.0, 0.0
        rows = sorted((r for d in deliveries for r in d if r[0] == k), key=lambda r: r[1])
        for _, ts, v in rows:
            z = None
            if n >= 5 and m2 > 0:
                std = (m2 / (n - 1)) ** 0.5
                z = (v - mean) / std if std > 1e-12 else None
            want[(k, ts)] = (v, z, z is not None and abs(z) > 3.0)
            n += 1
            delta = v - mean
            mean += delta / n
            m2 += delta * (v - mean)
    assert {(r.key, r.event_ts): (r.value, r.zscore, r.is_anomaly) for r in got} == want


def test_python_datasource_batch_read(spark, telemetry_dir):
    """The custom Python Data Source reads the t= layout with one Spark
    partition per captured batch and materializes t as a column."""
    from anomaly_detection_in_time_series_data_spark.sources.telemetry_datasource import (
        TelemetryReplayDataSource,
    )

    spark.dataSource.register(TelemetryReplayDataSource)
    df = spark.read.format("telemetry_replay").option("path", telemetry_dir).load()
    assert df.count() == len(OFFSETS) * 2
    ts = sorted(r.t for r in df.select("t").distinct().collect())
    assert ts == sorted(OFFSETS)
    # Schema inferred from the parquet footer + derived t.
    assert set(df.columns) == {"ride_id", "seq", "speed", "t"}
    # One input partition per t= dir.
    assert df.rdd.getNumPartitions() == len(OFFSETS)


def test_python_datasource_stream_replays_in_order(spark, telemetry_dir, tmp_path):
    """Streaming side: micro-batch per t= directory, ascending offsets."""
    from anomaly_detection_in_time_series_data_spark.sources.telemetry_datasource import (
        TelemetryReplayDataSource,
    )

    spark.dataSource.register(TelemetryReplayDataSource)
    stream = (
        spark.readStream.format("telemetry_replay")
        .option("path", telemetry_dir)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pyds_replay")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "pyds_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("select * from pyds_replay").collect()
    assert len(rows) == len(OFFSETS) * 2
    assert sorted({r.t for r in rows}) == sorted(OFFSETS)


def test_stream_static_enrichment_join(spark, telemetry_dir, tmp_path):
    """Stream-static join: every micro-batch joins against a batch dim
    table (re-read per batch, so dim updates are picked up) — the standard
    streaming enrichment pattern; broadcast keeps it shuffle-free."""
    from anomaly_detection_in_time_series_data_spark.streaming.replay import (
        read_replay_stream,
    )

    dim = spark.createDataFrame(
        [("r1", "alpha"), ("r2", "beta")], ["ride_id", "rider_name"]
    )
    stream = read_replay_stream(spark, telemetry_dir, ROW, files_per_trigger=4)
    enriched = stream.join(F.broadcast(dim), "ride_id", "left")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "enrich_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("select * from enriched_stream").collect()
    assert len(rows) == len(OFFSETS) * 2
    names = {r.ride_id: r.rider_name for r in rows}
    assert names == {"r1": "alpha", "r2": "beta"}


# The reference's complete logged replay schedule: all 34 t= offsets from
# the Week#8 producer run (Week#8_Assignment.ipynb:302-653, "Sending file
# …/locations/t=XXX.X/"), whose event.wait(t - i) pacing produced
# inter-batch gaps spanning 2.8-4.8 s.
FULL_OFFSETS = [
    0.0, 4.5, 7.8, 10.6, 14.9, 17.9, 21.3, 26.1, 30.4, 33.7, 37.7, 41.5,
    45.4, 49.5, 52.5, 56.4, 60.1, 63.8, 66.7, 70.9, 73.9, 77.1, 81.4, 85.1,
    88.3, 91.7, 94.7, 98.8, 102.5, 106.0, 109.9, 113.2, 117.2, 121.4,
]


@pytest.fixture(scope="module")
def full_telemetry_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("telemetry_full") / "locations"
    rows = [("r1", i, 10.0 + (i % 3)) for i in range(len(FULL_OFFSETS))]
    for (rid, i, speed), t in zip(rows, FULL_OFFSETS):
        spark.createDataFrame([(rid, i, speed)], ROW).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{root}/t={t:05.1f}")
    return str(root)


def test_paced_batches_reproduce_reference_gap_envelope(
    spark, full_telemetry_dir
):
    """T2 pacing fidelity (VERDICT r4 item 6): replaying the reference's
    own t= layout through paced_batches must request exactly the logged
    inter-arrival gaps — the 0 / 2.8-4.8 s envelope of the Week#8 producer
    log — scaled by speedup, with no sleep before the first batch and
    batches yielded in ascending offset order."""
    requested: list[float] = []
    speedup = 100.0
    seen = []
    for t, batch in replay.paced_batches(
        spark, full_telemetry_dir, speedup=speedup, sleep=requested.append
    ):
        seen.append((t, batch.count()))

    assert [t for t, _ in seen] == FULL_OFFSETS  # ascending, complete
    assert all(n == 1 for _, n in seen)  # each batch is its own t= dir

    # No pause before t=0, then one sleep per subsequent batch.
    assert len(requested) == len(FULL_OFFSETS) - 1
    expected_gaps = [
        round(b - a, 1) for a, b in zip(FULL_OFFSETS, FULL_OFFSETS[1:])
    ]
    got_gaps = [round(s * speedup, 1) for s in requested]
    assert got_gaps == expected_gaps

    # The distribution the reference logged: every gap in [2.8, 4.8], and
    # both envelope edges actually occur in the schedule.
    assert min(got_gaps) == 2.8 and max(got_gaps) == 4.8


def test_scd2_foreach_batch_coalesced_trigger_folds_in_seq_order(spark, tmp_path):
    """The seq_col contract of ``sinks.scd2_foreach_batch``: when the file
    source coalesces several CDC deliveries into ONE trigger, the sink
    must fold them in ascending seq order — producing the identical SCD2
    history as a file-per-trigger replay (trigger boundaries must not
    change the dimension)."""
    import datetime as dt

    from anomaly_detection_in_time_series_data_spark.streaming.sinks import (
        scd2_foreach_batch,
    )

    t = lambda d: dt.datetime(2024, 1, d)  # noqa: E731
    deliveries = [
        # seq 1: both keys open
        [(1, "a", t(1), 1), (2, "x", t(1), 1)],
        # seq 2: key 1 changes (close+open), key 2 unchanged (no-op)
        [(1, "b", t(8), 2), (2, "x", t(8), 2)],
        # seq 3: key 2 changes
        [(2, "y", t(15), 3)],
    ]
    schema = "user_id bigint, event_type string, ts timestamp, wk int"

    def run(src_dir: str, store: str, ckpt: str, per_trigger: bool):
        for i, rows in enumerate(deliveries):
            d = spark.createDataFrame(rows, schema=schema)
            stage = f"{src_dir}_stage{i}"
            d.coalesce(1).write.mode("overwrite").parquet(stage)
            import glob as g
            import os
            import shutil as sh

            os.makedirs(src_dir, exist_ok=True)
            part = g.glob(f"{stage}/part-*.parquet")[0]
            dst = f"{src_dir}/delivery-{i}.parquet"
            sh.move(part, dst)
            os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
        reader = spark.readStream.schema(schema)
        if per_trigger:
            reader = reader.option("maxFilesPerTrigger", 1)
        stream = reader.parquet(src_dir)
        scd2_foreach_batch(
            stream,
            store,
            keys=["user_id"],
            tracked=["event_type"],
            ts_col="ts",
            checkpoint=ckpt,
            seq_col="wk",
        ).awaitTermination()
        return {
            (r.user_id, r.event_type, r.valid_from, r.valid_to)
            for r in spark.read.parquet(store).collect()
        }

    one_per = run(
        str(tmp_path / "src_a"), str(tmp_path / "dim_a"),
        str(tmp_path / "ck_a"), True,
    )
    coalesced = run(
        str(tmp_path / "src_b"), str(tmp_path / "dim_b"),
        str(tmp_path / "ck_b"), False,
    )
    assert one_per == coalesced
    # and the history itself is the expected 5-version table
    assert one_per == {
        (1, "a", t(1), t(8)),
        (1, "b", t(8), None),
        (2, "x", t(1), t(15)),
        (2, "y", t(15), None),
    }


def test_scd2_sink_checkpoint_recovery_and_idempotence(spark, tmp_path):
    """The exactly-once story of ``sinks.scd2_foreach_batch``, both halves:

    1. RECOVERY: run the stream over the first two CDC deliveries, then
       add three more and restart with the SAME checkpoint — the resumed
       query must process only the new files, and the final dimension
       must equal a one-shot run over all five.
    2. IDEMPOTENCE: fold the final delivery through the merge a second
       time (simulating an at-least-once redelivery) — the store must
       not change (unchanged updates are no-ops by design).
    """
    import datetime as dt

    from anomaly_detection_in_time_series_data_spark.operators.cdc import (
        scd2_merge,
    )
    from anomaly_detection_in_time_series_data_spark.streaming.sinks import (
        scd2_foreach_batch,
    )

    t = lambda d: dt.datetime(2024, 1, d)  # noqa: E731
    schema = "user_id bigint, event_type string, ts timestamp, wk int"
    deliveries = [
        [(1, "a", t(1), 1), (2, "x", t(1), 1)],
        [(1, "b", t(8), 2)],
        [(2, "y", t(15), 3)],
        [(1, "b", t(22), 4)],  # unchanged redelivery -> no-op
        [(2, "z", t(29), 5)],
    ]

    def run(src, store, ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        scd2_foreach_batch(
            stream, store, keys=["user_id"], tracked=["event_type"],
            ts_col="ts", checkpoint=ckpt, seq_col="wk",
        ).awaitTermination()

    def snap(store):
        return {
            (r.user_id, r.event_type, r.valid_from, r.valid_to)
            for r in spark.read.parquet(store).collect()
        }

    # interrupted-then-resumed run
    src_a = str(tmp_path / "src_a")
    store_a, ckpt_a = str(tmp_path / "dim_a"), str(tmp_path / "ck_a")
    stage_deliveries(spark, src_a, deliveries[:2], schema)
    run(src_a, store_a, ckpt_a)
    partial = snap(store_a)
    assert (1, "b", t(8), None) in partial and (2, "x", t(1), None) in partial
    stage_deliveries(spark, src_a, deliveries[2:], schema, start=2)
    run(src_a, store_a, ckpt_a)  # SAME checkpoint: resumes, not replays

    # one-shot reference run
    src_b = str(tmp_path / "src_b")
    store_b, ckpt_b = str(tmp_path / "dim_b"), str(tmp_path / "ck_b")
    stage_deliveries(spark, src_b, deliveries, schema)
    run(src_b, store_b, ckpt_b)

    final = snap(store_a)
    assert final == snap(store_b)
    # the wk-4 unchanged redelivery opened no new version for user 1
    assert (1, "b", t(8), None) in final and (2, "z", t(29), None) in final

    # idempotence: merge the last delivery AGAIN, batch-side
    current = spark.read.parquet(store_a)
    upd = spark.createDataFrame(deliveries[-1], schema=schema).drop("wk")
    again = scd2_merge(
        current, upd, keys=["user_id"], tracked=["event_type"], ts_col="ts"
    )
    assert {
        (r.user_id, r.event_type, r.valid_from, r.valid_to)
        for r in again.collect()
    } == final


def test_scd2_sink_default_seq_col_none_on_fresh_store(spark, tmp_path):
    """ADVICE r6 (medium): the documented default ``seq_col=None`` crashed
    on the FIRST micro-batch of a fresh store — ``batch_df.drop(None)``
    raises PySparkTypeError while building the empty-table schema, so the
    default path of the public API was unusable.  Pin the guarded path:
    one delivery, no seq column, fresh store -> open versions appear."""
    import datetime as dt

    from anomaly_detection_in_time_series_data_spark.streaming.sinks import (
        scd2_foreach_batch,
    )

    schema = "user_id bigint, event_type string, ts timestamp"
    stage_deliveries(
        spark,
        str(tmp_path / "src"),
        [[(1, "a", dt.datetime(2024, 1, 1)), (2, "x", dt.datetime(2024, 1, 1))]],
        schema,
    )
    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "src"))
    scd2_foreach_batch(
        stream,
        str(tmp_path / "dim"),
        keys=["user_id"],
        tracked=["event_type"],
        ts_col="ts",
        checkpoint=str(tmp_path / "ck"),
        # seq_col deliberately omitted: the documented default
    ).awaitTermination()
    rows = {
        (r.user_id, r.event_type, r.valid_to)
        for r in spark.read.parquet(str(tmp_path / "dim")).collect()
    }
    assert rows == {(1, "a", None), (2, "x", None)}


def test_scd2_sink_reserved_word_column_names(spark, tmp_path):
    """ADVICE r6 (low): the empty-store schema was a string-joined DDL of
    unquoted column names — reserved words broke the parse.  The schema is
    now built as a StructType, so SQL-reserved names (``order``,
    ``select``) must flow through the fresh-store path untouched."""
    import datetime as dt

    from anomaly_detection_in_time_series_data_spark.streaming.sinks import (
        scd2_foreach_batch,
    )

    schema = "`order` bigint, `select` string, ts timestamp"
    stage_deliveries(
        spark,
        str(tmp_path / "src"),
        [[(7, "a", dt.datetime(2024, 1, 1))]],
        schema,
    )
    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "src"))
    scd2_foreach_batch(
        stream,
        str(tmp_path / "dim"),
        keys=["order"],
        tracked=["select"],
        ts_col="ts",
        checkpoint=str(tmp_path / "ck"),
    ).awaitTermination()
    out = spark.read.parquet(str(tmp_path / "dim")).collect()
    assert [(r["order"], r["select"], r["valid_to"]) for r in out] == [
        (7, "a", None)
    ]


def test_sink_swap_crash_window_is_recoverable(spark, tmp_path):
    """ADVICE r6 (low): the old rmtree-then-rename swap had a window where
    ZERO copies of the store existed — a crash there permanently deleted
    the SCD2 history and checkpoint replay silently rebuilt from empty.
    The swap now renames the live dir ASIDE first; simulate the worst
    crash instant (live dir renamed aside, staging not yet renamed in)
    and assert ``_recover_store`` restores the committed state."""
    from anomaly_detection_in_time_series_data_spark.streaming.sinks import (
        _recover_store,
        _swap_in,
    )
    from pathlib import Path

    store = tmp_path / "dim"
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(
        str(store)
    )
    committed = {(r.k, r.v) for r in spark.read.parquet(str(store)).collect()}

    # Crash instant: live renamed aside, staging never arrived.
    store.rename(Path(f"{store}.old-7"))
    assert not store.exists()
    _recover_store(store)
    assert {(r.k, r.v) for r in spark.read.parquet(str(store)).collect()} == committed
    assert not Path(f"{store}.old-7").exists()

    # And the happy-path swap leaves exactly the new table, no residue.
    staging = tmp_path / "dim.stage-8"
    spark.createDataFrame([(2, "b")], "k long, v string").write.parquet(
        str(staging)
    )
    _swap_in(staging, store, 8)
    assert {(r.k, r.v) for r in spark.read.parquet(str(store)).collect()} == {
        (2, "b")
    }
    assert not staging.exists() and not Path(f"{store}.old-8").exists()


def test_streaks_sink_batch_id_fencing_and_fold(spark, tmp_path):
    """``sinks.streaks_foreach_batch``'s two claims: (1) the incremental
    fold handles every boundary case — extension of the open streak,
    gap-opening new streaks, multi-island batches, users absent from a
    batch; (2) exactly-once is batch-id FENCING (the fold adds counts,
    so a replayed delivery must be skipped, not re-folded)."""
    from anomaly_detection_in_time_series_data_spark.streaming.sinks import (
        streaks_foreach_batch,
    )

    deliveries = [
        # batch 0: user 1 days 10,11 (one streak); user 2 day 5
        [(1, 10), (1, 11), (2, 5)],
        # batch 1: user 1 day 12 (extends) + 14,15 (new streak);
        #          user 2 day 7 (gap -> new streak); user 3 day 1 (new user)
        [(1, 12), (1, 14), (1, 15), (2, 7), (3, 1)],
        # batch 2: user 2 day 8 (extends the 7-streak)
        [(2, 8)],
    ]
    schema = "user_id bigint, day_idx bigint"
    stage_deliveries(spark, str(tmp_path / "src"), deliveries, schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    store = str(tmp_path / "state")
    streaks_foreach_batch(
        stream, store, checkpoint=str(tmp_path / "ck")
    ).awaitTermination()
    got = {
        r.user_id: (r.n_active_days, r.longest_streak, r.n_streaks,
                    r.cur_streak, r.last_day)
        for r in spark.read.parquet(store).collect()
    }
    assert got == {
        1: (5, 3, 2, 2, 15),   # 10-12 (3), 14-15 (2 open)
        2: (3, 2, 2, 2, 8),    # 5 (1), 7-8 (2 open)
        3: (1, 1, 1, 1, 1),
    }

    # Replay: a fresh stream over the SAME files with a FRESH checkpoint
    # re-delivers batch ids 0..2; the store's fence must skip them all.
    before = got
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    streaks_foreach_batch(
        stream2, store, checkpoint=str(tmp_path / "ck2")
    ).awaitTermination()
    after = {
        r.user_id: (r.n_active_days, r.longest_streak, r.n_streaks,
                    r.cur_streak, r.last_day)
        for r in spark.read.parquet(store).collect()
    }
    assert after == before  # re-folding would have doubled the counts


def test_streaks_sink_fenced_batch_with_novel_days_raises(spark, tmp_path):
    """ADVICE r7: batch-id fencing alone would silently DROP genuinely new
    deliveries when a fresh checkpoint restarts batch ids at 0 over an
    existing store.  A fenced batch that carries unseen (user, day)
    activity must raise (checkpoint/store mismatch), not skip."""
    import pytest

    from anomaly_detection_in_time_series_data_spark.streaming.sinks import (
        streaks_foreach_batch,
    )

    schema = "user_id bigint, day_idx bigint"
    src1 = str(tmp_path / "src1")
    stage_deliveries(spark, src1, [[(1, 10), (1, 11)], [(1, 12)]], schema)
    store = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src1)
    )
    streaks_foreach_batch(
        stream, store, checkpoint=str(tmp_path / "ck1")
    ).awaitTermination()  # the sidecar now records applied batch 1

    # NEW data in a NEW source with a FRESH checkpoint: batch ids restart
    # at 0 (fenced), but day 13 is unseen -> must raise, not drop.
    src2 = str(tmp_path / "src2")
    stage_deliveries(spark, src2, [[(1, 13)]], schema)
    stream2 = spark.readStream.schema(schema).parquet(src2)
    q = streaks_foreach_batch(stream2, store, checkpoint=str(tmp_path / "ck2"))
    with pytest.raises(Exception, match="unseen|mismatch"):
        q.awaitTermination()


def test_streaks_sink_out_of_order_batch_raises(spark, tmp_path):
    """ADVICE r7 / task 6: the ascending-day contract is enforced in-fold —
    a non-fenced batch whose activity for some user starts at or before
    that user's stored last_day raises with a recompute hint instead of
    silently corrupting the additive streak counts."""
    import pytest

    from anomaly_detection_in_time_series_data_spark.streaming.sinks import (
        streaks_foreach_batch,
    )

    schema = "user_id bigint, day_idx bigint"
    src = str(tmp_path / "src")
    stage_deliveries(spark, src, [[(1, 10), (1, 11)]], schema)
    store = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    stream = spark.readStream.schema(schema).parquet(src)
    streaks_foreach_batch(stream, store, checkpoint=ck).awaitTermination()

    # Same checkpoint, new delivery that REWINDS to day 11 (<= last_day):
    # batch id advances past the fence, so the fold-path order guard must
    # fire.
    stage_deliveries(spark, src, [[(1, 11), (1, 12)]], schema, start=1)
    stream2 = spark.readStream.schema(schema).parquet(src)
    q = streaks_foreach_batch(stream2, store, checkpoint=ck)
    with pytest.raises(Exception, match="ascending|out-of-order"):
        q.awaitTermination()


def _run_sink(spark, start, schema, src, store, checkpoint):
    """Run a sink over ``src`` (one file per trigger) to completion, then
    release the checkpoint registration so the pair can be re-run."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start(stream, store, checkpoint)
    try:
        q.awaitTermination()
    finally:
        q.stop()


def test_session_checkpoints_through_filesystem_manager(spark, tmp_path):
    """Every stream's offset, commit and source logs and every state-store
    file are written by the manager Spark's own factory resolves from the
    session's Hadoop conf.  ``get_spark`` sets the FileSystem one: the
    default FileContext one forks ``readlink`` for each stat of a rename
    when the native Hadoop library is absent.  The checkpoint recovery and
    crash-window replay tests below run under it."""
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    created = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert created.getClass().getSimpleName() == (
        "FileSystemBasedCheckpointFileManager"
    )


def _lose_commit(checkpoint, batch_id):
    """The crash-window shape: a crash between the store swap and the
    offset commit loses ``commits/<batch_id>`` while the offset log
    survives, so a restart re-delivers that batch from the SAME
    checkpoint.  The local ChecksumFileSystem keeps a .crc sibling; a
    stale one makes the replayed commit-log rename fail as a phantom
    concurrent writer (guarded: a no-CRC config writes none)."""
    import os

    os.remove(os.path.join(checkpoint, "commits", str(batch_id)))
    crc = os.path.join(checkpoint, "commits", f".{batch_id}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _store_rows(spark, store):
    return sorted(tuple(r) for r in spark.read.parquet(store).collect())


def _fresh_checkpoint_raises():
    import pyspark.errors

    return pytest.raises(
        pyspark.errors.StreamingQueryException,
        match="fresh checkpoint over an existing store",
    )


def _tokened(name):
    """(schema, start(stream, store, checkpoint), two non-empty
    deliveries) of the sinks whose fold is not idempotent and which
    therefore carry the tokened batch-id fence."""
    from anomaly_detection_in_time_series_data_spark.streaming import sinks

    return {
        "digest": (
            "h bigint",
            lambda s, p, c: sinks.digest_foreach_batch(s, p, checkpoint=c),
            [[(5,), (9,)], [(100,)]],
        ),
        "cms": (
            "i bigint, b bigint",
            lambda s, p, c: sinks.cms_foreach_batch(s, p, checkpoint=c),
            [[(0, 3), (0, 3), (1, 5)], [(0, 3), (2, 5)]],
        ),
        "mg": (
            "k bigint",
            lambda s, p, c: sinks.mg_foreach_batch(
                s, p, capacity=2, checkpoint=c
            ),
            [[(1,), (1,), (2,)], [(3,), (1,), (1,)]],
        ),
    }[name]


def _assert_tokened_fence(spark, start, schema, src, store, checkpoint, tmp_path):
    """The tokened fence over a store that applied batches 0..n from
    ``checkpoint``: the SAME checkpoint re-delivering batch n after a lost
    commit skips, and a FRESH checkpoint (ids restarting below the applied
    one) raises — a sketch carries no novelty signal, so a silent skip
    would drop data.  The store is unchanged either way."""
    import os

    before = _store_rows(spark, store)
    last = max(
        int(f) for f in os.listdir(os.path.join(checkpoint, "commits"))
        if f.isdigit()
    )
    _lose_commit(checkpoint, last)
    _run_sink(spark, start, schema, src, store, checkpoint)
    assert _store_rows(spark, store) == before
    with _fresh_checkpoint_raises():
        _run_sink(spark, start, schema, src, store, str(tmp_path / "ck_fresh"))
    assert _store_rows(spark, store) == before


def test_digest_sink_fold_and_replay_fence(spark, tmp_path):
    """digest_foreach_batch: (1) the commutative fold over three
    deliveries equals the one-shot digest of all rows; (2) the fold is not
    idempotent (re-folding would double counts), so the tokened fence
    skips a same-checkpoint replay and refuses a fresh checkpoint."""
    deliveries = [[(11,), (25,)], [(7,)], [(300,), (2,), (2,)]]
    schema, start, _ = _tokened("digest")
    src = str(tmp_path / "src")
    stage_deliveries(spark, src, deliveries, schema)
    store, ck = str(tmp_path / "state"), str(tmp_path / "ck")
    _run_sink(spark, start, schema, src, store, ck)
    row = spark.read.parquet(store).collect()[0]
    allv = [11, 25, 7, 300, 2, 2]
    xor = 0
    for v in allv:
        xor ^= v
    assert (row.n_rows, row.checksum_sum, row.checksum_xor,
            row.h_min, row.h_max) == (
        len(allv), sum(allv) % 9223372036854775807, xor, min(allv), max(allv)
    )
    _assert_tokened_fence(spark, start, schema, src, store, ck, tmp_path)


def test_cms_sink_keyed_fold_fence_and_identity(spark, tmp_path):
    """cms_foreach_batch: (1) the keyed addition over three deliveries,
    one of them empty (the addition identity), equals the one-shot (i, b)
    counts of all rows; (2) addition is not idempotent, so the tokened
    fence skips a same-checkpoint replay and refuses a fresh checkpoint."""
    deliveries = [[(0, 3), (0, 3), (1, 5)], [], [(0, 3), (2, 5), (1, 5)]]
    schema, start, _ = _tokened("cms")
    src = str(tmp_path / "src")
    stage_deliveries(spark, src, deliveries, schema)
    store, ck = str(tmp_path / "state"), str(tmp_path / "ck")
    _run_sink(spark, start, schema, src, store, ck)
    got = {(r.i, r.b): r.n for r in spark.read.parquet(store).collect()}
    assert got == {(0, 3): 3, (1, 5): 2, (2, 5): 1}
    _assert_tokened_fence(spark, start, schema, src, store, ck, tmp_path)


@pytest.mark.parametrize("name", ["digest", "cms", "mg"])
def test_tokened_sink_batch0_crash_replay_skips(spark, tmp_path, name):
    """applied == batch_id == 0 from the SAME checkpoint is the replay
    after a crash between the swap and the checkpoint commit on the very
    first batch — it must SKIP, not raise or re-fold.  The same shape from
    a DIFFERENT checkpoint is a fresh checkpoint pointed at a reused
    batch-0 store, where skipping would silently drop the first new
    delivery, so it raises.  The store is unchanged throughout."""
    schema, start, deliveries = _tokened(name)
    src = str(tmp_path / "src")
    stage_deliveries(spark, src, deliveries[:1], schema)
    store, ck = str(tmp_path / "state"), str(tmp_path / "ck")
    _run_sink(spark, start, schema, src, store, ck)
    folded = _store_rows(spark, store)
    assert folded

    _lose_commit(ck, 0)
    _run_sink(spark, start, schema, src, store, ck)
    assert _store_rows(spark, store) == folded

    with _fresh_checkpoint_raises():
        _run_sink(spark, start, schema, src, store, str(tmp_path / "ck2"))
    assert _store_rows(spark, store) == folded


@pytest.mark.parametrize("name", ["digest", "cms", "mg"])
def test_tokened_sink_relocated_pair_replays_cleanly(spark, tmp_path, name):
    """Checkpoint identity is a random token minted into
    ``<checkpoint>/_sink_identity``, not the checkpoint's filesystem path,
    so relocating a (store, checkpoint) pair TOGETHER (backup/restore,
    another mount point) keeps a crash-window replay classified as
    same-checkpoint (skip) instead of raising; a genuinely fresh
    checkpoint over the relocated store still raises."""
    import shutil

    schema, start, deliveries = _tokened(name)
    src = str(tmp_path / "src")
    stage_deliveries(spark, src, deliveries[:1], schema)
    store1, ck1 = str(tmp_path / "stateA" / "s"), str(tmp_path / "ckA" / "c")
    _run_sink(spark, start, schema, src, store1, ck1)
    folded = _store_rows(spark, store1)

    store2, ck2 = str(tmp_path / "stateB" / "s"), str(tmp_path / "ckB" / "c")
    shutil.copytree(store1, store2)
    shutil.copytree(ck1, ck2)
    shutil.rmtree(str(tmp_path / "stateA"))
    shutil.rmtree(str(tmp_path / "ckA"))
    _lose_commit(ck2, 0)
    _run_sink(spark, start, schema, src, store2, ck2)  # skip at the new path
    assert _store_rows(spark, store2) == folded

    with _fresh_checkpoint_raises():
        _run_sink(spark, start, schema, src, store2, str(tmp_path / "ckC" / "c"))
    assert _store_rows(spark, store2) == folded


@pytest.mark.parametrize("name", ["digest", "cms", "mg"])
def test_tokened_sink_empty_delivery_is_identity(spark, tmp_path, name):
    """A zero-row delivery folds as the identity: the store after
    (d0, empty, d1) equals the store after (d0, d1).  For the digest this
    pins the null-skipping aggregates — sum()/bit_xor()/min()/max() over
    zero rows are NULL, and must not reach the stored state."""
    schema, start, (d0, d1) = _tokened(name)
    stores = []
    for tag, deliveries in (("with", [d0, [], d1]), ("without", [d0, d1])):
        src = str(tmp_path / f"src_{tag}")
        stage_deliveries(spark, src, deliveries, schema)
        store = str(tmp_path / f"state_{tag}")
        _run_sink(spark, start, schema, src, store, str(tmp_path / f"ck_{tag}"))
        stores.append(_store_rows(spark, store))
    assert stores[0] == stores[1]
    assert all(v is not None for row in stores[0] for v in row)


@pytest.mark.parametrize("name", ["digest", "cms", "mg"])
def test_tokened_sink_store_without_sidecar_raises(spark, tmp_path, name):
    """The fence lives in the store's ``_sink.json`` sidecar.  A store
    without one (written by something other than the sink) gives a fenced
    sink no applied batch id to compare against, so the batch cannot be
    classified as new or replayed: the sink raises instead of folding it
    as unfenced, and leaves the store alone."""
    schema, start, deliveries = _tokened(name)
    src = str(tmp_path / "src")
    stage_deliveries(spark, src, deliveries[:1], schema)
    store = str(tmp_path / "state")
    spark.createDataFrame(deliveries[1], schema).write.parquet(store)
    before = _store_rows(spark, store)
    with pytest.raises(Exception, match="cannot classify replay"):
        _run_sink(spark, start, schema, src, store, str(tmp_path / "ck"))
    assert _store_rows(spark, store) == before


def test_hll_sink_idempotent_max_merge(spark, tmp_path):
    """hll_foreach_batch: (1) the streamed per-register max over three
    deliveries equals the one-shot max; (2) because max is IDEMPOTENT,
    a fresh-checkpoint replay of the same files is an algebraic no-op —
    no fence, no raise, store unchanged (contrast with the digest sink,
    which must raise on that shape); (3) an empty delivery is the
    identity."""
    from anomaly_detection_in_time_series_data_spark.streaming.sinks import (
        hll_foreach_batch,
    )

    schema = "reg bigint, rho bigint"
    deliveries = [
        [(0, 3), (1, 7), (0, 5)],
        [],
        [(0, 4), (2, 1)],
        [(1, 2), (2, 9)],
    ]
    src = str(tmp_path / "src")
    stage_deliveries(spark, src, deliveries, schema)
    store = str(tmp_path / "state")

    def run(ck):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        hll_foreach_batch(
            stream, store, checkpoint=str(tmp_path / ck)
        ).awaitTermination()

    run("ck1")
    regs = {r.reg: r.rho for r in spark.read.parquet(store).collect()}
    assert regs == {0: 5, 1: 7, 2: 9}

    run("ck2")  # fresh checkpoint, same files: idempotent, unchanged
    regs2 = {r.reg: r.rho for r in spark.read.parquet(store).collect()}
    assert regs2 == regs

def test_mg_sink_guarantee_fold_and_fence(spark, tmp_path):
    """mg_foreach_batch (bounded-state lossy fold): (1) the streamed
    three-delivery fold equals a Python replica of the mergeable-summaries
    rule step-for-step; (2) the classic MG guarantee holds vs exact
    counts — every surviving count undercounts by at most the total
    decremented mass, and every key with true frequency > N/(capacity+1)
    is present; (3) state never exceeds capacity rows; (4) trimming is not
    idempotent, so the tokened fence skips a same-checkpoint replay and
    refuses a fresh checkpoint."""
    from collections import Counter

    from anomaly_detection_in_time_series_data_spark.streaming.sinks import (
        mg_foreach_batch,
    )

    cap = 4
    deliveries = [
        [(k,) for k in [1, 1, 1, 2, 2, 3, 4, 5, 6, 1]],
        [(k,) for k in [1, 1, 7, 7, 8, 2, 2, 2]],
        [(k,) for k in [9, 9, 9, 9, 1, 2]],
    ]
    schema = "k bigint"
    src = str(tmp_path / "src")
    stage_deliveries(spark, src, deliveries, schema)
    store, ck = str(tmp_path / "state"), str(tmp_path / "ck")

    def start(stream, store, checkpoint):
        return mg_foreach_batch(stream, store, capacity=cap, checkpoint=checkpoint)

    _run_sink(spark, start, schema, src, store, ck)
    got = {r.k: r.n for r in spark.read.parquet(store).collect()}

    # Python replica of the fold + decrement accounting
    state: Counter = Counter()
    dec_total = 0
    for rows in deliveries:
        for (k,) in rows:
            state[k] += 1
        if len(state) > cap:
            d = sorted(state.values(), reverse=True)[cap]
            dec_total += d
            state = Counter(
                {k: v - d for k, v in state.items() if v - d > 0}
            )
    assert got == dict(state)
    assert len(got) <= cap  # bounded state

    exact = Counter(k for rows in deliveries for (k,) in rows)
    n_total = sum(exact.values())
    for k, n in got.items():
        assert n <= exact[k] <= n + dec_total  # undercount bound
    for k, c in exact.items():
        if c > n_total / (cap + 1):
            assert k in got, f"heavy hitter {k} missing"

    _assert_tokened_fence(spark, start, schema, src, store, ck, tmp_path)


def test_stream_parts_scales_with_source_bytes(tmp_path, monkeypatch):
    """stream_parts (optimization r13) sizes the streaming shuffle/state
    partition count by source bytes: small fixtures collapse to 1, large
    sources grow linearly at one partition per target chunk, and the env
    override wins outright."""
    from anomaly_detection_in_time_series_data_spark.streaming import runtime

    (tmp_path / "tiny.parquet").write_bytes(b"x" * 1024)
    monkeypatch.delenv("ADTS_STREAM_PARTS", raising=False)
    assert runtime.stream_parts(str(tmp_path), "tiny") == 1
    # 3 x 64 MB target -> 3 partitions (use a tiny target to avoid a big file)
    monkeypatch.setattr(runtime, "STREAM_PART_BYTES", 512)
    (tmp_path / "mid.parquet").write_bytes(b"x" * 1536)
    assert runtime.stream_parts(str(tmp_path), "mid") == 3
    # multiple tables sum
    assert runtime.stream_parts(str(tmp_path), "mid", "tiny") == 5
    # a missing table charges one full target chunk, never zero
    assert runtime.stream_parts(str(tmp_path), "absent") == 1
    # env override wins
    monkeypatch.setenv("ADTS_STREAM_PARTS", "7")
    assert runtime.stream_parts(str(tmp_path), "mid") == 7


def _gated_run_to_memory(spark, tmp_path, monkeypatch):
    """``run(name)`` starts a ``run_to_memory`` stream in a new thread that
    stops just before ``awaitTermination``: ``started[name]`` is set once
    the query has started, ``release[name]`` lets the thread wait for it.
    ``results[name]`` and ``parts[name]`` (the state store's shuffle
    partition count) are filled when the thread ends.  The stream's
    partition count is pinned to 3, the test session's is 4."""
    import threading

    from pyspark.sql.streaming.query import StreamingQuery

    from anomaly_detection_in_time_series_data_spark.streaming import runtime

    schema = T.StructType([T.StructField("k", T.StringType())])
    src = str(tmp_path / "src")
    stage_deliveries(spark, src, [[("a",), ("b",), ("a",)]], schema)
    monkeypatch.setenv("ADTS_STREAM_PARTS", "3")
    started, release, results, parts = {}, {}, {}, {}
    await_termination = StreamingQuery.awaitTermination

    def gated(query, timeout=None):
        name = threading.current_thread().name
        started[name].set()
        release[name].wait(120)
        done = await_termination(query, timeout)
        parts[name] = query.lastProgress.stateOperators[0].numShufflePartitions
        return done

    monkeypatch.setattr(StreamingQuery, "awaitTermination", gated)

    def body(name):
        counts = spark.readStream.schema(schema).parquet(src).groupBy("k").count()
        out = runtime.run_to_memory(counts, name, "complete", src)
        results[name] = sorted(map(tuple, out.collect()))

    def run(name):
        started[name], release[name] = threading.Event(), threading.Event()
        t = threading.Thread(target=body, args=(name,), name=name)
        t.start()
        assert started[name].wait(120), f"{name} did not start"
        return t

    return run, release, results, parts


def _finish(spark, threads, release, key, before):
    for event in release.values():
        event.set()
    for t in threads:
        t.join(120)
    spark.conf.set(key, before)  # a scope held across the wait leaks


def test_stream_conf_scoped_to_start(spark, tmp_path, monkeypatch):
    """A stream freezes its session conf at ``start()``, so
    ``run_to_memory`` sets the stream's partition count only around that
    call: while the stream runs in another thread, the caller's session
    plans with its own value, and the stream still runs with 3."""
    run, release, results, parts = _gated_run_to_memory(spark, tmp_path, monkeypatch)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert before != "3"
    threads = []
    try:
        threads.append(run("scoped_a"))
        assert spark.conf.get(key) == before
    finally:
        _finish(spark, threads, release, key, before)
    assert results["scoped_a"] == [("a", 2), ("b", 1)]
    assert parts["scoped_a"] == 3


def test_streams_from_two_threads_restore_session_conf(
    spark, tmp_path, monkeypatch
):
    """Two streams started from two threads, both running at once, leave
    the session's conf as it was before either started; each stream runs
    with its own partition count and gives its sequential result."""
    run, release, results, parts = _gated_run_to_memory(spark, tmp_path, monkeypatch)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    threads = []
    try:
        threads.append(run("scoped_b"))
        threads.append(run("scoped_c"))
        for t in threads:  # the first-started stream ends first
            release[t.name].set()
            t.join(120)
        assert spark.conf.get(key) == before
    finally:
        _finish(spark, threads, release, key, before)
    assert results == {n: [("a", 2), ("b", 1)] for n in ("scoped_b", "scoped_c")}
    assert parts == {"scoped_b": 3, "scoped_c": 3}


def test_scoped_conf_restores_previous_values(spark):
    from anomaly_detection_in_time_series_data_spark.streaming.runtime import (
        scoped_conf,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with scoped_conf(spark, {key: "3"}):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before

    # Threads swapping the same conf at once each see their own value in
    # the block and restore the one from before it.
    seen = []

    def swap(i):
        for _ in range(25):
            with scoped_conf(spark, {key: str(10 + i)}):
                seen.append(spark.conf.get(key) == str(10 + i))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=swap, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert seen == [True] * 200
    assert spark.conf.get(key) == before
