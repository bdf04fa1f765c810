"""Bucketed co-located join (no Exchange in plan) and stream-stream
event-time join (T3: the locations x accelerations co-stream)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anomaly_detection_in_time_series_data_spark import plans
from anomaly_detection_in_time_series_data_spark.sources import bucketing


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    try:
        bucketing.write_bucketed(
            orders.withColumnRenamed("o_orderkey", "orderkey"),
            "orders_b",
            bucket_cols=["orderkey"],
            num_buckets=8,
        )
        bucketing.write_bucketed(
            lineitem.withColumnRenamed("l_orderkey", "orderkey"),
            "lineitem_b",
            bucket_cols=["orderkey"],
            num_buckets=8,
        )
        joined = bucketing.bucketed_join(spark, "orders_b", "lineitem_b", ["orderkey"])
        # disable auto-broadcast so the bucket-local SMJ is what we observe
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plans.executed_plan(joined)
        assert "Exchange" not in plan  # co-located: no shuffle on either side
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


import contextlib


@contextlib.contextmanager
def _one_state_partition(spark):
    """Scope the stream's shuffle/state-store partition count to 1 for
    the duration of a test stream (conf is frozen into the query at
    start()).  These eviction audits deliver ONE key across ~16 triggers;
    at the session default every trigger opens/commits 4 state stores x
    N partitions of empty state — pure wall-time (the r13
    ``streaming.runtime.stream_parts`` lesson applied to the suite;
    semantics are per-key, partition-count independent)."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


ROW = T.StructType(
    [
        T.StructField("ride_id", T.StringType()),
        T.StructField("event_ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def test_stream_stream_join_on_event_time(spark, tmp_path):
    """T3: two signals with identical batch boundaries joined on key within
    an event-time bound (the join the reference's producer-only notebook
    implies but never builds)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def write(dirname, rows):
        spark.createDataFrame(rows, ROW).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / dirname))

    write("loc/b0", [("r1", base + dt.timedelta(seconds=s), float(s)) for s in (0, 10, 20)])
    write("acc/b0", [("r1", base + dt.timedelta(seconds=s + 1), 100.0 + s) for s in (0, 10, 20)])

    loc = (
        spark.readStream.schema(ROW).parquet(str(tmp_path / "loc/*"))
        .withWatermark("event_ts", "1 minute")
        .select("ride_id", F.col("event_ts").alias("loc_ts"), F.col("v").alias("speed"))
    )
    acc = (
        spark.readStream.schema(ROW).parquet(str(tmp_path / "acc/*"))
        .withWatermark("event_ts", "1 minute")
        .select(
            F.col("ride_id").alias("acc_ride_id"),
            F.col("event_ts").alias("acc_ts"),
            F.col("v").alias("accel"),
        )
    )
    joined = loc.join(
        acc,
        F.expr(
            """
            ride_id = acc_ride_id AND
            acc_ts BETWEEN loc_ts AND loc_ts + INTERVAL 5 seconds
            """
        ),
    )
    with _one_state_partition(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName("ssj")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("select * from ssj").collect()
    # each location row pairs with the acceleration 1s later, same ride
    assert len(rows) == 3
    assert all(r.accel == 100.0 + r.speed for r in rows)


def test_stream_stream_join_state_eviction_bounded(spark, tmp_path):
    """Both-side watermark EVICTION audit (VERDICT r10 stretch): a
    stream-stream interval join whose deliveries span far more event
    time than the join bound must (1) produce exactly the batch-join
    result and (2) keep the join state-store BOUNDED — the final
    trigger's numRowsTotal must sit far below the total rows delivered,
    because rows older than watermark - bound are evicted.  Without
    watermarks the state would hold every row ever seen; this pins the
    eviction actually happening, per-batch, from the progress metrics."""
    import datetime as dt
    import time

    base = dt.datetime(2024, 1, 1)
    n_files = 8

    def write(dirname, rows):
        spark.createDataFrame(rows, ROW).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / dirname))

    # one (left, right) pair per file, files 10 minutes apart — far past
    # the 5s join bound and the 20s watermark
    for i in range(n_files):
        ts = base + dt.timedelta(minutes=10 * i)
        write(f"lhs/b{i}", [("r1", ts, float(i))])
        write(f"rhs/b{i}", [("r1", ts + dt.timedelta(seconds=2), 100.0 + i)])

    lhs = (
        spark.readStream.schema(ROW)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "lhs/*"))
        .withWatermark("event_ts", "20 seconds")
        .select("ride_id", F.col("event_ts").alias("l_ts"), F.col("v").alias("lv"))
    )
    rhs = (
        spark.readStream.schema(ROW)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "rhs/*"))
        .withWatermark("event_ts", "20 seconds")
        .select(
            F.col("ride_id").alias("r_ride_id"),
            F.col("event_ts").alias("r_ts"),
            F.col("v").alias("rv"),
        )
    )
    joined = lhs.join(
        rhs,
        F.expr(
            "ride_id = r_ride_id AND "
            "r_ts BETWEEN l_ts AND l_ts + INTERVAL 5 seconds"
        ),
    )
    with _one_state_partition(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName("ssj_evict")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .start()
        )
    try:
        q.processAllAvailable()
        time.sleep(1)  # let the last progress event land
        progress = list(q.recentProgress)
    finally:
        q.stop()
    rows = spark.sql("select * from ssj_evict").collect()
    assert len(rows) == n_files  # batch-join result: one pair per file
    assert sorted(r.rv for r in rows) == [100.0 + i for i in range(n_files)]
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progress
        if p.get("stateOperators")
    ]
    assert state_rows, "no state-operator metrics captured"
    total_delivered = 2 * n_files
    # eviction audit: state never approaches everything-ever-delivered,
    # and the final trigger holds only the newest sliver
    assert max(state_rows) < total_delivered
    assert state_rows[-1] <= 4


def test_stream_stream_left_outer_state_eviction_and_null_padding(
    spark, tmp_path
):
    """LEFT OUTER twin of the eviction audit (VERDICT r11 item 6b): the
    r11 test pins inner-join state only, but the outer join adds the
    semantics that only the streaming runtime has — an unmatched left
    row may emit its null-padded form ONLY once the watermark proves no
    match can arrive.  Deliveries alternate matched / unmatched left
    rows, spaced far past the join bound, so the audit pins three
    things: (1) every matched pair emits with its value, (2) every
    unmatched left row whose horizon closed emits exactly once with
    NULL right columns (the final file's row stays held back — its
    horizon is still open at end of input), and (3) the join state
    store stays bounded, never approaching everything-ever-delivered."""
    import datetime as dt
    import time

    base = dt.datetime(2024, 1, 1)
    n_files = 8

    def write(dirname, rows):
        spark.createDataFrame(rows, ROW).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / dirname))

    # files 10 minutes apart (>> 5s bound + 20s watermark); even files
    # have a matching right row, odd files do not
    for i in range(n_files):
        ts = base + dt.timedelta(minutes=10 * i)
        write(f"lhs/b{i}", [("r1", ts, float(i))])
        if i % 2 == 0:
            write(f"rhs/b{i}", [("r1", ts + dt.timedelta(seconds=2), 100.0 + i)])
        else:  # keep file cadence so both sides' watermarks advance together
            write(f"rhs/b{i}", [("zzz-no-match", ts + dt.timedelta(seconds=2), -1.0)])

    lhs = (
        spark.readStream.schema(ROW)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "lhs/*"))
        .withWatermark("event_ts", "20 seconds")
        .select("ride_id", F.col("event_ts").alias("l_ts"), F.col("v").alias("lv"))
    )
    rhs = (
        spark.readStream.schema(ROW)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "rhs/*"))
        .withWatermark("event_ts", "20 seconds")
        .select(
            F.col("ride_id").alias("r_ride_id"),
            F.col("event_ts").alias("r_ts"),
            F.col("v").alias("rv"),
        )
    )
    joined = lhs.join(
        rhs,
        F.expr(
            "ride_id = r_ride_id AND "
            "r_ts BETWEEN l_ts AND l_ts + INTERVAL 5 seconds"
        ),
        "leftOuter",
    )
    with _one_state_partition(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName("ssj_loj_evict")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_loj"))
            .start()
        )
    try:
        q.processAllAvailable()
        time.sleep(1)
        progress = list(q.recentProgress)
    finally:
        q.stop()
    rows = spark.sql("select * from ssj_loj_evict").collect()
    matched = {r.lv: r.rv for r in rows if r.rv is not None}
    nulls = sorted(r.lv for r in rows if r.rv is None)
    # (1) every even file's pair emitted with its right value
    assert matched == {float(i): 100.0 + i for i in range(n_files) if i % 2 == 0}
    # (2) null-padded rows: exactly the odd files whose horizon closed.
    # The last odd file (n_files-1) has no later delivery to advance the
    # watermark past its horizon, so it is held back in state.
    assert nulls == [float(i) for i in range(n_files) if i % 2 == 1][:-1]
    for r in rows:
        if r.rv is None:
            assert r.r_ride_id is None and r.r_ts is None  # true null padding
    # (3) bounded state: never everything-ever-delivered
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progress
        if p.get("stateOperators")
    ]
    assert state_rows, "no state-operator metrics captured"
    assert max(state_rows) < 2 * n_files
