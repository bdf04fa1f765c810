"""foreachBatch sinks: the upsert keep-latest-per-key merge (idempotent
under batch replay, the streaming CDC/compaction pattern) and the
per-trigger Spark job count of every ``fold_sink`` sink."""

from __future__ import annotations

import datetime as dt
import re
from collections import Counter

import pytest
from conftest import stage_deliveries

from anomaly_detection_in_time_series_data_spark.streaming import sinks
from anomaly_detection_in_time_series_data_spark.streaming.sinks import (
    merge_latest,
    upsert_foreach_batch,
)


def test_merge_latest_keeps_newest_and_prefers_batch_on_tie(spark):
    cur = spark.createDataFrame(
        [(1, 10, "old"), (2, 20, "cur2")], "k int, v int, tag string"
    )
    batch = spark.createDataFrame(
        [(1, 11, "new"), (2, 20, "batch2"), (3, 5, "ins")], "k int, v int, tag string"
    )
    out = {
        r["k"]: r["tag"]
        for r in merge_latest(cur, batch, ["k"], "v").collect()
    }
    assert out == {1: "new", 2: "batch2", 3: "ins"}  # tie on k=2 -> batch wins


def test_streaming_upsert_end_to_end(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    s1 = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b")], "k long, seq long, payload string"
    )
    s2 = spark.createDataFrame(
        [(2, 2, "b2"), (3, 1, "c")], "k long, seq long, payload string"
    )
    s1.coalesce(1).write.parquet(str(src / "batch1"))
    s2.coalesce(1).write.parquet(str(src / "batch2"))

    stream = (
        spark.readStream.schema("k long, seq long, payload string")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = str(tmp_path / "table")
    q = upsert_foreach_batch(
        stream,
        out,
        key_cols=["k"],
        order_col="seq",
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    final = {r["k"]: (r["seq"], r["payload"]) for r in spark.read.parquet(out).collect()}
    assert final == {1: (1, "a"), 2: (2, "b2"), 3: (1, "c")}

    # Replaying a batch converges to the same table (idempotent merge).
    q2 = upsert_foreach_batch(
        spark.readStream.schema("k long, seq long, payload string")
        .option("recursiveFileLookup", "true")
        .parquet(str(src)),
        out,
        key_cols=["k"],
        order_col="seq",
        checkpoint=str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination()
    final2 = {r["k"]: (r["seq"], r["payload"]) for r in spark.read.parquet(out).collect()}
    assert final2 == final


# ---------------------------------------------------------------------------
# Per-trigger Spark job counts of every fold_sink sink.
# ---------------------------------------------------------------------------

_T = dt.datetime(2024, 1, 1)
# name -> (schema, three deliveries with the middle one empty, start(stream,
# store, checkpoint), per-trigger job budget).  A budget is the fold's own
# jobs: under AQE each exchange's map stage is one job and the staging
# write is one more.
_SINKS = {
    "upsert": (
        "k bigint, seq bigint",
        [[(1, 1), (2, 1)], [], [(2, 2), (3, 1)]],
        lambda s, p, c: sinks.upsert_foreach_batch(
            s, p, key_cols=["k"], order_col="seq", checkpoint=c
        ),
        2,
    ),
    "scd2": (
        "user_id bigint, event_type string, ts timestamp",
        [[(1, "a", _T), (2, "x", _T)], [], [(1, "b", _T.replace(day=8))]],
        lambda s, p, c: sinks.scd2_foreach_batch(
            s, p, keys=["user_id"], tracked=["event_type"], ts_col="ts",
            checkpoint=c,
        ),
        3,  # two exchanges in the merge + write
    ),
    "streaks": (
        "user_id bigint, day_idx bigint",
        [[(1, 10), (1, 11)], [], [(1, 12), (2, 3)]],
        lambda s, p, c: sinks.streaks_foreach_batch(s, p, checkpoint=c),
        4,  # three exchanges (islands, per-user agg, state join) + write
    ),
    "digest": (
        "h bigint",
        [[(5,), (9,)], [], [(100,)]],
        lambda s, p, c: sinks.digest_foreach_batch(s, p, checkpoint=c),
        2,
    ),
    "hll": (
        "reg bigint, rho bigint",
        [[(0, 3), (1, 7)], [], [(0, 4), (2, 1)]],
        lambda s, p, c: sinks.hll_foreach_batch(s, p, checkpoint=c),
        2,
    ),
    "cms": (
        "i bigint, b bigint",
        [[(0, 3), (1, 5)], [], [(0, 3), (2, 5)]],
        lambda s, p, c: sinks.cms_foreach_batch(s, p, checkpoint=c),
        2,
    ),
    "mg": (
        "k bigint",
        [[(1,), (1,), (2,)], [], [(3,), (1,)]],
        lambda s, p, c: sinks.mg_foreach_batch(s, p, capacity=2, checkpoint=c),
        4,  # exchange + localCheckpoint + trim-threshold collect + write
    ),
}


def _jobs_per_trigger(spark, run_id: str) -> Counter:
    """Jobs in the stream's runId group, keyed by the micro-batch id Spark
    writes into each job's description."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    status = sc._jsc.sc().statusStore()
    per: Counter = Counter()
    for job in sc.statusTracker().getJobIdsForGroup(run_id):
        desc = status.job(job).description()
        m = re.search(r"batch = (\d+)", desc.get()) if desc.isDefined() else None
        assert m, f"job {job} of stream {run_id} ran outside a micro-batch"
        per[int(m.group(1))] += 1
    return per


@pytest.mark.parametrize("name", list(_SINKS))
def test_sink_trigger_job_counts(spark, tmp_path, name):
    """Each trigger runs only its fold's jobs: the fence and the store
    schema come from the sidecar file (no fence-read or schema-inference
    job) and an empty delivery folds as the identity (no ``isEmpty()``
    job).  hll and cms fold delivery and store in one aggregate, so a
    trigger is one exchange plus the staging write."""
    schema, deliveries, start, budget = _SINKS[name]
    src = str(tmp_path / "src")
    stage_deliveries(spark, src, deliveries, schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start(stream, str(tmp_path / "store"), str(tmp_path / "ck"))
    q.awaitTermination()
    per = _jobs_per_trigger(spark, str(q.runId))
    assert sorted(per) == [0, 1, 2]
    assert max(per.values()) <= budget, dict(per)


def test_replay_to_store_removes_temp_root_when_sink_fails(
    spark, tmp_path, monkeypatch
):
    """A sink that raises mid-replay (after one delivery folded) must
    surface its error from ``replay_to_store`` and leave no temp root
    behind: staged deliveries, store and checkpoint all go."""
    import tempfile

    from pyspark.errors import StreamingQueryException

    from anomaly_detection_in_time_series_data_spark.streaming.runtime import (
        replay_to_store,
    )

    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    folded = []

    def fold(batch_df, state, batch_id):
        folded.append(batch_id)
        if batch_id == 1:
            raise RuntimeError("replay boom")
        return batch_df

    frame = spark.createDataFrame(
        [(k, k % 3) for k in range(9)], "k long, shard long"
    )
    with pytest.raises(StreamingQueryException, match="replay boom"):
        replay_to_store(
            frame, "shard", range(3), ["k"],
            lambda stream, store, checkpoint: sinks.fold_sink(
                stream, store, checkpoint=checkpoint, fold=fold
            ),
            lambda store: store,
            str(tmp_path),
        )
    assert folded == [0, 1]
    assert list(scratch.iterdir()) == []
