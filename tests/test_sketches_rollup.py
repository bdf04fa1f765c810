"""Round-3 operator families: two-pass exact heavy hitters, rollup
cascade mergeability, Holt forecast anomalies."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from anomaly_detection_in_time_series_data_spark import plans
from anomaly_detection_in_time_series_data_spark.operators import anomaly, rollup, sketches


# ---------------------------------------------------------------------------
# Heavy hitters
# ---------------------------------------------------------------------------


def _exact_hh(spark, df, phi):
    """Reference: full exact groupBy + threshold."""
    n = df.count()
    import math

    t = math.ceil(phi * float(n))
    rows = (
        df.groupBy("k").count().filter(F.col("count") >= t).collect()
    )
    return {(r["k"], r["count"]) for r in rows}


def test_heavy_hitters_exact_under_adversarial_partitioning(spark):
    # One globally-heavy key spread thin across partitions + uniform noise.
    # phi = 0.02 -> capacity default 101; force capacity DOWN to the
    # pigeonhole minimum so eviction actually happens in every partition.
    noise = [(f"n{i % 400}",) for i in range(4000)]
    heavy = [("HH",)] * 120  # 120 / 4120 ~ 2.9% > phi
    df = (
        spark.createDataFrame(noise + heavy, ["k"])
        # hash-repartition: spreads the heavy key's copies over all parts
        .repartition(16, F.monotonically_increasing_id())
    )
    phi = 0.02
    got = sketches.heavy_hitters_exact(df, "k", phi=phi, capacity=51)
    rows = got.collect()
    assert {(r["k"], r["hh_count"]) for r in rows} == _exact_hh(spark, df, phi)
    # and the thresholds it reports are self-consistent
    for r in rows:
        assert r["hh_count"] >= r["threshold"]


def test_heavy_hitters_empty_and_all_heavy(spark):
    empty = spark.createDataFrame([], "k string")
    assert sketches.heavy_hitters_exact(empty, "k", phi=0.1).count() == 0
    # single-key stream: the key is trivially 100% of the mass
    one = spark.createDataFrame([("a",)] * 50, ["k"])
    rows = sketches.heavy_hitters_exact(one, "k", phi=0.5).collect()
    assert len(rows) == 1 and rows[0]["hh_count"] == 50


def test_heavy_hitters_exact_keeps_null_key(spark):
    # NULL is one key, as in groupBy: here the heaviest one, spread over
    # several partitions (one candidate counter each, merged by distinct)
    rows = [(None,)] * 50 + [("x",)] * 30 + [("y",)] * 20
    df = spark.createDataFrame(rows, "k string").repartition(3)
    got = sketches.heavy_hitters_exact(df, "k", phi=0.3).collect()
    assert {(r["k"], r["hh_count"]) for r in got} == {(None, 50), ("x", 30)}


def test_mg_candidates_one_counter_for_nan_and_null(spark):
    # a double NaN is one key as well (groupBy's NaN = NaN): cut into
    # Arrow batches of 3 rows, each batch's NaN must land on the same
    # counter, or 17 NaN counters of 3 crowd the capacity-2 summary out
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "3")
    try:
        rows = [(float("nan"),)] * 50 + [(None,)] * 30 + [(2.0,)] * 20
        df = spark.createDataFrame(rows, "k double").coalesce(1)
        got = [r["k"] for r in sketches.mg_candidates(df, "k", capacity=2).collect()]
    finally:
        spark.conf.set(key, prev) if prev is not None else spark.conf.unset(key)
    assert sorted("nan" if k != k else str(k) for k in got) == ["None", "nan"]


def test_mg_candidates_bounded_per_partition(spark):
    # Candidate pass must emit at most `capacity` keys per partition.
    df = spark.createDataFrame(
        [(f"k{i}",) for i in range(5000)], ["k"]
    ).repartition(4)
    cand = sketches.mg_candidates(df, "k", capacity=10)
    assert cand.count() <= 4 * 10


def test_mg_merge_guarantee():
    # After merging any batch sequence, a key with true count > N/(c+1)
    # must survive with positive residual count.
    import random

    rng = random.Random(7)
    stream = ["hh"] * 300 + [f"x{rng.randrange(200)}" for _ in range(900)]
    rng.shuffle(stream)
    counters: dict = {}
    for i in range(0, len(stream), 100):
        batch: dict = {}
        for k in stream[i : i + 100]:
            batch[k] = batch.get(k, 0) + 1
        counters = sketches._mg_merge(counters, batch, capacity=9)
    assert "hh" in counters  # 300 > 1200/10


# ---------------------------------------------------------------------------
# Rollup cascade
# ---------------------------------------------------------------------------


def _mk_events(spark, rows):
    return spark.createDataFrame(rows, "k string, ts timestamp, value double")


def test_rollup_cascade_matches_direct_aggregation(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(500):
        rows.append(
            ("a", t0 + dt.timedelta(seconds=37 * i), round((i * 7919) % 400 / 4.0, 2))
        )
    for i in range(100):  # constant-valued key: std must clamp to exactly 0
        rows.append(("b", t0 + dt.timedelta(seconds=600 * i), 5.25))
    ev = _mk_events(spark, rows).repartition(8)

    minute = rollup.time_bucket_partials(ev, "k", "ts", "value", "1 minute")
    day_cascaded = rollup.merge_rollup(
        rollup.merge_rollup(minute, "k", "1 hour"), "k", "1 day"
    )
    direct = rollup.time_bucket_partials(ev, "k", "ts", "value", "1 day")

    got = {
        (r["k"], r["bucket_us"]): r.asDict()
        for r in rollup.finalize_stats(day_cascaded, "k").collect()
    }
    want = {
        (r["k"], r["bucket_us"]): r.asDict()
        for r in rollup.finalize_stats(direct, "k").collect()
    }
    assert got.keys() == want.keys()
    for key in want:
        for col in ("n_events", "sum_value", "avg_value", "std_value",
                    "min_value", "max_value"):
            assert got[key][col] == want[key][col], (key, col)


def test_rollup_constant_bucket_std_zero(spark):
    t0 = dt.datetime(2024, 3, 1)
    ev = _mk_events(spark, [("c", t0 + dt.timedelta(minutes=i), 1.11) for i in range(10)])
    out = rollup.finalize_stats(
        rollup.time_bucket_partials(ev, "k", "ts", "value", "1 day"), "k"
    ).collect()
    assert len(out) == 1 and out[0]["std_value"] == 0.0


# ---------------------------------------------------------------------------
# Holt forecast anomalies
# ---------------------------------------------------------------------------


def test_holt_chunked_bit_equal_to_single_chunk(spark):
    # a NULL key is one series with its own spike, on both chunkings
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a", t0 + dt.timedelta(hours=3 * i), i, float(10 + 0.5 * i + (i % 7)))
        for i in range(300)
    ] + [
        (None, t0 + dt.timedelta(hours=5 * i), 300 + i,
         500.0 if i == 40 else float(20 + (i % 5)))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, event_id long, value double")
    kw = dict(key_col="k", ts_col="ts", value_col="value", tiebreak_col="event_id")
    fine = anomaly.holt_forecast_anomaly_chunked(df, chunk="2 days", **kw)
    one = anomaly.holt_forecast_anomaly_chunked(df, chunk="3650 days", **kw)

    def key(r):
        return (r["k"], r["event_ts"])

    a = {key(r): (r["forecast"], r["is_anomaly"]) for r in fine.collect()}
    b = {key(r): (r["forecast"], r["is_anomaly"]) for r in one.collect()}
    assert len(a) == len(b) == len(rows)
    assert a.keys() == b.keys()
    assert a[(None, t0 + dt.timedelta(hours=5 * 40))][1]  # the NULL key's spike
    for k in a:  # bit-equal forecasts, identical flags
        fa, ba = a[k], b[k]
        assert (fa[0] == ba[0]) or (fa[0] != fa[0] and ba[0] != ba[0])
        assert fa[1] == ba[1]


def test_holt_flags_spike_not_trend(spark):
    # A clean linear trend with one large spike: the trend itself must not
    # fire (the forecast tracks it), the spike must.
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(200):
        v = 100.0 + 2.0 * i + (0.8 if i % 3 == 0 else -0.6)  # small noise
        if i == 150:
            v += 500.0
        rows.append(("a", t0 + dt.timedelta(hours=i), i, v))
    df = spark.createDataFrame(rows, "k string, ts timestamp, event_id long, value double")
    out = anomaly.holt_forecast_anomaly_chunked(
        df, key_col="k", ts_col="ts", value_col="value", tiebreak_col="event_id",
        chunk="30 days",
    ).collect()
    flagged = sorted(r["event_ts"] for r in out if r["is_anomaly"])
    spike_ts = t0 + dt.timedelta(hours=150)
    assert spike_ts in flagged
    # the spike perturbs the state briefly; allow its immediate aftermath
    # but nothing before it
    assert all(ts >= spike_ts for ts in flagged)
    assert len(flagged) <= 5


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------


def test_cms_estimate_never_undercounts_and_collisions_overcount(spark):
    # 300 distinct keys into width=16 buckets forces collisions, so some
    # estimates MUST overcount — and none may ever undercount (the CMS
    # one-sided guarantee).
    rows = [(f"k{i % 300}",) for i in range(3000)]
    df = spark.createDataFrame(rows, ["k"]).repartition(8)
    rep = sketches.cms_estimate_report(df, "k", depth=3, width=16).collect()
    assert len(rep) == 300
    assert all(r["overcount"] >= 0 for r in rep)
    assert any(r["overcount"] > 0 for r in rep)  # collisions are real at w=16
    assert all(r["cms_estimate"] == r["exact_count"] + r["overcount"] for r in rep)


def test_cms_estimate_report_keeps_null_key(spark):
    # NULL is one key, and the heaviest: its rows share sketch bucket NULL
    # in every row, so the report must carry it like any other key.
    rows = [(None,)] * 50 + [("x",)] * 30 + [("y",)] * 20
    df = spark.createDataFrame(rows, "k string").repartition(3)
    report = sketches.cms_estimate_report(df, "k", depth=3, width=16)
    assert "BroadcastHashJoin" in plans.executed_plan(report)  # sketch join
    rep = {r["k"]: r for r in report.collect()}
    assert set(rep) == {None, "x", "y"}
    assert rep[None]["exact_count"] == 50
    assert rep[None]["cms_estimate"] >= 50
    assert all(r["cms_estimate"] == r["exact_count"] + r["overcount"] for r in rep.values())


def test_cms_sketch_is_mergeable_across_splits(spark):
    # sketch(A) + sketch(B) summed per (row, bucket) == sketch(A union B):
    # the property that lets per-shard sketches roll up without raw data.
    rows = [(f"k{i % 40}",) for i in range(800)]
    df = spark.createDataFrame(rows, ["k"]).withColumn(
        "half", F.monotonically_increasing_id() % 2
    )
    whole = {
        (r["i"], r["b"]): r["c"]
        for r in sketches.cms_sketch(df, "k", depth=3, width=16).collect()
    }
    merged: dict = {}
    for h in (0, 1):
        part = sketches.cms_sketch(
            df.filter(F.col("half") == h), "k", depth=3, width=16
        )
        for r in part.collect():
            merged[(r["i"], r["b"])] = merged.get((r["i"], r["b"]), 0) + r["c"]
    assert merged == whole
