"""Scale-formulation operators must equal their naive counterparts exactly:
chunked rolling z-score vs single-partition window, salted agg vs plain
groupBy, as-of join vs per-row lookup."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from anomaly_detection_in_time_series_data_spark.operators import anomaly, skew
from anomaly_detection_in_time_series_data_spark.operators.joins import asof_join


def test_chunked_zscore_equals_plain(spark, sf_dir):
    events = __import__(
        "anomaly_detection_in_time_series_data_spark.tables", fromlist=["load_table"]
    ).load_table(spark, sf_dir, "events")
    plain = anomaly.flag_event_anomalies(events, lookback=20, threshold=3.0)
    chunked = anomaly.rolling_zscore_chunked(
        events,
        partition_cols=["event_type"],
        ts_col="ts",
        tiebreak_col="event_id",
        lookback=20,
        threshold=3.0,
        chunk="7 days",
    ).select("event_id", "event_type", "value", "is_anomaly")
    a = {r.event_id: r.is_anomaly for r in plain.collect()}
    b = {r.event_id: r.is_anomaly for r in chunked.collect()}
    assert a == b


def test_salted_agg_equals_plain(spark):
    # Hot key: 90% of rows on one key.
    rows = [("hot" if i % 10 else "cold", float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, ["k", "v"])
    plain = {
        r.k: (r.total, r.n, r.mx)
        for r in df.groupBy("k")
        .agg(
            F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("total"),
            F.count("*").alias("n"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        r.k: (r.total, r.n, r.mx)
        for r in skew.salted_agg(
            df,
            ["k"],
            {
                "total": (
                    F.sum(F.col("v").cast("decimal(18,2)")),
                    "sum",
                ),
                "n": (F.count("*"), "sum"),
                "mx": (F.max("v"), "max"),
            },
            salt_buckets=8,
        )
        .withColumn("total", F.col("total").cast("double"))
        .collect()
    }
    assert plain == salted


def test_asof_join_semantics(spark):
    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [
            (1, base + dt.timedelta(days=5), "e1"),
            (1, base + dt.timedelta(days=1), "e2"),
            (2, base + dt.timedelta(days=3), "e3"),
            (3, base + dt.timedelta(days=9), "e4"),  # key with no right rows
        ],
        ["k", "ts", "eid"],
    )
    right = spark.createDataFrame(
        [
            (1, base + dt.timedelta(days=0), 100),
            (1, base + dt.timedelta(days=4), 104),
            (1, base + dt.timedelta(days=8), 108),  # after every left row
            (2, base + dt.timedelta(days=3), 203),  # equal ts -> inclusive
        ],
        ["k", "rts", "rv"],
    )
    out = {
        r.eid: r.rv
        for r in asof_join(
            left, right, keys=["k"], left_ts="ts", right_ts="rts"
        ).collect()
    }
    assert out == {"e1": 104, "e2": 100, "e3": 203, "e4": None}

    # left_ts must come back exactly once (a duplicate made any downstream
    # reference to it ambiguous — round-4 fix, pinned here)
    cols = asof_join(
        left, right, keys=["k"], left_ts="ts", right_ts="rts"
    ).columns
    assert cols.count("ts") == 1

    # forward direction: earliest right row at-or-after each left ts
    fwd = {
        r.eid: r.rv
        for r in asof_join(
            left,
            right,
            keys=["k"],
            left_ts="ts",
            right_ts="rts",
            direction="forward",
        ).collect()
    }
    assert fwd == {"e1": 108, "e2": 104, "e3": 203, "e4": None}


def test_salted_join_equals_plain(spark):
    # 90% of fact rows share one key; dim has 20 keys (some unmatched).
    fact = spark.createDataFrame(
        [(1 if i % 10 else i % 20, float(i)) for i in range(2000)], ["k", "v"]
    )
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(20)], ["k", "name"])
    plain = sorted(
        (r.k, r.v, r.name) for r in fact.join(dim, "k", "inner").collect()
    )
    salted = sorted(
        (r.k, r.v, r.name)
        for r in skew.salted_join(fact, dim, keys=["k"], salt_buckets=8).collect()
    )
    assert plain == salted and len(plain) == 2000


def test_binned_range_join_equals_naive(spark):
    from anomaly_detection_in_time_series_data_spark.operators.joins import (
        binned_range_join,
    )

    points = spark.createDataFrame(
        [(i, float(i) * 0.7) for i in range(500)], ["pid", "x"]
    )
    intervals = spark.createDataFrame(
        [(j, float(j) * 2.0, float(j) * 2.0 + 3.5) for j in range(200)],
        ["iid", "lo", "hi"],
    )
    naive = sorted(
        (r.pid, r.iid)
        for r in points.join(
            intervals, (F.col("lo") <= F.col("x")) & (F.col("x") < F.col("hi"))
        ).collect()
    )
    binned = sorted(
        (r.pid, r.iid)
        for r in binned_range_join(
            points, intervals, point_col="x", lo_col="lo", hi_col="hi", bin_width=4.0
        ).collect()
    )
    assert naive == binned and len(naive) > 0


@pytest.mark.parametrize("grid", [1, 2, 3, 5])
def test_gemm_near_pairs_equals_expression_formulation(spark, grid):
    import random

    from anomaly_detection_in_time_series_data_spark.operators import similarity

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(40)]
    # Plant near-duplicates: rows 40..49 are tiny perturbations of 0..9.
    rows = [(i, v) for i, v in enumerate(base)] + [
        (40 + i, [x + 0.01 * rng.gauss(0, 1) for x in base[i]]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    a = df.select(F.col("vec_id").alias("ia"), F.col("embedding").cast("array<double>").alias("va"))
    b = df.select(F.col("vec_id").alias("ib"), F.col("embedding").cast("array<double>").alias("vb"))
    expr_pairs = sorted(
        (r.ia, r.ib)
        for r in a.join(b, F.col("ia") < F.col("ib"))
        .filter(similarity.cosine(F.col("va"), F.col("vb")) > 0.9)
        .collect()
    )
    gemm_pairs = sorted(
        (r.vec_id_a, r.vec_id_b)
        for r in similarity.cosine_near_pairs_gemm(df, threshold=0.9, grid=grid).collect()
    )
    assert expr_pairs == gemm_pairs
    assert len(gemm_pairs) >= 10  # every planted near-dup found
