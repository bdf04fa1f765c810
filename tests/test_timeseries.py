"""Unit tests for operators/timeseries.py and operators/linkage.py on
small hand-built frames with known answers (the oracle twins cover the
fixture tables; these pin the semantics on planted shapes)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from anomaly_detection_in_time_series_data_spark.operators import linkage, timeseries

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _events(spark, rows):
    return spark.createDataFrame(
        [
            Row(
                user_id=u,
                event_id=i,
                event_type=et,
                ts=T0 + dt.timedelta(seconds=s),
                value=float(v),
            )
            for i, (u, et, s, v) in enumerate(rows)
        ]
    )


def test_changepoint_scores_level_shift_highest(spark):
    # 8 values at 10.0, then 8 at 50.0: the boundary point sees the full
    # before/after contrast; a no-shift key scores ~0.
    shift = [("a", "x", i, 10.0 if i < 8 else 50.0) for i in range(16)]
    flat = [("b", "x", i, 20.0) for i in range(16)]
    out = timeseries.changepoint_mean_shift(
        _events(spark, shift + flat), half_window=4
    ).collect()
    by_key = {r["user_id"]: r for r in out}
    assert by_key["a"]["max_shift"] == 40.0  # full contrast at the boundary
    assert by_key["b"]["max_shift"] == 0.0
    # 16 rows, 4 on each side needed -> positions 4..11 scored
    assert by_key["a"]["n_scored"] == 8


def test_changepoint_requires_full_frames(spark):
    out = timeseries.changepoint_mean_shift(
        _events(spark, [("a", "x", i, 1.0) for i in range(5)]), half_window=4
    ).collect()
    assert out == []  # 5 rows can never have 4 full on both sides


def test_stl_residual_profile_constant_series_zero_residuals(spark):
    # A constant series has trend == value everywhere -> detrended == 0.
    rows = [("a", "x", 3600 * i, 7.5) for i in range(60)]
    out = timeseries.stl_residual_profile(
        _events(spark, rows), key_col="event_type", half_trend=2
    ).collect()
    assert out  # 60 rows, frame 5 -> 56 detrended rows across hours
    for r in out:
        assert r["seasonal_med"] == 0.0
        assert r["min_detrended"] == 0.0
        assert r["max_detrended"] == 0.0


def test_acf_lag1_signs(spark):
    # Alternating series -> strong negative lag-1 correlation; monotone
    # ramp -> strong positive.
    alt = [("a", "alt", i, 10.0 if i % 2 else -10.0) for i in range(40)]
    ramp = [("a", "ramp", i, float(i)) for i in range(40)]
    out = {
        r["event_type"]: r
        for r in timeseries.acf_lag1(_events(spark, alt + ramp)).collect()
    }
    assert out["alt"]["n_pairs"] == 39
    assert out["alt"]["acf1"] < -0.99
    assert out["ramp"]["acf1"] > 0.99


def test_acf_lag1_constant_series_null(spark):
    rows = [("a", "c", i, 5.0) for i in range(10)]
    (r,) = timeseries.acf_lag1(_events(spark, rows)).collect()
    assert r["acf1"] is None  # zero variance -> undefined, not NaN


def test_ohlc_daily_bars_known_candle(spark):
    rows = [("a", "x", 10, 5.0), ("a", "x", 20, 9.0), ("a", "x", 30, 1.0),
            ("a", "x", 40, 4.0)]
    (r,) = timeseries.ohlc_downsample(_events(spark, rows)).collect()
    assert (r["open"], r["high"], r["low"], r["close"], r["volume"]) == (
        5.0, 9.0, 1.0, 4.0, 4,
    )


def test_ohlc_bars_merge_exactly_to_coarser_grain(spark):
    # Mergeability: weekly candle from daily candles == weekly candle from
    # raw rows (first-of-firsts / last-of-lasts / max / min / sum).
    rows = [
        ("a", "x", 86400 * d + s, float(10 * d + v))
        for d in range(5)
        for s, v in [(10, 3), (50, 8), (90, 1)]
    ]
    daily = timeseries.ohlc_downsample(_events(spark, rows))
    weekly_from_daily = (
        daily.withColumn(
            "wk", F.date_trunc("week", F.timestamp_micros(F.col("day_us")))
        )
        .groupBy("event_type", "wk")
        .agg(
            F.min_by("open", "day_us").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "day_us").alias("close"),
            F.sum("volume").alias("volume"),
        )
        .collect()
    )[0]
    assert (weekly_from_daily["open"], weekly_from_daily["close"]) == (3.0, 41.0)
    assert (weekly_from_daily["high"], weekly_from_daily["low"]) == (48.0, 1.0)
    assert weekly_from_daily["volume"] == 15


def test_twap_weights_by_holding_duration(spark):
    # value 10 held 30s then value 20 held 10s (until last obs, weight 0)
    rows = [("a", "x", 0, 10.0), ("a", "x", 30, 20.0), ("a", "x", 40, 99.0)]
    (r,) = timeseries.time_weighted_avg(_events(spark, rows)).collect()
    assert r["twap"] == (10.0 * 30 + 20.0 * 10) / 40
    assert r["span_us"] == 40_000_000
    assert r["n_obs"] == 3


def test_twap_single_observation_day_is_null(spark):
    (r,) = timeseries.time_weighted_avg(
        _events(spark, [("a", "x", 0, 10.0)])
    ).collect()
    assert r["twap"] is None and r["span_us"] is None


def test_gaps_islands_segments_on_gap(spark):
    # Two islands: 3 events in minute 0, then a 2-hour gap, then 2 events.
    rows = [("a", "x", s, 1.0) for s in (0, 30, 60, 7260, 7290)]
    (r,) = timeseries.gaps_islands(_events(spark, rows), gap="1 hour").collect()
    assert r["n_islands"] == 2
    assert r["max_island_events"] == 3
    assert r["max_island_span_us"] == 60_000_000
    assert r["n_events"] == 5


def test_gaps_islands_exact_threshold_splits(spark):
    # A gap of exactly the threshold starts a new island (>= semantics).
    rows = [("a", "x", 0, 1.0), ("a", "x", 3600, 1.0)]
    (r,) = timeseries.gaps_islands(_events(spark, rows), gap="1 hour").collect()
    assert r["n_islands"] == 2


def test_edit1_pairs_matches_naive_quadratic(spark):
    names = [
        (1, 10, "alpha"), (1, 11, "alphb"),   # substitution
        (1, 12, "alpha7"), (1, 13, "lpha"),   # insertion / deletion vs alpha
        (1, 14, "zzzzz"),                      # no match
        (2, 20, "alpha"),                      # other block: never paired
        (2, 21, "beta"), (2, 22, "beta"),      # exact duplicates, d=0
    ]
    df = spark.createDataFrame(names, ["b", "k", "n"])
    got = {
        (r["k1"], r["k2"])
        for r in linkage.edit1_pairs(
            df, block_col="b", key_col="k", name_col="n"
        ).collect()
    }
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (k1, k2)
        for (b1, k1, n1), (b2, k2, n2) in itertools.combinations(names, 2)
        if b1 == b2 and k1 < k2 and lev(n1, n2) <= 1
    }
    assert got == want and (21, 22) in got and (10, 11) in got


def test_edit1_pairs_no_python_udf_in_plan(spark):
    df = spark.createDataFrame([(1, 1, "a"), (1, 2, "b")], ["b", "k", "n"])
    plan = linkage.edit1_pairs(
        df, block_col="b", key_col="k", name_col="n"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ols_trend_recovers_planted_line(spark):
    # y = 3 + 2x over days 0..9 -> slope 2.0/day, intercept 3.0 exactly.
    from anomaly_detection_in_time_series_data_spark.operators.timeseries import ols_trend

    rows = [("a", "x", 86400 * d, 3.0 + 2.0 * d) for d in range(10)]
    (r,) = ols_trend(_events(spark, rows), key_col="user_id").collect()
    assert r["slope_per_day"] == 2.0
    assert r["intercept"] == 3.0
    assert r["n_obs"] == 10


def test_ols_trend_degenerate_x_is_null(spark):
    from anomaly_detection_in_time_series_data_spark.operators.timeseries import ols_trend

    rows = [("a", "x", s, float(s)) for s in (0, 10, 20)]  # same day
    (r,) = ols_trend(_events(spark, rows), key_col="user_id").collect()
    assert r["slope_per_day"] is None and r["intercept"] is None


def test_winsorize_clamps_tails_only(spark):
    from anomaly_detection_in_time_series_data_spark.operators import robust

    vals = [float(i) for i in range(1, 100)] + [1000.0]  # one fat tail
    # a NULL key is one group: its rows keep their fences, not vanish
    df = spark.createDataFrame(
        [(k, v) for k in ("x", None) for v in vals], "k string, value double"
    )
    assert robust.winsorize(df, group_cols=["k"]).count() == 2 * len(vals)
    got = {
        r["k"]: r
        for r in robust.winsorized_summary(
            df, group_cols=["k"], lo_p=0.05, hi_p=0.95
        ).collect()
    }
    out = got["x"]
    assert out["n_clamped_high"] >= 1  # the 1000.0 outlier
    assert out["hi"] < 1000.0
    assert out["winsorized_mean"] < sum(vals) / len(vals)  # tail pulled in
    assert got[None].asDict() == {**out.asDict(), "k": None}


def test_seasonal_robust_flags_planted_spike(spark):
    from anomaly_detection_in_time_series_data_spark.operators import robust

    # 50 calm points in one (dow, hr) cell plus one huge spike -> exactly
    # one anomalous row in that cell; a constant cell (MAD=0) flags none.
    rows = [("a", "x", i, 10.0 + (i % 5) * 0.1) for i in range(50)]
    rows.append(("a", "x", 55, 500.0))
    rows += [("a", "x", 7200 + i, 3.0) for i in range(20)]  # constant cell
    out = {
        (r["dow"], r["hr"]): r
        for r in robust.seasonal_robust_flags(_events(spark, rows), k=5.0).collect()
    }
    # T0 is 2024-01-01 00:00 (Monday): dow=1 in the 0=Sunday convention
    assert out[(1, 0)]["n_anomalous"] == 1
    assert out[(1, 2)]["n_anomalous"] == 0  # constant cell, MAD=0 guard


def test_weekly_discords_finds_planted_shape(spark):
    """A strictly repeating sawtooth with ONE inverted-shape window: the
    discord must land on (or overlap) the planted position, even though
    the anomalous values stay inside the normal value range."""
    import datetime as dt

    from anomaly_detection_in_time_series_data_spark.operators import timeseries

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(336):  # two weeks hourly
        v = float(i % 8)  # period-8 sawtooth, range 0..7
        if 100 <= i < 108:
            v = float(7 - (i % 8))  # inverted ramp: same values, wrong shape
        rows.append(("a", t0 + dt.timedelta(hours=i), i, v))
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    out = timeseries.weekly_discords(
        df, key_col="event_type", ts_col="ts", value_col="value",
        tiebreak_col="event_id", m=8,
    ).collect()
    # week 1 contains the plant; its discord window must overlap [100, 108)
    week1 = [r for r in out if r["discord_pos"] >= 1 and r["discord_pos"] <= 168]
    assert week1, "no discord row for the planted week"
    plant = [r for r in week1 if 100 - 8 < (r["discord_pos"] - 1) < 108]
    assert plant, f"discord missed the planted shape: {week1}"
    # an un-planted week's profile must be (near) zero — perfect repeats
    week2 = [r for r in out if r["discord_pos"] > 168]
    assert week2 and all(r["profile_d2"] == 0.0 for r in week2)


def _pair_kernel_input(spark, case):
    """(frame, key column) for the chunked-vs-join bit-exact tests.
    ``string`` / ``bigint``: two keys over two+ weeks hourly, whose
    repeating values force d2 ties. ``cross_tile``: one key with 1,100
    rows at 9-minute spacing inside one ISO week — 1,093 subsequences,
    more than one 1024-wide column tile, with tied values. ``null_key``:
    keys ``'a'`` and NULL over 100 hourly rows each (one ISO week); the
    NULL key is one group on both implementations."""
    t0 = dt.datetime(2024, 1, 1)  # a Monday
    if case == "null_key":
        rows = [
            (k, t0 + dt.timedelta(hours=i), i, float((i * 37 % 113) / 7.0))
            for k in ("a", None)
            for i in range(100)
        ]
    elif case == "cross_tile":
        rows = [
            ("c", t0 + dt.timedelta(minutes=9 * i), i, ((i * 7919 % 1009) % 37) / 4.0)
            for i in range(1100)
        ]
    else:
        keys = ("a", "b") if case == "string" else (1, 2)
        rows = [
            (k, t0 + dt.timedelta(hours=i), i,
             float((i * 37 % 113) / 7.0) + (3.0 if k == keys[1] else 0.0))
            for k in keys
            for i in range(340)
        ]
    key_col, key_type = ("user_id", "bigint") if case == "bigint" else ("event_type", "string")
    df = spark.createDataFrame(
        rows, f"{key_col} {key_type}, ts timestamp, event_id long, value double"
    )
    return df, key_col


@pytest.mark.parametrize("case", ["string", "bigint", "cross_tile", "null_key"])
def test_weekly_discords_chunked_bitexact_vs_join(spark, case):
    """The chunked numpy kernel must reproduce the self-join formulation
    BIT-FOR-BIT (same left-to-right distance accumulation), on data with
    ties and multiple keys/weeks, for any key type, and across column
    tiles."""
    from anomaly_detection_in_time_series_data_spark.operators import timeseries

    df, key_col = _pair_kernel_input(spark, case)
    kw = dict(
        key_col=key_col, ts_col="ts", value_col="value",
        tiebreak_col="event_id", m=8,
    )
    fast = {
        (r[key_col], r["week_us"]): (r["discord_pos"], r["start_us"], r["profile_d2"])
        for r in timeseries.weekly_discords(df, impl="chunked", **kw).collect()
    }
    slow = {
        (r[key_col], r["week_us"]): (r["discord_pos"], r["start_us"], r["profile_d2"])
        for r in timeseries.weekly_discords(df, impl="join", **kw).collect()
    }
    assert fast == slow  # includes exact float equality on profile_d2
    if case == "null_key":
        assert {k for k, _ in fast} == {"a", None}


@pytest.mark.parametrize("case", ["string", "bigint", "cross_tile", "null_key"])
def test_weekly_motifs_chunked_bitexact_vs_join(spark, case):
    """The motif chunked kernel must reproduce the self-join + struct-MIN
    formulation BIT-FOR-BIT, including the (d2, pos_a, pos_b) lexicographic
    tiebreak, on data with exact ties and multiple keys/weeks, for any key
    type, and past the first column tile."""
    from anomaly_detection_in_time_series_data_spark.operators import timeseries

    df, key_col = _pair_kernel_input(spark, case)
    kw = dict(
        key_col=key_col, ts_col="ts", value_col="value",
        tiebreak_col="event_id", m=8,
    )
    fast = {
        (r[key_col], r["week_us"]): (r["pos_a"], r["pos_b"], r["motif_d2"])
        for r in timeseries.weekly_motifs(df, impl="chunked", **kw).collect()
    }
    slow = {
        (r[key_col], r["week_us"]): (r["pos_a"], r["pos_b"], r["motif_d2"])
        for r in timeseries.weekly_motifs(df, impl="join", **kw).collect()
    }
    assert fast and fast == slow  # exact float equality on motif_d2
    if case == "null_key":
        assert {k for k, _ in fast} == {"a", None}


def test_weekly_motifs_finds_planted_pair(spark):
    """Two copies of a distinctive spike shape planted in otherwise
    pseudo-random data: the motif must be exactly that pair."""
    import datetime as dt

    from anomaly_detection_in_time_series_data_spark.operators import timeseries

    t0 = dt.datetime(2024, 1, 1)
    shape = [9.0, 1.0, 8.0, 2.0, 7.0, 3.0, 6.0, 4.0]
    rows = []
    for i in range(168):  # one week hourly
        # modulus 173 > 168 rows: the filler never repeats inside the week
        v = float((i * 61 % 173) / 3.0) + 20.0  # and stays far from the plant
        rows.append(("a", t0 + dt.timedelta(hours=i), i, v))
    for start in (30, 90):  # plant the identical shape twice
        for j, s in enumerate(shape):
            i = start + j
            rows[i] = ("a", t0 + dt.timedelta(hours=i), i, s)
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    out = timeseries.weekly_motifs(
        df, key_col="event_type", ts_col="ts", value_col="value",
        tiebreak_col="event_id", m=8,
    ).collect()
    assert len(out) == 1
    r = out[0]
    # pos is 1-based row_number; planted starts are 0-based offsets 30/90
    assert (r["pos_a"], r["pos_b"]) == (31, 91)
    assert r["motif_d2"] == 0.0


def test_global_discords_gemm_matches_bruteforce(spark):
    """The GEMM scale path must find the identical discord position as an
    in-test numpy brute force (same z-normalization, same exclusion)."""
    import datetime as dt

    import numpy as np

    from anomaly_detection_in_time_series_data_spark.operators import timeseries

    rng = np.random.RandomState(5)
    t0 = dt.datetime(2024, 1, 1)
    m = 8
    series = {
        "a": np.tile([0, 1, 2, 3, 4, 3, 2, 1], 30).astype(float) + rng.rand(240) * 0.01,
        "b": rng.rand(200) * 4.0,
    }
    series["a"][100:108] = series["a"][100:108][::-1]  # planted inverted shape

    def brute(xs):
        n = len(xs) - m + 1
        Z = np.empty((n, m))
        for i in range(n):
            w = xs[i : i + m]
            Z[i] = (w - w.mean()) / (w.std() * np.sqrt(m))
        S = Z @ Z.T
        for i in range(n):
            lo, hi = max(0, i - m + 1), min(n, i + m)
            S[i, lo:hi] = -np.inf
        mx = S.max(axis=1)
        best = int(np.argmax(2.0 * m * (1.0 - mx)))
        return best + 1  # 1-based pos

    # the same series under a string key and under an integer key
    for key_col, key_type, names in (
        ("event_type", "string", ("a", "b")),
        ("user_id", "bigint", (1, 2)),
    ):
        rows = [
            (name, t0 + dt.timedelta(hours=i), i, float(v))
            for name, xs in zip(names, series.values())
            for i, v in enumerate(xs)
        ]
        df = spark.createDataFrame(
            rows, f"{key_col} {key_type}, ts timestamp, event_id long, value double"
        )
        got = {
            r[key_col]: (r["discord_pos"], r["profile_d2"])
            for r in timeseries.global_discords_gemm(
                df, key_col=key_col, m=m, grid=3, top_k=1
            ).collect()
        }
        for name, xs in zip(names, series.values()):
            assert got[name][0] == brute(xs), name
        # the planted inverted window must be the global discord for key a
        assert 100 - m < (got[names[0]][0] - 1) < 108
