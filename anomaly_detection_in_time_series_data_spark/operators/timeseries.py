"""Classical time-series analytics over irregular event streams.

Extends the reference's anomaly family (reference `Assignment 4.py` builds
rolling mean/std scores over a single series) with the standard
detection/profiling toolkit a time-series engine is expected to carry:
change-point scoring, seasonal-trend (STL-lite) decomposition,
autocorrelation, OHLC downsampling, time-weighted averages, and
gaps-and-islands segmentation — each expressed as declarative DataFrame
plans (window frames + grouped aggregates, no Python in the hot path).

The matrix-profile family (``weekly_discords``, ``weekly_motifs``,
``global_discords_gemm``) is the exception: its O(n^2) pair work runs as
numpy inside applyInPandas. All three take their length-``m``
subsequences from ``_subsequences``; the two weekly operators share the
tiled distance^2 kernel ``_d2_tiles`` and the per-(key, week) runner
``_per_week``, and supply only their trivial-match mask and reduction;
``global_discords_gemm`` supplies only a cell kernel to
``similarity._gemm_cells``, the one grid-cell GEMM skeleton it shares with
``similarity.cosine_near_pairs_gemm``.

Float-determinism discipline (matches the repo-wide oracle contract):
sums that cross a shuffle or a window frame go through DECIMAL (exact,
order-independent); per-group location statistics use the exact
interpolated median (`F.percentile` == DuckDB `quantile_cont`); the only
double arithmetic is per-row scalar math on already-exact inputs, which is
bit-identical across engines for an identical expression tree.

Scale notes are on each function; the common shape is one shuffle to
co-locate a key's timeline, then window/group work that is linear per
partition. Keys are (user_id | event_type | day) — at 100 TB the
cardinality of these keys (millions x days) keeps partitions bounded; a
single global series would instead use the chunked formulations in
`anomaly.py` (time-sliced with context overlap).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .similarity import _gemm_cells

_DEC = "decimal(18,6)"


def changepoint_mean_shift(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
    half_window: int = 8,
) -> DataFrame:
    """CUSUM-style two-sided mean-shift score, reduced per key.

    For every point with ``half_window`` full rows on each side, the score
    is |mean(next w) - mean(prev w)|: a level shift in the series produces
    a local maximum at the change point, while i.i.d. noise concentrates
    near zero. This is the classic sliding two-sample statistic behind
    CUSUM/Pettitt-style detectors, evaluated in one window pass.

    Both frame sums are DECIMAL (exact regardless of DuckDB's segment-tree
    vs Spark's sliding-buffer evaluation order); the single division to a
    mean happens once, in double, on exact inputs.

    Scale: one hash shuffle on ``key_col``; each partition does two O(w)
    sliding frames per row. No state beyond the 2w-row frame; AQE-safe.
    """
    w_order = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    before = w_order.rowsBetween(-half_window, -1)
    after = w_order.rowsBetween(1, half_window)
    v = F.col(value_col).cast(_DEC)
    scored = (
        df.select(key_col, ts_col, tiebreak_col, value_col)
        .withColumn("_sb", F.sum(v).over(before))
        .withColumn("_nb", F.count(value_col).over(before))
        .withColumn("_sa", F.sum(v).over(after))
        .withColumn("_na", F.count(value_col).over(after))
        .filter(
            (F.col("_nb") == half_window) & (F.col("_na") == half_window)
        )
        .withColumn(
            "shift",
            F.abs((F.col("_sa") - F.col("_sb")).cast("double"))
            / F.lit(float(half_window)),
        )
    )
    return scored.groupBy(key_col).agg(
        F.count("*").cast("bigint").alias("n_scored"),
        F.max("shift").alias("max_shift"),
    )


def stl_residual_profile(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
    half_trend: int = 12,
) -> DataFrame:
    """STL-lite seasonal profile of the detrended series.

    Decomposition in two declarative passes:

    1. trend_t = centered moving average over ``2*half_trend + 1`` rows of
       the per-key timeline (rows with a full frame only — edge rows have
       no defined trend, exactly as in classical STL's inner loop);
       detrended_t = value_t - trend_t.
    2. the seasonal component per (key, hour-of-day) cell as the exact
       median of the detrended values, with min/max/count completing the
       residual profile. Median (not mean) is both the robust choice and
       the order-independent one.

    Scale: pass 1 is one shuffle + an O(w) sliding frame; pass 2 is a
    map-side-combining hash aggregate on at most |keys| x 24 cells.
    """
    n_frame = 2 * half_trend + 1
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col).rowsBetween(
        -half_trend, half_trend
    )
    v = F.col(value_col).cast(_DEC)
    detrended = (
        df.select(key_col, ts_col, tiebreak_col, value_col)
        .withColumn("_s", F.sum(v).over(w))
        .withColumn("_n", F.count(value_col).over(w))
        .filter(F.col("_n") == n_frame)
        .withColumn(
            "detrended",
            F.col(value_col)
            - F.col("_s").cast("double") / F.lit(float(n_frame)),
        )
    )
    return detrended.groupBy(
        F.col(key_col),
        F.hour(ts_col).cast("bigint").alias("hr"),
    ).agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.percentile("detrended", 0.5).alias("seasonal_med"),
        F.min("detrended").alias("min_detrended"),
        F.max("detrended").alias("max_detrended"),
    )


def acf_lag1(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
    dec: str = "decimal(10,2)",
) -> DataFrame:
    """Per-key lag-1 autocorrelation via exact decimal moment sums.

    Pearson correlation of (x_t, x_{t-1}) pairs from the per-key timeline.
    The five moment sums (Sx, Sy, Sxy, Sxx, Syy) accumulate in DECIMAL —
    products of two decimal casts are exact, and decimal addition is
    associative, so the grouped sums are order-independent. The closed-form
    correlation is then one per-group double expression on exact inputs.

    ``dec`` bounds the whole pipeline's exactness: with scale s and
    per-key moment sums under 2^53/10^(2s) the final decimal->double casts
    are correctly-rounded-exact in every engine (the fixtures quantize
    value to 2 decimals, so (10,2) loses nothing and keeps the scale-4
    product sums in exact-double range up to ~10^9 rows per key).

    (A direct ``F.corr`` would shuffle the same data but accumulate double
    partials whose value depends on partitioning — unusable under an exact
    cross-engine hash compare, and equally non-reproducible between two
    runs of a 1000-executor job.)
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    x = F.col(value_col).cast(dec)
    pairs = (
        df.select(key_col, ts_col, tiebreak_col, value_col)
        .withColumn("_prev", F.lag(value_col).over(w))
        .filter(F.col("_prev").isNotNull())
    )
    y = F.col("_prev").cast(dec)
    sums = pairs.groupBy(key_col).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    return sums.select(
        key_col,
        F.col("n").alias("n_pairs"),
        F.when(
            (varx > 0) & (vary > 0), cov / F.sqrt(varx * vary)
        ).alias("acf1"),
    )


def ohlc_downsample(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """OHLC (open/high/low/close) candlestick downsampling per key per day.

    Open/close are the first/last values in (ts, tiebreak) order — selected
    with ``row_number`` from both ends and folded into the grouped pass as
    conditional MAXes, so one window pass + one hash aggregate produces the
    whole candle. High/low/volume are plain order-independent aggregates.

    Scale: the window and the groupBy share the (key, day) partitioning —
    Catalyst reuses the exchange, so the candle costs one shuffle total.
    The downsampled output (|keys| x |days| rows) is the input to the
    next rollup level; candles re-merge exactly (first-of-firsts /
    last-of-lasts / max / min / sum), making this a mergeable summary.
    """
    day = F.date_trunc("day", F.col(ts_col))
    base = df.select(
        F.col(key_col),
        day.alias("_day"),
        F.col(ts_col),
        F.col(tiebreak_col),
        F.col(value_col),
    )
    w_asc = Window.partitionBy(key_col, "_day").orderBy(ts_col, tiebreak_col)
    w_desc = Window.partitionBy(key_col, "_day").orderBy(
        F.col(ts_col).desc(), F.col(tiebreak_col).desc()
    )
    ranked = base.withColumn("_rn", F.row_number().over(w_asc)).withColumn(
        "_rn_last", F.row_number().over(w_desc)
    )
    return ranked.groupBy(
        F.col(key_col), F.unix_micros(F.col("_day")).alias("day_us")
    ).agg(
        F.max(F.when(F.col("_rn") == 1, F.col(value_col))).alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.max(F.when(F.col("_rn_last") == 1, F.col(value_col))).alias("close"),
        F.count("*").cast("bigint").alias("volume"),
    )


def time_weighted_avg(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Daily time-weighted average (TWAP) of an irregularly-sampled series.

    Each observation holds until the next one in the same (key, day); its
    weight is that holding duration quantized to whole seconds (floor-div
    of the exact microsecond delta — identical integer arithmetic in every
    engine). The last observation of a day carries zero weight (no defined
    holding interval), mirroring the standard TWAP-over-bars definition.
    value x duration products are decimal-exact before the grouped sum and
    small enough that the final decimal->double casts are correctly-
    rounded-exact; days with a single observation (or only sub-second
    holds) yield NULL. ``span_us`` stays at full microsecond precision.

    Scale: one shuffle on (key, day); lead() and the aggregate share the
    partitioning. Duration arithmetic stays integral end-to-end.
    """
    day = F.date_trunc("day", F.col(ts_col))
    w = Window.partitionBy(key_col, "_day").orderBy(ts_col, tiebreak_col)
    base = (
        df.select(
            F.col(key_col),
            day.alias("_day"),
            F.col(ts_col),
            F.col(tiebreak_col),
            F.col(value_col),
        )
        .withColumn("_us", F.unix_micros(F.col(ts_col)))
        .withColumn("_next_us", F.lead("_us").over(w))
        .withColumn("_dur_us", F.col("_next_us") - F.col("_us"))
        .withColumn("_dur_s", F.expr("_dur_us div 1000000"))
    )
    # _dur_s fits 6 digits (< 1 day); a decimal(6,0) cast keeps the
    # product at a small exact precision. A raw long operand would infer
    # decimal(20,0), push the product past precision 38, and make Spark
    # shave the scale (a real 1e-14 divergence vs any exact oracle).
    weighted = F.col(value_col).cast("decimal(10,2)") * F.col("_dur_s").cast(
        "decimal(6,0)"
    )
    return base.groupBy(
        F.col(key_col), F.unix_micros(F.col("_day")).alias("day_us")
    ).agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.sum("_dur_us").cast("bigint").alias("span_us"),
        F.when(
            F.sum("_dur_s") > 0,
            F.sum(weighted).cast("double") / F.sum("_dur_s").cast("double"),
        ).alias("twap"),
    )


def gaps_islands(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    gap: str = "1 hour",
) -> DataFrame:
    """Gaps-and-islands segmentation, reduced to a per-key activity report.

    An island is a maximal run of consecutive events whose inter-arrival
    gap stays under ``gap``. Classic formulation: flag rows that open a new
    island (first row, or gap >= threshold), take the running sum of flags
    as the island id, then aggregate islands and reduce per key. All
    arithmetic is integral (counts, microsecond spans) — exact under any
    partitioning.

    This is the batch twin of ``session_window`` sessionization, but it
    exposes the island *structure* (per-island extents) rather than only
    window bounds, which is what gap-detection / uptime reports need.

    Scale: one shuffle on ``key_col``; two window passes over the same
    partitioning (flag + running sum), then two hash aggregates that both
    map-side combine.
    """
    gap_us = F.lit(_interval_to_us(gap))
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    run = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = (
        df.select(key_col, ts_col, tiebreak_col)
        .withColumn("_us", F.unix_micros(F.col(ts_col)))
        .withColumn("_prev_us", F.lag("_us").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev_us").isNull()
                | ((F.col("_us") - F.col("_prev_us")) >= gap_us),
                1,
            ).otherwise(0),
        )
        .withColumn("_island", F.sum("_new").over(run))
    )
    islands = flagged.groupBy(key_col, "_island").agg(
        F.count("*").cast("bigint").alias("_n"),
        (F.max("_us") - F.min("_us")).alias("_span_us"),
    )
    return islands.groupBy(key_col).agg(
        F.count("*").cast("bigint").alias("n_islands"),
        F.max("_n").alias("max_island_events"),
        F.max("_span_us").cast("bigint").alias("max_island_span_us"),
        F.sum("_n").cast("bigint").alias("n_events"),
    )


def ols_trend(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key linear trend (OLS slope + intercept) of value over time.

    x is integer days since the key's first event (window min over the
    same partitioning the sums use — one shuffle total), y is the
    decimal-cast value. The five moment sums are exact: x and x*x are
    plain BIGINTs, Sy and Sxy are decimal sums with small operand widths
    (x fits decimal(6,0) for ~2,700 years of daily offsets), so the
    closed-form slope/intercept is per-key double math on exact inputs —
    reproducible under any partitioning, same discipline as ``acf_lag1``.

    slope is per *day*; keys with a degenerate x spread (all events the
    same day) yield NULLs.
    """
    w = Window.partitionBy(key_col)
    base = (
        df.select(key_col, ts_col, value_col)
        .withColumn("_us", F.unix_micros(F.col(ts_col)))
        .withColumn("_first_us", F.min("_us").over(w))
        .withColumn("_x", F.expr("(_us - _first_us) div 86400000000"))
    )
    y = F.col(value_col).cast("decimal(10,2)")
    xd = F.col("_x").cast("decimal(6,0)")
    sums = base.groupBy(key_col).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("_x").cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(xd * y).cast("double").alias("sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("double").alias("sxx"),
    )
    n = F.col("n").cast("double")
    denom = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    return sums.select(
        key_col,
        F.col("n").alias("n_obs"),
        F.when(denom > 0, slope).alias("slope_per_day"),
        F.when(
            denom > 0, (F.col("sy") - slope * F.col("sx")) / n
        ).alias("intercept"),
    )


def _interval_to_us(gap: str) -> int:
    """Parse the tiny interval grammar used here ('N unit') to microseconds."""
    n, unit = gap.split()
    scale = {
        "second": 1_000_000,
        "seconds": 1_000_000,
        "minute": 60_000_000,
        "minutes": 60_000_000,
        "hour": 3_600_000_000,
        "hours": 3_600_000_000,
        "day": 86_400_000_000,
        "days": 86_400_000_000,
    }[unit]
    return int(n) * scale


def _subsequences(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    m: int,
) -> DataFrame:
    """Every length-``m`` subsequence of each key's value series in
    (``ts_col``, ``tiebreak_col``) order: ``key_col, pos, start_ts, arr``,
    with ``pos`` the 1-based row_number of its first row and ``arr`` its
    ``m`` values. Both come from one window (one shuffle to co-locate a
    key's timeline, one sort); the frame builds the arrays in frame order.
    """
    kw = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    return (
        df.select(key_col, ts_col, value_col, tiebreak_col)
        .withColumn("pos", F.row_number().over(kw))
        .withColumn(
            "arr",
            F.collect_list(value_col).over(kw.rowsBetween(0, m - 1)),
        )
        .filter(F.size("arr") == m)
        .select(key_col, "pos", F.col(ts_col).alias("start_ts"), "arr")
    )


def _d2_tiles(vals, pos, exclusion: int, directed: bool):
    """Yield ``(li, hi, lj, hj, tile)`` over the distance^2 matrix of the
    rows of ``vals`` (n x m float64, rows in ascending ``pos``):
    ``tile[i, j]`` is the distance^2 between rows ``li + i`` and
    ``lj + j``, set to +inf for a trivial match, ``|pos_j - pos_i| <
    exclusion`` (``directed``: ``pos_j - pos_i < exclusion``, so only
    pairs with pos_j >= pos_i + exclusion remain, and tiles without such a
    pair are skipped). ``tile`` is a reused buffer: reduce it before
    asking for the next one.

    Each pair's distance accumulates over the m lag positions in the SAME
    left-to-right order as the SQL/Column expression chain
    ``((t1^2 + t2^2) + t3^2) ...`` (numpy float64 IEEE ops, sequential
    loop over m, vectorized over pairs), so every value is bit-identical
    to the ``impl="join"`` twins.
    """
    n, m = vals.shape
    # cache-tiled in-place accumulation: full-width chunk rows are
    # DRAM-bandwidth-bound (every one of the m passes re-streams a
    # rows x n buffer; measured 2.4s/group at n=4700), while a
    # 128x1024 tile keeps the working set in cache across the m
    # passes (0.48s/group). Neither tiling nor in-place ops change
    # the per-pair k=0..m-1 accumulation order, so bit-parity with
    # the SQL chain is untouched.
    ti, tj = 128, 1024
    cols = [np.ascontiguousarray(vals[:, k]) for k in range(m)]
    t_buf = np.empty((ti, tj))
    acc = np.empty((ti, tj))
    for li in range(0, n, ti):
        hi = min(li + ti, n)
        for lj in range(0, n, tj):
            hj = min(lj + tj, n)
            # directed: skip tiles whose widest pair is still inside the zone
            if directed and pos[hj - 1] - pos[li] < exclusion:
                continue
            tb, ac = t_buf[: hi - li, : hj - lj], acc[: hi - li, : hj - lj]
            for k in range(m):  # fixed-order accumulation == SQL chain
                np.subtract(cols[k][li:hi, None], cols[k][None, lj:hj], out=tb)
                np.multiply(tb, tb, out=tb)
                if k == 0:
                    ac[:] = tb
                else:
                    ac += tb
            gap = pos[None, lj:hj] - pos[li:hi, None]
            ac[(gap if directed else np.abs(gap)) < exclusion] = np.inf
            yield li, hi, lj, hj, ac


def _per_week(
    sub: DataFrame, key_col: str, fields: "dict[str, T.DataType]", best
) -> DataFrame:
    """Run ``best(pdf, vals, pos)`` once per (key, week) group of ``sub``
    (``key_col, week, pos, arr`` and any other columns): ``pdf`` is the
    group sorted by ``pos``, ``vals`` its ``arr`` as an n x m float64
    matrix and ``pos`` its positions. ``best`` returns the values of
    ``fields`` or None; the output is ``key_col, week_us, *fields``, one
    row per group it did not return None for, with ``key_col`` of the
    input's type. Shuffle volume: one row per subsequence in, ONE ROW PER
    GROUP out.
    """
    schema = T.StructType(
        [
            T.StructField(key_col, sub.schema[key_col].dataType),
            T.StructField("week_us", T.LongType()),
        ]
        + [T.StructField(name, dtype) for name, dtype in fields.items()]
    )

    def one_group(pdf):
        pdf = pdf.sort_values("pos").reset_index(drop=True)
        vals = np.asarray([np.asarray(a, dtype=np.float64) for a in pdf["arr"]])
        row = best(pdf, vals, pdf["pos"].to_numpy())
        if row is None:
            return pd.DataFrame(columns=schema.fieldNames())
        week_us = int(pdf["week"].iloc[0].value // 1000)
        return pd.DataFrame(
            [(pdf[key_col].iloc[0], week_us, *row)], columns=schema.fieldNames()
        )

    # The group data is tiny (~10 MB at sf0.1) but the per-group KERNEL is
    # CPU-heavy, so AQE's size-based shuffle coalescing would fold every
    # group into one task and serialize the kernels (measured 8.2s -> 2.3s
    # restoring #groups-way parallelism). An explicit numbered repartition
    # on the group keys is AQE-stable and satisfies applyInPandas's
    # required distribution, so no second exchange is added.
    parts = sub.sparkSession.sparkContext.defaultParallelism
    return (
        sub.repartition(parts, key_col, "week")
        .groupBy(key_col, "week")
        .applyInPandas(one_group, schema=schema)
    )


def _pair_d2(sub: DataFrame, key_col: str, m: int) -> "tuple[DataFrame, Column]":
    """The self-join of ``sub`` on (key, week), its sides aliased ``a`` and
    ``b`` (``key_col`` and ``week`` name side ``a``'s), and the pair's
    distance^2 as an EXPLICIT left-associated ``(a1-b1)^2 + ... +
    (am-bm)^2`` chain — no reduction whose order the engine may choose —
    so the values are bit-identical to the SQL oracle's textually
    parallel expression.  The key matches null-safely (``<=>``, still an
    equi-join key to the planner), so a NULL key is one group, as in the
    chunked kernels."""
    d2 = None
    for i in range(m):
        t = F.col("a.arr").getItem(i) - F.col("b.arr").getItem(i)
        d2 = t * t if d2 is None else d2 + t * t
    a, b = F.col(f"a.{key_col}"), F.col(f"b.{key_col}")
    on = a.eqNullSafe(b) & (F.col("a.week") == F.col("b.week"))
    joined = sub.alias("a").join(sub.alias("b"), on)
    return joined.drop(b, F.col("b.week")), d2


def weekly_discords(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    m: int = 8,
    exclusion: int | None = None,
    impl: str = "chunked",
) -> DataFrame:
    """Matrix-profile-style discord discovery, windowed by ISO week.

    For every length-``m`` subsequence of a key's value series, the
    *profile* value is the minimum Euclidean distance^2 to any OTHER
    subsequence starting in the same (key, week), excluding trivial
    matches (|pos_i - pos_j| < ``exclusion``, default m). The subsequence
    whose profile value is LARGEST is the week's discord — the classic
    "most unusual shape" primitive (Keogh's matrix profile, UCR;
    public literature), which catches pattern anomalies that pointwise
    z-scores miss entirely (e.g. a plausible value arriving in an
    impossible shape).

    Execution shape: one shuffle to co-locate each key's timeline
    (window frame builds the subsequence arrays in frame order), then the
    O(n^2) pair work confined to within-group n (#rows per key-week),
    with groups parallelizing #keys x #weeks. The default
    (``impl="chunked"``) does the pair work as cache-tiled numpy
    arithmetic in one applyInPandas call per group (``_d2_tiles``); the
    self-join formulation shuffled O(n_group^2) PAIR ROWS (~200M rows at
    sf0.1, measured 54s) and stays as ``impl="join"``, the bit-equality
    twin. For global (unwindowed) discords at 100 TB, the z-normalized
    variant maps onto the blocked GEMM in `similarity.all_pairs_cosine`
    (z-normed subsequences are unit vectors: max cosine == min distance).

    Float determinism: the distance is an EXPLICIT left-associated
    ``(a1-b1)^2 + ... + (am-bm)^2`` chain — no reduction whose order the
    engine may choose — so profile values are bit-identical to the SQL
    oracle's textually parallel expression.

    Returns one row per (key, week): the discord subsequence's start
    position, start timestamp, and profile value.
    """
    if exclusion is None:
        exclusion = m
    sub = (
        _subsequences(
            df, key_col=key_col, ts_col=ts_col, value_col=value_col,
            tiebreak_col=tiebreak_col, m=m,
        )
        .withColumn("week", F.date_trunc("week", "start_ts"))
        .select(key_col, "week", "pos", "start_ts", "arr")
    )
    if impl == "chunked":

        def discord(pdf, vals, pos):
            profile = np.full(len(pos), np.inf)
            for li, hi, _, _, tile in _d2_tiles(vals, pos, exclusion, directed=False):
                # tile mins merge via exact np.minimum (order-free)
                np.minimum(profile[li:hi], tile.min(axis=1), out=profile[li:hi])
            ok = np.isfinite(profile)
            if not ok.any():
                return None
            # argmax by (profile desc, pos asc) — exact float compare, like rn=1
            best = max(
                (i for i in range(len(pos)) if ok[i]),
                key=lambda i: (profile[i], -pos[i]),
            )
            start_us = int(pdf["start_ts"].iloc[best].value // 1000)
            return int(pos[best]), start_us, float(profile[best])

        fields = {
            "discord_pos": T.LongType(),
            "start_us": T.LongType(),
            "profile_d2": T.DoubleType(),
        }
        return _per_week(sub, key_col, fields, discord)
    joined, d2 = _pair_d2(sub, key_col, m)
    scored = (
        joined.filter(F.abs(F.col("a.pos") - F.col("b.pos")) >= exclusion)
        .groupBy(
            key_col,
            "week",
            F.col("a.pos").alias("pos"),
            F.col("a.start_ts").alias("start_ts"),
        )
        .agg(F.min(d2).alias("profile_d2"))
    )
    dw = Window.partitionBy(key_col, "week").orderBy(
        F.col("profile_d2").desc(), F.col("pos")
    )
    return (
        scored.withColumn("rn", F.row_number().over(dw))
        .filter(F.col("rn") == 1)
        .select(
            key_col,
            F.unix_micros("week").alias("week_us"),
            F.col("pos").cast("bigint").alias("discord_pos"),
            F.unix_micros("start_ts").alias("start_us"),
            "profile_d2",
        )
    )


def weekly_motifs(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    m: int = 8,
    exclusion: int | None = None,
    impl: str = "chunked",
) -> DataFrame:
    """Matrix-profile MOTIF discovery — the dual of ``weekly_discords``:
    per (key, ISO week), the length-``m`` subsequence PAIR with the
    SMALLEST Euclidean distance^2 (trivial matches |pos_a - pos_b| <
    exclusion excluded, pair canonicalized as pos_a < pos_b) — the most
    repeated shape, the primitive behind template mining and repeated-
    failure-signature detection. Same execution and float-determinism
    shape as the discord: one timeline shuffle, then either the chunked
    numpy kernel (default — pair work as arithmetic, one row per group
    out; the self-join took 104s at sf0.1 before it) or the self-join
    with a lexicographic struct-MIN aggregate (``impl='join'``, the
    unit-twin for equivalence tests)."""
    if exclusion is None:
        exclusion = m
    sub = (
        _subsequences(
            df, key_col=key_col, ts_col=ts_col, value_col=value_col,
            tiebreak_col=tiebreak_col, m=m,
        )
        .withColumn("week", F.date_trunc("week", "start_ts"))
        .select(key_col, "week", "pos", "arr")
    )
    if impl == "chunked":

        def motif(pdf, vals, pos):
            best = None  # (d2, pos_a, pos_b), lexicographic, exact compares
            for li, _, lj, _, tile in _d2_tiles(vals, pos, exclusion, directed=True):
                mval = tile.min()
                if not np.isfinite(mval):
                    continue
                if best is None or mval <= best[0]:
                    ii, jj = np.argwhere(tile == mval)[0]  # rows/cols pos-ascending
                    cand = (float(mval), int(pos[li + ii]), int(pos[lj + jj]))
                    if best is None or cand < best:
                        best = cand
            return None if best is None else (best[1], best[2], best[0])

        fields = {
            "pos_a": T.LongType(),
            "pos_b": T.LongType(),
            "motif_d2": T.DoubleType(),
        }
        return _per_week(sub, key_col, fields, motif)
    joined, d2 = _pair_d2(sub, key_col, m)
    pairs = joined.filter(F.col("b.pos") - F.col("a.pos") >= exclusion).select(
        key_col,
        "week",
        F.col("a.pos").alias("pos_a"),
        F.col("b.pos").alias("pos_b"),
        d2.alias("motif_d2"),
    )
    # Lexicographic struct-min: ONE hash aggregate (map-side combined)
    # instead of a row_number window, which would SORT every within-group
    # pair (O(n^2) rows per group) just to keep the first.
    best = pairs.groupBy(key_col, "week").agg(
        F.min(F.struct("motif_d2", "pos_a", "pos_b")).alias("best")
    )
    return best.select(
        key_col,
        F.unix_micros("week").alias("week_us"),
        F.col("best.pos_a").cast("bigint").alias("pos_a"),
        F.col("best.pos_b").cast("bigint").alias("pos_b"),
        F.col("best.motif_d2").alias("motif_d2"),
    )


def global_discords_gemm(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    m: int = 8,
    exclusion: int | None = None,
    grid: int | None = None,
    top_k: int = 1,
) -> DataFrame:
    """GLOBAL (unwindowed) matrix-profile discords — the 100 TB path that
    `weekly_discords` documents: z-normalized subsequences are unit
    vectors, so min z-norm distance == max cosine, and the all-pairs work
    runs on `similarity._gemm_cells` (shuffle N*grid*(m+…) doubles,
    per-cell memory (N/grid)*m*2, BLAS inside each cell, no driver
    collect), in cells per key and blocked on ``pos``.

    Per cell, each subsequence on either side keeps its max cosine against
    the other side (excluding trivial matches |pos_i - pos_j| <
    ``exclusion``); a final groupBy-max merges cells. Constant windows
    (zero variance) have no defined z-shape and are dropped, as in the
    standard matrix-profile treatment. Returns the ``top_k`` discords per
    key, NULL included: highest profile distance^2 (= 2*m*(1 - max_cos))
    with position tiebreak.
    """
    if exclusion is None:
        exclusion = m

    sub = _subsequences(
        df, key_col=key_col, ts_col=ts_col, value_col=value_col,
        tiebreak_col=tiebreak_col, m=m,
    )
    # z-normalization (mean/var/divide) happens entirely inside the GEMM
    # kernel: numpy does it vectorized for ~free, while the JVM
    # higher-order-function formulation (aggregate/transform lambdas over
    # the 8-wide array) ran interpreted on only n_keys window tasks and
    # cost ~1.4s/scan at sf0.1. The constant-window filter (var ~ 0, no
    # defined z-shape) moves with it. The sub frame feeds two scans (cell
    # replication + final meta join) and its per-key window derivation
    # runs on n_keys tasks — materialize once instead of per scan. At
    # 100 TB this is the staged subsequence table.
    z = sub.localCheckpoint(eager=False)

    out_schema = T.StructType(
        [
            T.StructField("key", sub.schema[key_col].dataType),
            T.StructField("pos", T.LongType()),
            T.StructField("cell_max_cos", T.DoubleType()),
        ]
    )
    EXCLUSION = exclusion  # closure constants
    M_LEN = float(m)

    def znorm(side: pd.DataFrame):
        M = np.array(list(side["arr"].to_numpy()), dtype=np.float64)
        mu = M.mean(axis=1)
        var = ((M - mu[:, None]) ** 2).mean(axis=1)
        ok = var > 1e-18  # constant windows: no z-shape
        M, mu, var = M[ok], mu[ok], var[ok]
        Z = (M - mu[:, None]) / np.sqrt(var * M_LEN)[:, None]
        return Z, side["pos"].to_numpy()[ok]

    def cell_max(key: tuple, a: pd.DataFrame, b: pd.DataFrame, diagonal: bool):
        A, posa = znorm(a)
        B, posb = (A, posa) if diagonal else znorm(b)
        if not len(A) or not len(B):
            return pd.DataFrame()
        # Row-chunked GEMM: the full |A|x|B| score matrix is O((n_k/grid)^2)
        # doubles per cell — compute in 512-row slabs, keeping the per-row
        # running max and (off-diagonal) the per-column running max, so the
        # transposed cell never materializes. The whole cell shares one
        # key, so the trivial-match mask is a single int-vectorized
        # |pos_i - pos_j| compare (no string/object comparisons — those
        # measured 40s vs 2s at sf0.1).
        mxa = np.empty(len(A))
        mxb = np.full(len(B), -np.inf)
        step = 512
        for lo in range(0, len(A), step):
            hi = min(lo + step, len(A))
            S = A[lo:hi] @ B.T  # cosine: rows are unit vectors
            near = np.abs(posa[lo:hi, None] - posb[None, :]) < EXCLUSION
            S[near] = -np.inf
            mxa[lo:hi] = S.max(axis=1)
            if not diagonal:
                np.maximum(mxb, S.max(axis=0), out=mxb)
        if diagonal:
            out_pos, out_mx = posa, mxa
        else:
            out_pos = np.concatenate([posa, posb])
            out_mx = np.concatenate([mxa, mxb])
        keep = out_mx > -np.inf
        return pd.DataFrame(
            {"key": np.full(keep.sum(), key[0], dtype=object),
             "pos": out_pos[keep], "cell_max_cos": out_mx[keep]}
        )

    per_cell = _gemm_cells(
        z.select(key_col, "pos", "arr"), key_cols=[key_col], block_col="pos",
        grid=grid, cell=cell_max, schema=out_schema,
    )
    merged = per_cell.groupBy("key", "pos").agg(
        F.max("cell_max_cos").alias("max_cos")
    )
    meta = z.select(F.col(key_col).alias("_mk"), F.col("pos").alias("_mp"), "start_ts")
    scored = merged.join(  # null-safe key, still an equi-join
        meta, F.col("key").eqNullSafe(F.col("_mk")) & (F.col("pos") == F.col("_mp"))
    ).withColumn(
        "profile_d2", 2.0 * float(m) * (F.lit(1.0) - F.col("max_cos"))
    )
    dw = Window.partitionBy("key").orderBy(F.col("profile_d2").desc(), F.col("pos"))
    return (
        scored.withColumn("_rn", F.row_number().over(dw))
        .filter(F.col("_rn") <= top_k)
        .select(
            F.col("key").alias(key_col),
            F.col("pos").cast("bigint").alias("discord_pos"),
            F.unix_micros("start_ts").alias("start_us"),
            "profile_d2",
        )
    )
