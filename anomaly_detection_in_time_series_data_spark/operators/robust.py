"""Robust statistics operators: winsorization and cell-wise robust
(median/MAD) anomaly flagging.

Complements `operators/anomaly.py`'s scorers (z-score, EWMA, CUSUM,
global MAD) with the two standard robust preprocessing/detection moves a
feature pipeline needs before model training: clamp heavy tails
(winsorize) and flag values against a *seasonal-cell* robust baseline
rather than a global one.

Shared shape: exact interpolated quantiles per group (`F.percentile` —
order-independent), broadcast the tiny per-group statistics back onto the
stream, then per-row scalar math. Two grouped passes + one broadcast
join; nothing wider than the group key crosses a shuffle twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .joins import broadcast_null_safe_join


def winsorize(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str = "value",
    lo_p: float = 0.01,
    hi_p: float = 0.99,
) -> DataFrame:
    """Clamp ``value_col`` to its per-group [lo_p, hi_p] quantile fences.

    Returns the input rows plus ``lo`` / ``hi`` / ``winsorized`` columns.
    The fences are exact interpolated quantiles; at 100 TB the fence frame
    is |groups| rows — always broadcastable.  A NULL key is one group, as
    in ``groupBy``: the fences join back null-safe.
    """
    fences = df.groupBy(*group_cols).agg(
        F.percentile(value_col, lo_p).alias("lo"),
        F.percentile(value_col, hi_p).alias("hi"),
    )
    return broadcast_null_safe_join(df, fences, group_cols).withColumn(
        "winsorized",
        F.when(F.col(value_col) < F.col("lo"), F.col("lo"))
        .when(F.col(value_col) > F.col("hi"), F.col("hi"))
        .otherwise(F.col(value_col)),
    )


def winsorized_summary(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str = "value",
    lo_p: float = 0.01,
    hi_p: float = 0.99,
    dec: str = "decimal(18,6)",
) -> DataFrame:
    """Per-group winsorized mean + clamp-rate report.

    The winsorized mean sums in DECIMAL (order-independent; ``dec`` keeps
    unscaled sums in exact-double-cast range for the fixture value domain
    — see SCALING.md's 2^53 rule), clamp counts are exact integers.
    """
    w = winsorize(
        df, group_cols=group_cols, value_col=value_col, lo_p=lo_p, hi_p=hi_p
    )
    return w.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("lo").alias("lo"),
        F.min("hi").alias("hi"),
        (
            F.sum(F.col("winsorized").cast(dec)).cast("double")
            / F.count("*").cast("double")
        ).alias("winsorized_mean"),
        F.sum((F.col(value_col) < F.col("lo")).cast("int"))
        .cast("bigint")
        .alias("n_clamped_low"),
        F.sum((F.col(value_col) > F.col("hi")).cast("int"))
        .cast("bigint")
        .alias("n_clamped_high"),
    )


def seasonal_robust_flags(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    k: float = 5.0,
) -> DataFrame:
    """Cell-wise robust anomaly counts over the (weekday x hour) grid.

    Baseline per cell: median and MAD (median absolute deviation), both
    exact interpolated medians. A value is anomalous when
    |value - med| > k * MAD (the robust z-score rule; MAD = 0 cells flag
    nothing — degenerate constant cells, matching the sigma-guard in the
    flagship scorer). Output is one row per cell with exact counts, so
    the result is hash-stable: booleans and integers only downstream of
    identically-computed medians.

    Two grouped passes (median, then MAD of residuals) + two broadcast
    joins of the 7x24-row baseline; the events scan is the only big input
    and is read twice — at 100 TB, persist the first projection or accept
    the rescan (scan-bound, no shuffle of raw rows).
    """
    dow = (F.dayofweek(ts_col) - 1).cast("bigint")
    hr = F.hour(ts_col).cast("bigint")
    cells = df.select(
        dow.alias("dow"), hr.alias("hr"), F.col(value_col).alias("v")
    )
    med = cells.groupBy("dow", "hr").agg(F.percentile("v", 0.5).alias("med"))
    mad = (
        cells.join(F.broadcast(med), ["dow", "hr"])
        .groupBy("dow", "hr")
        .agg(
            F.percentile(F.abs(F.col("v") - F.col("med")), 0.5).alias("mad"),
            F.first("med").alias("med"),
        )
    )
    return (
        cells.join(F.broadcast(mad), ["dow", "hr"])
        .groupBy("dow", "hr")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                (
                    (F.col("mad") > 0)
                    & (F.abs(F.col("v") - F.col("med")) > k * F.col("mad"))
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_anomalous"),
        )
    )
