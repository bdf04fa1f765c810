"""Anomaly-detection operators — the capability the reference's title names.

The reference approaches anomaly detection only via Keras reconstruction
models (VAE, ``Week#12_Assignment.ipynb:132-186``) and z-score normalization
(``house_price.pdf`` normalization cell — ``(x - mean)/std``). The engine
ships the statistical equivalents Spark supports natively (SURVEY.md §2.10):

- rolling / grouped z-score over event time (this module)
- EWMA and Holt forecast scorers (this module)
- KMeans distance-to-centroid and GaussianMixture log-likelihood
  (``models.py``; MLlib)

The z-scores are window/agg expression work — JVM-side, whole-stage
codegen, no Python in the hot path. At 100 TB the window partitions by
``event_type`` (low cardinality) — for very hot keys the grouped variant
(`global_zscore`) is a two-pass agg+broadcast-join, which scales better than
a sort-based window; both are provided.

The EWMA, Holt and running (Welford) z-score scorers are sequential
recurrences, so they run one per-row Python loop, ``_scan``, which owns the
sort, the loop and the output frame; each scorer supplies only its
``(init, step, emit)`` triple: zero state, step and per-row score.  In
batch ``_handoff_scan`` runs the loop inside ``applyInPandas`` (with an
optional chunked state handoff); on a stream
``streaming.anomaly_stream._stream_scan`` runs it from ``GroupState``.
"""

from __future__ import annotations

from functools import partial
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .joins import broadcast_null_safe_join

# Guard against zero/degenerate dispersion (constant window) — mirrors the
# oracle SQL exactly so boolean flags hash-match.
_SIGMA_FLOOR = 1e-12


def rolling_zscore(
    df: DataFrame,
    *,
    partition_cols: list[str],
    order_cols: list[str],
    value_col: str = "value",
    lookback: int = 20,
    threshold: float = 3.0,
) -> DataFrame:
    """Rolling z-score over the previous ``lookback`` rows per partition.

    Reproduces the reference's z-score normalization (house_price.pdf:
    ``(x - mean)/std``) as a *trailing-window* statistic — the standard
    streaming-friendly formulation (the stats at row i use rows i-k..i-1,
    never the current row, so the score is causal and replayable).

    Adds ``mu``, ``sigma``, ``zscore``, ``is_anomaly`` columns.
    """
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(-lookback, -1)
    )
    mu = F.avg(value_col).over(w)
    sigma = F.stddev_samp(value_col).over(w)
    z = F.when(
        sigma.isNotNull() & (sigma > _SIGMA_FLOOR),
        (F.col(value_col) - mu) / sigma,
    )
    return (
        df.withColumn("mu", mu)
        .withColumn("sigma", sigma)
        .withColumn("zscore", z)
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(F.col("zscore")) > F.lit(threshold), F.lit(False)),
        )
    )


def global_zscore(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str = "value",
    threshold: float = 3.0,
) -> DataFrame:
    """Two-pass grouped z-score: agg per group, broadcast join stats back.

    Preferred at scale for low-cardinality groups: the per-group stats frame
    is tiny (one row per group), so the join is a broadcast — no sort, no
    window state, and the scan of ``df`` happens exactly twice with full
    predicate/column pushdown.  A NULL key is one group, as in ``groupBy``:
    the stats join back null-safe.
    """
    stats = df.groupBy(*group_cols).agg(
        F.avg(value_col).alias("mu"),
        F.stddev_samp(value_col).alias("sigma"),
    )
    joined = broadcast_null_safe_join(df, stats, group_cols, how="left")
    z = F.when(
        F.col("sigma").isNotNull() & (F.col("sigma") > _SIGMA_FLOOR),
        (F.col(value_col) - F.col("mu")) / F.col("sigma"),
    )
    return joined.withColumn("zscore", z).withColumn(
        "is_anomaly",
        F.coalesce(F.abs(F.col("zscore")) > F.lit(threshold), F.lit(False)),
    )


def flag_event_anomalies(
    events: DataFrame, *, lookback: int = 20, threshold: float = 3.0
) -> DataFrame:
    """Flagship query (SURVEY.md §7 Phase 1): windowed z-score over `events`.

    Partition by ``event_type``, order by ``(ts, event_id)`` (event_id breaks
    timestamp ties deterministically), trailing window of ``lookback`` rows.
    """
    return rolling_zscore(
        events,
        partition_cols=["event_type"],
        order_cols=["ts", "event_id"],
        value_col="value",
        lookback=lookback,
        threshold=threshold,
    ).select("event_id", "event_type", "value", "is_anomaly")


def rolling_zscore_chunked(
    df: DataFrame,
    *,
    partition_cols: list[str],
    ts_col: str,
    tiebreak_col: str,
    value_col: str = "value",
    lookback: int = 20,
    threshold: float = 3.0,
    chunk: str = "7 days",
) -> DataFrame:
    """Scale formulation of ``rolling_zscore`` with identical semantics.

    ``rolling_zscore`` sorts each key's entire history in one task — with a
    handful of keys (events has 5 event types) that is 5-way parallelism
    forever, a non-starter at 100 TB. Here time is cut into ``chunk``
    buckets and the window runs per (key, chunk):

    1. rank rows from the end of each chunk (a per-(key,chunk) window —
       fully parallel) and copy the last ``lookback`` rows of chunk c into
       chunk c+1 as context rows;
    2. run the trailing-window stats per (key, chunk) over own+context
       rows; context rows supply the cross-boundary history and are then
       dropped from the output.

    Results are identical to the single-partition window whenever every
    chunk holds at least ``lookback`` rows per key (first-chunk rows have
    genuinely less history in both formulations). Parallelism becomes
    #keys x #chunks, and each sort is bounded by chunk row count.
    """
    base = df.withColumn("_chunk", F.window(F.col(ts_col), chunk).start)
    # Rank from chunk end to find context rows for the next chunk.
    w_desc = Window.partitionBy(*partition_cols, "_chunk").orderBy(
        F.col(ts_col).desc(), F.col(tiebreak_col).desc()
    )
    ctx = (
        base.withColumn("_rn_desc", F.row_number().over(w_desc))
        .filter(F.col("_rn_desc") <= lookback)
        .drop("_rn_desc")
        # move into the NEXT chunk as history-only rows
        .withColumn(
            "_chunk",
            (
                F.col("_chunk").cast("timestamp")
                + F.expr(f"INTERVAL {chunk}")
            ),
        )
        .withColumn("_ctx", F.lit(True))
    )
    own = base.withColumn("_ctx", F.lit(False))
    unioned = own.unionByName(ctx)
    w = (
        Window.partitionBy(*partition_cols, "_chunk")
        .orderBy(F.col(ts_col), F.col(tiebreak_col))
        .rowsBetween(-lookback, -1)
    )
    mu = F.avg(value_col).over(w)
    sigma = F.stddev_samp(value_col).over(w)
    z = F.when(
        sigma.isNotNull() & (sigma > _SIGMA_FLOOR),
        (F.col(value_col) - mu) / sigma,
    )
    return (
        unioned.withColumn("mu", mu)
        .withColumn("sigma", sigma)
        .withColumn("zscore", z)
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(F.col("zscore")) > F.lit(threshold), F.lit(False)),
        )
        .filter(~F.col("_ctx"))
        .drop("_ctx", "_chunk")
    )


def _scan_schema(
    df: DataFrame, key_col: str, ts_col: str, score_col: str
) -> T.StructType:
    """``_scan``'s output with the input's key and timestamp types."""
    return T.StructType(
        [
            T.StructField(key_col, df.schema[key_col].dataType),
            T.StructField("event_ts", df.schema[ts_col].dataType),
            T.StructField("value", T.DoubleType()),
            T.StructField(score_col, T.DoubleType()),
            T.StructField("is_anomaly", T.BooleanType()),
        ]
    )


def _state_fields(init: tuple) -> list[T.StructField]:
    """State columns ``_s0, _s1, ...`` of ``init``'s slots: long for an int
    (a count), double for a float."""
    return [
        T.StructField(f"_s{i}", T.LongType() if isinstance(z, int) else T.DoubleType())
        for i, z in enumerate(init)
    ]


def _scan(
    pdf: pd.DataFrame,
    state: tuple,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    order: list[str],
    step: Callable,
    emit: Callable,
    score_col: str,
) -> tuple[pd.DataFrame, tuple]:
    """The row loop of every sequential scorer, batch and stream: sort
    ``pdf`` by ``order``; per row, ``emit(*state, x)`` is its ``(score,
    flag)`` from the state of STRICTLY PRIOR rows (so an outlier cannot
    mask itself), then ``state = step(*state, x)``.  Returns the
    ``key, event_ts, value, <score_col>, is_anomaly`` frame and the end
    state."""
    pdf = pdf.sort_values(order)
    xs = pdf[value_col].to_numpy(dtype=float)
    scores = np.full(len(xs), np.nan)
    flags = np.zeros(len(xs), dtype=bool)
    for i, x in enumerate(xs):
        scores[i], flags[i] = emit(*state, x)
        state = step(*state, x)
    out = pd.DataFrame(
        {key_col: pdf[key_col], "event_ts": pdf[ts_col], "value": xs,
         score_col: scores, "is_anomaly": flags}
    )
    return out, state


def _handoff_scan(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str | None,
    chunk: str | None,
    init: tuple,
    step: Callable,
    emit: Callable,
    score_col: str,
) -> DataFrame:
    """The batch per-key scorer behind the EWMA and Holt operators: runs
    ``_scan`` over each key's rows in ``(ts, tiebreak)`` order, starting
    from the state ``init``.  With ``chunk=None`` each key is one group,
    parallelism #keys.  Otherwise time is cut into ``chunk`` buckets and
    the work is split so the unavoidable sequential part is minimal:

    1. **State pass** (parallel over keys): a bare scan per key that only
       records the state at each chunk entry — no scores, no per-row
       output assembly.  Output: #keys x #chunks tiny state rows.
    2. **Score pass** (parallel over key x chunk): each (key, chunk) group
       gets its entry state as one extra row of the same group (a union,
       not a join: grouping matches a NULL key to itself, an equi-join
       would drop it), splits it off and re-runs the loop from it.

    Both passes call the same ``step``, so the scores are bit-equal to
    the one-group case (unit-asserted).  The per-row heavy part (scoring
    + Arrow assembly, the dominant constant) parallelizes #keys x
    #chunks; only the cheap state scan stays key-sequential.  The chunked
    form needs ``tiebreak_col``: both passes must agree on a TOTAL row
    order for the handoff to be exact.  Without one, rows with equal
    ``ts`` keep their nondeterministic incoming order."""
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    base = df.select(key_col, value_col, *order)
    state_cols = [f.name for f in _state_fields(init)]
    loop = dict(
        key_col=key_col, ts_col=ts_col, value_col=value_col, order=order,
        step=step, emit=emit, score_col=score_col,
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        state = init
        if chunk is not None:
            # the entry row is the one whose state is non-null (its count
            # never is; a NaN float state arrives as NULL from Arrow)
            entry = pdf[state_cols].notna().any(axis=1)
            row = pdf.loc[entry, state_cols].iloc[0]
            state = tuple(type(z)(v) for z, v in zip(init, row))
            pdf = pdf[~entry]
        return _scan(pdf, state, **loop)[0]

    def states(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order)
        # sorted by ts, so a chunk's first row is its entry
        chunks = pdf["_chunk"]
        entries = ~chunks.duplicated().to_numpy()
        state, rows = init, []
        for c, is_entry, x in zip(
            chunks.to_numpy(), entries, pdf[value_col].to_numpy(dtype=float)
        ):
            if is_entry:
                rows.append((c, *state))
            state = step(*state, x)
        out = pd.DataFrame(rows, columns=["_chunk", *state_cols])
        out.insert(0, key_col, pdf[key_col].iloc[0])
        return out

    groups = [key_col]
    if chunk is not None:
        base = base.withColumn("_chunk", F.window(F.col(ts_col), chunk).start)
        state_schema = T.StructType(
            [base.schema[key_col], base.schema["_chunk"]]
            + _state_fields(init)
        )
        entry = base.groupBy(key_col).applyInPandas(states, schema=state_schema)
        base = base.unionByName(entry, allowMissingColumns=True)
        groups.append("_chunk")
    return base.groupBy(*groups).applyInPandas(
        score, schema=_scan_schema(df, key_col, ts_col, score_col)
    )


def _ewma_step(
    mu: float, var: float, n: int, x: float, alpha: float
) -> tuple[float, float, int]:
    """One EWMA state transition — THE single definition of the recurrence,
    which ``_handoff_scan`` runs in its state pass and its scoring loop, so
    the sequential and chunked scorers execute the identical float op
    sequence (bit-equal outputs)."""
    delta = x - mu if n else 0.0
    if n == 0:
        mu = x
    else:
        mu += alpha * delta
        var = (1.0 - alpha) * (var + alpha * delta * delta)
    return mu, var, n + 1


def _welford(threshold: float, min_points: int) -> dict:
    """The running z-score's ``(init, step, emit)`` triple: Welford state
    (count, mean, sum of squared deviations); each row is scored against
    the mean and sample std of ALL prior rows of its key."""

    def step(n, mean, m2, x):
        n += 1
        delta = x - mean
        mean += delta / n
        return n, mean, m2 + delta * (x - mean)

    def emit(n, mean, m2, x):
        if n >= min_points and m2 > 0:
            std = (m2 / (n - 1)) ** 0.5
            if std > 1e-12:
                z = (x - mean) / std
                return z, abs(z) > threshold
        return np.nan, False

    return dict(init=(0, 0.0, 0.0), step=step, emit=emit, score_col="zscore")


def _ewma(alpha: float, threshold: float, min_points: int) -> dict:
    """The EWMA scorer's ``(init, step, emit)`` triple, shared by
    ``ewma_anomaly``, ``ewma_anomaly_chunked`` and
    ``streaming.anomaly_stream.streaming_ewma``."""

    def emit(mu, var, n, x):
        if n >= min_points and var > 1e-24:
            z = (x - mu) / var**0.5
            return z, abs(z) > threshold
        return np.nan, False

    return dict(
        init=(0.0, 0.0, 0),
        step=partial(_ewma_step, alpha=alpha),
        emit=emit,
        score_col="ewma_z",
    )


def ewma_anomaly(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.1,
    threshold: float = 3.0,
    min_points: int = 5,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """EWMA control-chart anomaly detection per key (causal).

    Each point is scored against the exponentially weighted mean/variance
    of STRICTLY PRIOR points (so an outlier cannot mask itself), then
    folded in:

        delta  = x - mu_prev
        z      = delta / sqrt(var_prev)          (flag if |z| > threshold)
        mu     = mu_prev + alpha * delta
        var    = (1 - alpha) * (var_prev + alpha * delta^2)

    Unlike the rolling-window z-score, state is O(1) per key (mu, var,
    n) and old history decays smoothly — the standard drift-tolerant
    scorer. Runs as one ``applyInPandas`` pass per key group; at scale
    parallelism = #keys — use ``ewma_anomaly_chunked`` (bit-equal output,
    parallelism #keys x #chunks) when single keys dominate.

    ``tiebreak_col`` makes tied-timestamp scoring deterministic (rows with
    equal ``ts`` otherwise keep nondeterministic incoming order, so
    sequential scores could differ across runs)."""
    return _handoff_scan(
        df, key_col=key_col, ts_col=ts_col, value_col=value_col,
        tiebreak_col=tiebreak_col, chunk=None,
        **_ewma(alpha, threshold, min_points),
    )


def ewma_anomaly_chunked(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    alpha: float = 0.1,
    threshold: float = 3.0,
    min_points: int = 5,
    chunk: str = "7 days",
) -> DataFrame:
    """``ewma_anomaly`` with time-chunk + state-handoff execution —
    BIT-EQUAL scores, parallelism #keys x #chunks instead of #keys.

    EWMA is inherently a sequential recurrence, so exact (bit-equal)
    parallelism across chunks is impossible in one pass; ``_handoff_scan``
    instead runs a cheap per-key state pass that records the (mu, var, n)
    state at each chunk entry, then scores every (key, chunk) group from
    its handed-off entry state.  ``tiebreak_col`` is required: both passes
    must agree on a TOTAL row order for the handoff to be exact.
    """
    return _handoff_scan(
        df, key_col=key_col, ts_col=ts_col, value_col=value_col,
        tiebreak_col=tiebreak_col, chunk=chunk,
        **_ewma(alpha, threshold, min_points),
    )


def _holt_step(
    l: float, b: float, r: float, n: int, x: float, alpha: float, beta: float,
    gamma: float,
) -> tuple[float, float, float, int]:
    """One Holt (double-exponential) state transition — the single
    definition of the recurrence, which ``_handoff_scan`` runs in its
    state pass and its scoring loop, and which the DuckDB recursive-CTE
    oracle mirrors textually, so every path executes the identical float
    op sequence (bit-equal outputs).

    State: level ``l``, trend ``b``, EWMA of absolute one-step-ahead
    forecast residuals ``r`` (the adaptive scale the flag threshold is
    relative to), count ``n``."""
    if n == 0:
        l, b, r = x, 0.0, 0.0
    else:
        forecast = l + b
        l_next = alpha * x + (1.0 - alpha) * forecast
        b_next = beta * (l_next - l) + (1.0 - beta) * b
        r = gamma * abs(x - forecast) + (1.0 - gamma) * r
        l, b = l_next, b_next
    return l, b, r, n + 1


def _holt(
    alpha: float, beta: float, gamma: float, threshold: float, min_points: int
) -> dict:
    """The Holt scorer's ``(init, step, emit)`` triple: the score is the
    one-step-ahead forecast."""

    def emit(l, b, r, n, x):
        flag = n >= min_points and r > 1e-24 and abs(x - (l + b)) > threshold * r
        return (l + b if n > 0 else np.nan), flag

    return dict(
        init=(0.0, 0.0, 0.0, 0),
        step=partial(_holt_step, alpha=alpha, beta=beta, gamma=gamma),
        emit=emit,
        score_col="forecast",
    )


def holt_forecast_anomaly_chunked(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    alpha: float = 0.5,
    beta: float = 0.3,
    gamma: float = 0.2,
    threshold: float = 4.0,
    min_points: int = 10,
    chunk: str = "7 days",
) -> DataFrame:
    """Holt linear-trend forecasting with residual-based anomaly flags —
    the forecast-driven scorer the reference's title implies but never
    ships (its only models are Keras reconstruction nets,
    ``Week#12_Assignment.ipynb:132-186``).

    Each point is scored against the one-step-ahead forecast (level +
    trend) from STRICTLY PRIOR state; the residual is compared to an
    exponentially weighted mean absolute residual, so the flag adapts to
    each key's own noise floor and survives level shifts and trends that
    break the static z-score.

    Execution is the same time-chunk + state-handoff scheme as
    ``ewma_anomaly_chunked`` (``_handoff_scan``: state pass per key ->
    tiny entry-state rows -> parallel (key, chunk) scoring; bit-equal to
    a sequential pass, parallelism #keys x #chunks).
    """
    return _handoff_scan(
        df, key_col=key_col, ts_col=ts_col, value_col=value_col,
        tiebreak_col=tiebreak_col, chunk=chunk,
        **_holt(alpha, beta, gamma, threshold, min_points),
    )
