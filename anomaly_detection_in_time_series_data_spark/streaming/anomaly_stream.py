"""Streaming anomaly detection (SURVEY.md §2.8 final row, §7 Phase 5) —
the capability the reference's title names, built on the consumer side it
never implemented.

- ``windowed_stats``: watermarked tumbling/sliding window aggregation —
  pure built-in streaming aggs (per-window mean/stddev/extremes), append
  mode on window close. The scalable default: state is bounded by the
  watermark, partial aggregation happens map-side.
- ``streaming_zscore`` (running Welford z-score) and ``streaming_ewma``
  (EWMA control chart): ``_stream_scan`` runs the batch scorers'
  ``(init, step, emit)`` triples through their row loop
  ``operators.anomaly._scan`` on ``applyInPandasWithState``, the state
  carried in ``GroupState``.  Each trigger sorts all of a key's rows
  once, whatever Arrow chunks Spark cut them into, so when every
  trigger's rows for a key follow that key's earlier rows in ``(ts,
  tiebreak)`` order the stream equals the batch scorer over the same
  rows: prefix consistency (Structured Streaming, SIGMOD 2018).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.anomaly import _ewma, _scan, _scan_schema, _state_fields, _welford


def _stream_scan(
    stream: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str | None,
    init: tuple,
    step: Callable,
    emit: Callable,
    score_col: str,
) -> DataFrame:
    """``_handoff_scan(chunk=None)`` on a stream: per key and trigger, one
    ``_scan`` over the trigger's rows from the state the previous trigger
    left in ``GroupState`` (``init`` for a new key).  Output schema as
    the batch scorer's (the input's key type); append mode.  Pass
    ``tiebreak_col`` (selected into the stream) when timestamps can
    repeat within a key: rows with equal ``ts`` otherwise keep their
    nondeterministic incoming order."""
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    loop = dict(
        key_col=key_col, ts_col=ts_col, value_col=value_col, order=order,
        step=step, emit=emit, score_col=score_col,
    )

    def score(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        out, end = _scan(
            pd.concat(list(pdfs)), state.get if state.exists else init, **loop
        )
        state.update(end)
        yield out

    return (
        stream.select(key_col, value_col, *order)
        .groupBy(key_col)
        .applyInPandasWithState(
            score,
            outputStructType=_scan_schema(stream, key_col, ts_col, score_col),
            stateStructType=T.StructType(_state_fields(init)),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_zscore(
    stream: DataFrame,
    *,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    threshold: float = 3.0,
    min_points: int = 5,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key running z-score over a stream: each event is scored against
    the mean and sample std of ALL previous events of its key, then folded
    into the Welford state (count, mean, M2). Keys with fewer than
    ``min_points`` prior events never flag. Returns ``key, event_ts,
    value, zscore, is_anomaly``."""
    return _stream_scan(
        stream, key_col=key_col, ts_col=ts_col, value_col=value_col,
        tiebreak_col=tiebreak_col, **_welford(threshold, min_points),
    )


def streaming_ewma(
    stream: DataFrame,
    *,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    alpha: float = 0.1,
    threshold: float = 3.0,
    min_points: int = 5,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """EWMA control chart over a stream: the batch
    ``operators.anomaly.ewma_anomaly`` scorer with its (mu, var, n) state
    carried across triggers, so replaying a stream reproduces the batch
    scores bit for bit. Returns ``key, event_ts, value, ewma_z,
    is_anomaly``."""
    return _stream_scan(
        stream, key_col=key_col, ts_col=ts_col, value_col=value_col,
        tiebreak_col=tiebreak_col, **_ewma(alpha, threshold, min_points),
    )


def windowed_stats(
    stream: DataFrame,
    *,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    window: str = "10 seconds",
    slide: str | None = None,
    watermark: str = "30 seconds",
) -> DataFrame:
    """Watermarked (sliding) window statistics per key — the built-in-only
    streaming aggregation: bounded state, map-side partial aggs, append
    output on window close. Downstream, a z-score against the *previous*
    window's stats is a plain batch join on window boundaries."""
    win = (
        F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), F.col(key_col))
        .agg(
            F.count("*").alias("n"),
            F.avg(value_col).alias("mu"),
            F.stddev_samp(value_col).alias("sigma"),
            F.min(value_col).alias("vmin"),
            F.max(value_col).alias("vmax"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n",
            "mu",
            "sigma",
            "vmin",
            "vmax",
        )
    )
