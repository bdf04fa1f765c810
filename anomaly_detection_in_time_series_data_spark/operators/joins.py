"""Time-series join operators Spark lacks as built-ins (SURVEY.md §2.3
extension; standard capability for a telemetry engine).

``asof_join`` — for each left row, the latest right row with
``right_ts <= left_ts`` per key — is implemented with the union+window
formulation: tag sources, union, and take ``last(right_col, ignorenulls)``
over an unbounded-preceding window ordered by (ts, tag). One shuffle on the
key, sort bounded per key, no range explosion — the same plan shape a
native as-of physical operator would produce. DuckDB's native ASOF JOIN is
the correctness oracle.

Right rows must be unique per (keys, right_ts) — pre-aggregate otherwise
(an ambiguous as-of match is order-dependent in any engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def broadcast_null_safe_join(
    df: DataFrame, small: DataFrame, keys: list[str], how: str = "inner"
) -> DataFrame:
    """``df.join(F.broadcast(small), keys, how)`` with every key compared
    null-safe (``<=>``), so a NULL-key row meets ``small``'s NULL-key row
    (a NULL group of ``groupBy(keys)``) instead of nothing.  Same columns
    as the USING join: the keys, the rest of ``df``, the rest of
    ``small``.  Catalyst hashes ``<=>`` keys, so it stays a broadcast
    hash join."""
    tmp = {k: f"_ns_{k}" for k in keys}
    rest = [c for c in small.columns if c not in tmp]
    right = small.select(*[F.col(k).alias(v) for k, v in tmp.items()], *rest)
    on = [F.col(k).eqNullSafe(F.col(v)) for k, v in tmp.items()]
    return df.join(F.broadcast(right), on, how).select(
        *keys, *[c for c in df.columns if c not in tmp], *rest
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
) -> DataFrame:
    """As-of left join. Key columns must share names; all other column
    names must be disjoint between the two frames. Right payload columns
    come back nullable (no match -> null).

    ``direction="backward"`` (default) matches each left row to the most
    recent right row at-or-before its timestamp; ``"forward"`` to the
    earliest right row at-or-after it. Both are the same single-shuffle
    union+window formulation — forward just scans the per-key timeline in
    descending order (no second join strategy to maintain)."""
    # left_ts is returned via the _asof_ts rename — carrying it in lcols
    # too would emit a DUPLICATE column of that name, making any
    # downstream reference to it ambiguous.
    lcols = [c for c in left.columns if c not in keys and c != left_ts]
    rcols = [c for c in right.columns if c not in keys and c != right_ts]
    l_tagged = left.select(
        *keys,
        F.col(left_ts).alias("_asof_ts"),
        F.lit(1).alias("_tag"),
        *lcols,
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in rcols],
    )
    r_tagged = right.select(
        *keys,
        F.col(right_ts).alias("_asof_ts"),
        F.lit(0).alias("_tag"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *rcols,
    )
    unioned = l_tagged.unionByName(r_tagged)
    if direction not in ("backward", "forward"):
        raise ValueError(f"asof_join direction must be backward|forward, got {direction}")
    # Right rows sort before left rows at equal ts (asof is inclusive):
    # ascending scan for backward, descending for forward — the right tag
    # (0) orders first under the ascending _tag tiebreak either way.
    ts_order = (
        F.col("_asof_ts") if direction == "backward" else F.col("_asof_ts").desc()
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_order, F.col("_tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [F.last(c, ignorenulls=True).over(w).alias(c) for c in rcols]
    return (
        unioned.select(*keys, "_asof_ts", "_tag", *lcols, *carried)
        .filter(F.col("_tag") == 1)
        .drop("_tag")
        .withColumnRenamed("_asof_ts", left_ts)
    )


def binned_range_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join (``lo <= point < hi``) as an EQUI-join on bin
    ids — the scale formulation of a range join.

    A naive range join is a broadcast nested-loop (O(|P| x |I|)); binning
    maps each interval to the ceil((hi-lo)/w)+1 bins it overlaps
    (sequence + explode, JVM-side) and each point to its single bin, then
    hash-joins on the bin id and re-checks the exact predicate. With
    interval spans comparable to ``bin_width`` the work is O(|P| + k|I|)
    and shuffles hash-partition by bin — no cross product, no straggler.
    Column names must be disjoint between the two frames.
    """
    pbin = points.withColumn(
        "_bin", F.floor(F.col(point_col) / F.lit(bin_width)).cast("long")
    )
    ibin = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bin_width)).cast("long"),
                F.floor(F.col(hi_col) / F.lit(bin_width)).cast("long"),
            )
        ),
    )
    return (
        pbin.join(ibin, "_bin", how)
        .filter((F.col(lo_col) <= F.col(point_col)) & (F.col(point_col) < F.col(hi_col)))
        .drop("_bin")
    )
