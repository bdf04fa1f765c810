"""Distributed exact ranks, running sums and records — the scale path for
every global ``row_number`` / ``ntile`` / running sum in the engine.

A partition-less ``Window.orderBy(...)`` moves the WHOLE frame into one
task (Spark's ``WindowExec`` warns exactly this), and ``PARTITION BY`` a
tiny key domain does so per key: fine for a grouped 10-row result, a
single-node sort of the fact table at 100 TB.  Every operator here is one
terasort-shaped range scan, ``_range_scan``:

1. ``repartitionByRange`` on (key, order) spreads the total order across
   ranges (the same shuffle ANY engine pays for a global sort);
2. ``sortWithinPartitions`` + an Arrow-batched ``mapInArrow`` runs the
   operator's LOCAL step per key over each range, carrying per-key state
   across its Arrow batches (no per-row Python), and passes the payload
   columns through as Arrow, so a float NaN stays NaN;
3. per-(range, key) partials (a partitions x keys frame, NOT data-sized)
   fold through a tiny window into each range's incoming OFFSET, which
   is broadcast back and combined with the local value.

No stage ever sorts more than one range.  An operator supplies only its
local step and monoid: SUM for the ranks and ``global_prefix_sum`` (a
rank is the running sum of 1 per row; the global operators have no key
columns), STRICT MAX for ``keyed_record_scan``.  Nulls follow the
per-key window forms on both sides of ``keyed_exact_rank``'s size gate:
a null key is one group; a null or NaN value is never a record and never
moves the running max; ``global_prefix_sum`` rejects a null.

``ntile_from_rank`` then derives SQL-standard ntile bins from (rank,
total) with pure bigint arithmetic — floor distribution, first ``n % k``
buckets one row larger — bit-identical to ``ntile(k) OVER (ORDER BY ...)``
on any engine.

Proof of equivalence lives in the driver gate: the ``distributed_exact_rank``
query hash-matches this pipeline against DuckDB's single-window
``row_number``, and the ntile consumers (``woe_iv_binning``,
``rfm_user_segments``, ``gini_split_gain_deciles``, ``vocab_growth_curve``)
hash-match against DuckDB ``ntile``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Below this OPTIMIZER-ESTIMATED input size, keyed_exact_rank falls back to
# the native per-key window (optimization r13, VERDICT r12 item 3): the
# two-phase path exists so no single task ever sorts a whole key's frame,
# but its fixed costs (Arrow mapInArrow round-trip, eager localCheckpoint,
# offset broadcast join) are pure overhead when the WHOLE frame fits one
# task comfortably — measured +0.8 s on borda_rank_aggregation and +1.5 s
# on gmm_anomaly_scores at sf0.1.  256 MB is a size a single window task
# sorts in seconds; at 100 TB the estimate (derived by Catalyst from scan
# bytes) exceeds it by orders of magnitude and the scale path engages.
# Both paths are proven row-identical (tests/test_plans.py parity + the
# distributed_keyed_rank driver oracle).  Env-tunable for cluster profiles.
KEYED_RANK_SMALL_BYTES = int(
    os.environ.get("ADTS_KEYED_RANK_SMALL_BYTES", str(256 * 1024 * 1024))
)

# Prefix of every internal column the range scan adds (and drops again);
# plans.inspect recognizes the scan's bounded offset windows by it.
SCAN_PREFIX = "_scan_"
_PID, _KID, _LOCAL, _PART, _OFF, _TOT = (
    f"{SCAN_PREFIX}{s}" for s in ("pid", "kid", "local", "part", "off", "tot")
)


def _plan_size_bytes(df: DataFrame) -> "int | None":
    """Catalyst's estimated output size of ``df`` in bytes (no job is
    run — this reads the optimized logical plan's statistics, the same
    estimate AQE/broadcast planning uses).  None when the estimate is
    unavailable."""
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j returns small BigInts as Python ints; huge estimates
        # (unknown-stats subtrees propagate Long.Max-ish sentinels) come
        # back as JavaObjects — str() covers both.
        return int(str(size))
    except Exception:  # noqa: BLE001 — estimate only; caller defaults to scale path
        return None


def _check_clash(fn: str, df: DataFrame, outputs: "dict[str, str]") -> None:
    """Fail at plan time when an output (``outputs``: parameter name ->
    column name) or internal column already exists on ``df`` — an
    AMBIGUOUS_REFERENCE would surface only at action time otherwise."""
    clash = ({*outputs.values()} & set(df.columns)) | {
        c for c in df.columns if c.startswith(SCAN_PREFIX)
    }
    if clash:
        raise ValueError(
            f"{fn}: output/internal column names {sorted(clash)} "
            "already exist on the input frame; pass "
            f"{'/'.join(f'{p}=' for p in outputs)} overrides"
        )


def _range_scan(
    fn: str,
    df: DataFrame,
    key_cols: "list[str]",
    order_cols: "list[Column | str]",
    parts: int,
    outputs: "dict[str, str]",
    monoid: tuple,
) -> DataFrame:
    """The range scan; returns ``[*key_cols, *other columns, *outputs]``.
    ``monoid`` is ``(step, local_type, fold, part, finish)``:
    ``step(batch, codes, keys, carry)`` is a batch's local column
    (``keys[code]`` a group's key tuple, nulls as None; ``carry`` a key's
    state after earlier batches); ``fold(part)`` the partial and window
    aggregate; ``finish(local, off, tot)`` the outputs, given the fold
    over the key's earlier ranges (null for its first) and all ranges."""
    step, local_type, fold, part, finish = monoid
    _check_clash(fn, df, outputs)
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    rp = df.repartitionByRange(parts, *cols).sortWithinPartitions(*cols)
    payload = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def scan(batches):
        pid = TaskContext.get().partitionId()
        carry: dict = {}  # key tuple -> step state after earlier batches
        kid: dict = {}  # key tuple -> its id within this range
        for rb in batches:
            # pandas only feeds ``step``; the payload goes back as the
            # original Arrow columns, since pandas -> Arrow would write
            # every float NaN back as NULL
            b = rb.to_pandas()
            if key_cols:
                # dropna=False keeps a null key as one group, and its carry
                # key is None: NaN never equals itself as a dict key.
                grouped = b.groupby(key_cols, sort=False, dropna=False)
                codes = grouped.ngroup().to_numpy()
                _, first = np.unique(codes, return_index=True)
                keys = [
                    tuple(None if pd.isna(v) else v for v in row)
                    for row in b[key_cols].iloc[first].itertuples(index=False)
                ]
            else:
                codes, keys = np.zeros(len(b), dtype="int64"), [()]
            local = step(b, codes, keys, carry)
            ids = [kid.setdefault(k, len(kid)) for k in keys]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.full(len(b), pid, dtype="int32")),
                    pa.array(np.array(ids, dtype="int32")[codes]),
                    pa.array(local),
                    *rb.columns,
                ],
                names=[_PID, _KID, _LOCAL, *rb.schema.names],
            )

    scanned = rp.mapInArrow(
        scan,
        schema=f"{_PID} int, {_KID} int, {_LOCAL} {local_type}, {payload}",
    ).localCheckpoint(eager=True)
    # Both windows run over the (partitions x keys) partial frame — <=
    # `parts` rows per key, never data-sized — so even the partition-less
    # window of the no-key case is bounded and right.
    per_key = Window.partitionBy(*key_cols)
    earlier = per_key.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        scanned.groupBy(_PID, _KID)
        .agg(fold(part).alias(_PART), *(F.first(k).alias(k) for k in key_cols))
        .select(
            _PID,
            _KID,
            fold(_PART).over(earlier).alias(_OFF),
            fold(_PART).over(per_key).alias(_TOT),
        )
    )
    # Join on (range, key id), never on the key values: an equi-join on
    # the keys drops null-key rows, and a null-safe one hides from the
    # optimizer that the offset frame is unique per join key, which
    # inflates the size estimate every downstream plan choice reads.
    out = scanned.join(F.broadcast(offsets), [_PID, _KID])
    results = finish(F.col(_LOCAL), F.col(_OFF), F.col(_TOT))
    others = [c for c in df.columns if c not in set(key_cols)]
    return out.select(
        *key_cols,
        *others,
        *(c.alias(name) for c, name in zip(results, outputs.values())),
    )


def _sum_monoid(value_col: "str | None" = None) -> tuple:
    """Outputs (key total, INCLUSIVE running sum), both bigint, of
    ``value_col`` — or of 1 per row, which is the rank, when None.  A
    NULL value raises a ``ValueError`` naming the column."""

    def step(b, codes, keys, carry):
        if value_col is None:
            inc = np.ones(len(b), dtype="int64")
        elif b[value_col].isna().any():
            raise ValueError(
                f"value_col {value_col!r} holds a NULL; the running sum "
                "is defined over non-null values only"
            )
        else:
            inc = b[value_col].to_numpy(dtype="int64")
        base = np.array([carry.get(k, 0) for k in keys], dtype="int64")
        local = pd.Series(inc).groupby(codes, sort=False).cumsum().to_numpy()
        local += base[codes]
        np.add.at(base, codes, inc)
        carry.update(zip(keys, base.tolist()))
        return local

    def finish(local, off, tot):
        return [
            tot.cast("bigint"),
            (local + F.coalesce(off, F.lit(0))).cast("bigint"),
        ]

    inc = F.lit(1) if value_col is None else F.col(value_col)
    return step, "bigint", F.sum, inc, finish


def _record_monoid(value_col: str, floating: bool) -> tuple:
    """Outputs the boolean STRICT-record flag of ``value_col``: strict
    max as the monoid.  A null or NaN value is never a record and does
    not move the running max (``max()`` skips a null; ``floating``
    columns skip NaN too)."""

    def step(b, codes, keys, carry):
        # Vectorized batch body (ADVICE r10: the per-row Python loop
        # rode billion-row fact scans): a row is a local record iff its
        # value is non-null and strictly exceeds BOTH the max of earlier
        # rows in this batch for its key (grouped cummax, forward-filled
        # over null values, shifted by one) AND the carry from earlier
        # batches of this range.  Integer values ride the nullable Int64
        # dtype so the missing-value slots never force a float64 upcast
        # — cents near 2^63 must compare exactly, not at float53
        # precision.
        integer = pd.api.types.is_integer_dtype(b[value_col])
        dtype = "Int64" if integer else "float64"
        vals = b[value_col].astype(dtype)
        run = vals.groupby(codes, sort=False).cummax()
        run = run.groupby(codes, sort=False).ffill()
        prior = run.groupby(codes, sort=False).shift(1)
        seed = pd.Series(
            pd.array([carry.get(k) for k in keys], dtype=dtype).take(codes),
            index=b.index,
        )
        loc = vals.notna() & (prior.isna() | (vals > prior)) & (
            seed.isna() | (vals > seed)
        )
        # cross-batch carry: fold this batch's per-key max into it.
        # NaN never enters the carry (ADVICE r11): an all-NaN key batch
        # would store NaN, making seed.isna() true for later batches and
        # flagging non-records; skipping it keeps the fold's "no prior
        # finite value" semantics identical to the window form, where
        # max() ignores NULL/NaN.
        for code, m in vals.groupby(codes, sort=False).max().items():
            prev = carry.get(keys[code])
            if pd.notna(m) and (prev is None or m > prev):
                carry[keys[code]] = m
        return loc.to_numpy(dtype=bool, na_value=False)

    def finish(local, off, tot):
        # a row beaten locally is beaten globally (its local predecessor
        # is earlier in the total order), so only local records can win
        return [local & (off.isNull() | (F.col(value_col) > off))]

    # Spark's max() orders NaN above every number: the fold skips it, as
    # the batch carry does, so a NaN never becomes a later range's offset
    v = F.col(value_col)
    part = F.when(~F.isnan(v), v) if floating else v
    return step, "boolean", F.max, part, finish


def global_exact_rank(
    df: DataFrame,
    order_cols: "list[Column | str]",
    *,
    parts: int = 16,
    rank_col: str = "rnk",
    total_col: str = "n",
) -> DataFrame:
    """Return ``df`` with two added bigint columns: ``rank_col`` — the
    exact 1-based global rank under ``order_cols`` — and ``total_col``
    — the frame's total row count.

    ``order_cols`` accepts strings or Column sort expressions
    (``F.col("x").desc()``); together they must be a TOTAL order (add a
    unique tie-break key — ties split across range partitions would
    otherwise make ranks depend on partitioning).

    The result is ``localCheckpoint``-ed: the rank assignment is a
    phase boundary (counts and the offset join both reuse it), and the
    checkpoint pins rank determinism for downstream self-joins.
    """
    return _range_scan(
        "global_exact_rank", df, [], order_cols, parts,
        {"total_col": total_col, "rank_col": rank_col}, _sum_monoid(),
    )


def global_prefix_sum(
    df: DataFrame,
    order_cols: "list[Column | str]",
    value_col: str,
    *,
    parts: int = 16,
    cum_col: str = "cum",
    total_col: str = "total",
) -> DataFrame:
    """Return ``df`` with two added bigint columns: ``cum_col`` — the
    exact INCLUSIVE global running sum of ``value_col`` under
    ``order_cols`` — and ``total_col`` — the grand total.  The
    prefix-sum sibling of ``global_exact_rank`` (round-10, from the
    grouped-window audit): a partition-less
    ``sum(v) OVER (ORDER BY ...)`` single-tasks its whole input frame,
    which is wrong whenever that frame scales (cumulative revenue over a
    PART dimension that grows with SF — the `abc_inventory_classification`
    shape); this runs the identical range scan with the value as each
    row's increment.

    ``value_col`` must be a non-null integer column: a NULL fails the
    call with the scan's ``ValueError`` naming it (which Spark surfaces
    as a ``PythonException``).
    ``order_cols`` must be a TOTAL order (unique tie-break), for the
    same rank-determinism reason as ``global_exact_rank``."""
    return _range_scan(
        "global_prefix_sum", df, [], order_cols, parts,
        {"total_col": total_col, "cum_col": cum_col}, _sum_monoid(value_col),
    )


def keyed_exact_rank(
    df: DataFrame,
    key_cols: "list[str]",
    order_cols: "list[Column | str]",
    *,
    parts: int = 16,
    rank_col: str = "rnk",
    total_col: str = "n",
    small_bytes: "int | None" = None,
    size_probe: "DataFrame | None" = None,
) -> DataFrame:
    """Return ``df`` with two added bigint columns: ``rank_col`` — the
    exact 1-based rank WITHIN each ``key_cols`` group under
    ``order_cols`` — and ``total_col`` — the group's row count.  The
    keyed sibling of ``global_exact_rank`` (round-12, from the
    partitioned-subgrain-window audit): ``row_number() OVER (PARTITION
    BY key ORDER BY ...)`` single-tasks each KEY's whole frame, which is
    wrong whenever the key domain is tiny while per-key frames scale
    (the weekly-leaderboard shape: 52 weeks x millions of users = 52
    tasks each sorting millions).  This is the range scan over (key,
    order).  A null key is one group on both sides of the size gate.

    ``order_cols`` must start with the key columns and be a TOTAL order
    within each key (unique tie-break), for the same rank-determinism
    reason as ``global_exact_rank``.

    Intended for PROVABLY-TINY key domains (weeks, types, status codes):
    the offset frame it broadcasts is (partitions x keys) rows.  A
    wide/id-grain partition key does not need this operator — its native
    window already parallelizes across keys.

    SIZE GATE (optimization r13): when Catalyst's estimate of the input
    is at most ``small_bytes`` (default ``KEYED_RANK_SMALL_BYTES``),
    the native per-key window runs instead — identical rows, none of the
    two-phase fixed costs (Arrow boundary, eager checkpoint, offset
    join).  Pass ``small_bytes=-1`` to force the two-phase path (the
    parity query/tests do, to keep exercising it at fixture scale)."""
    outputs = {"total_col": total_col, "rank_col": rank_col}
    _check_clash("keyed_exact_rank", df, outputs)
    # Size gate (optimization r13): when Catalyst estimates the WHOLE
    # input under KEYED_RANK_SMALL_BYTES, the per-key frames cannot be
    # large enough to justify the two-phase machinery — use the native
    # window (same rank/total values by definition; same column order as
    # the range scan's output).  An unavailable estimate takes the
    # scale path: wrong-direction failure is a slow small job, never a
    # single-task sort of a 100 TB key.
    gate = KEYED_RANK_SMALL_BYTES if small_bytes is None else small_bytes
    # ``size_probe``: a frame whose optimizer estimate PROXIES the input
    # scale (e.g. the base-table scan feeding ``df``).  Needed when
    # ``df``'s own lineage crosses an eagerly-checkpointed/opaque subtree
    # whose statistics degrade to the unknown-size sentinel (~Long.Max),
    # which would otherwise pin the scale path at every SF.
    est = _plan_size_bytes(df if size_probe is None else size_probe)
    if est is not None and est <= gate:
        cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
        others = [c for c in df.columns if c not in set(key_cols)]
        return (
            df.withColumn(
                total_col,
                F.count("*")
                .over(Window.partitionBy(*key_cols))
                .cast("bigint"),
            )
            .withColumn(
                rank_col,
                F.row_number()
                .over(Window.partitionBy(*key_cols).orderBy(*cols))
                .cast("bigint"),
            )
            .select(*key_cols, *others, total_col, rank_col)
        )
    return _range_scan(
        "keyed_exact_rank", df, key_cols, order_cols, parts, outputs,
        _sum_monoid(),
    )


def keyed_record_scan(
    df: DataFrame,
    key_cols: "list[str]",
    order_cols: "list[Column | str]",
    value_col: str,
    *,
    parts: int = 16,
    record_col: str = "is_record",
) -> DataFrame:
    """Mark, per key, every row whose ``value_col`` STRICTLY exceeds all
    prior values under ``order_cols`` (the extreme-value 'record
    process') — without ever single-tasking a key's full history.

    The naive form is ``v > max(v) OVER (PARTITION BY key ORDER BY ...
    ROWS ... 1 PRECEDING)``: one task per key sorts that key's entire
    timeline, which at 100 TB with few keys is the round-8 weak class in
    per-key clothing.  This is the range scan with strict max as the
    monoid instead: each range flags LOCAL records against its own
    running max per key, and a global record is a local record whose
    value strictly exceeds the max of the key's earlier ranges.  A null
    value is never a record; a null key is one group.

    ``order_cols`` must start with the key columns and be a TOTAL order.
    Returns ``df`` plus the boolean ``record_col``."""
    return _range_scan(
        "keyed_record_scan", df, key_cols, order_cols, parts,
        {"record_col": record_col},
        _record_monoid(value_col, isinstance(
            df.schema[value_col].dataType, (T.DoubleType, T.FloatType)
        )),
    )


def ntile_from_rank(
    k: int, *, rank_col: str = "rnk", total_col: str = "n"
) -> Column:
    """SQL-standard ``ntile(k)`` bin (1-based) from an exact global rank
    and frame total — pure bigint arithmetic, no window: the first
    ``n % k`` buckets hold ``n DIV k + 1`` rows, the rest ``n DIV k``
    (floor distribution; both Spark and DuckDB implement exactly this).

    The CASE's else-branch divides by ``n DIV k``; when that is 0
    (n < k) the when-branch covers every row (``rem*(q+1) = n``), and
    CASE evaluates lazily per row, so no divide-by-zero is reachable.
    """
    r, n = rank_col, total_col
    q = f"({n} DIV {k})"
    rem = f"({n} % {k})"
    big = f"({rem} * ({q} + 1))"
    return F.expr(
        f"CASE WHEN {r} <= {big} THEN ({r} - 1) DIV ({q} + 1) + 1 "
        f"ELSE {rem} + ({r} - {big} - 1) DIV {q} + 1 END"
    ).cast("bigint")
