"""Change-data-capture table maintenance: SCD2 merge.

Complements ``streaming/sinks.py``'s foreachBatch upsert (SCD1 — overwrite
in place) with the type-2 slowly-changing dimension: every change CLOSES
the current version (stamps ``valid_to``) and INSERTS a new open version,
so any historical point-in-time join (`AS OF`) remains answerable — the
lineage-preserving shape training-data pipelines need when labels or
metadata get revised after examples were already consumed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def scd2_merge(
    current: DataFrame,
    updates: DataFrame,
    *,
    keys: list[str],
    tracked: list[str],
    ts_col: str,
    start_col: str = "valid_from",
    end_col: str = "valid_to",
) -> DataFrame:
    """Merge ``updates`` (key cols + tracked cols + ``ts_col``) into the
    SCD2 ``current`` table (key + tracked + ``start_col`` + ``end_col``
    where open rows have NULL ``end_col``).

    Semantics per update row:
    - key unseen            -> new open version
    - tracked values equal  -> no-op (idempotent re-delivery safe)
    - tracked values differ -> close the open row at update ts, add new
      open version

    Keys match null-safe: a NULL key is one key like any other, so its
    re-delivered unchanged row is a no-op too.

    One shuffle on the keys; closed history rows pass through untouched
    (at 100 TB: partition the table by open/closed so the closed majority
    is not even rewritten — the merge only rewrites the open partition).
    ``updates`` must carry one row per key (pre-aggregate with
    ``latest_event_per_user``-style ranked dedup otherwise).
    """
    upd = updates.select(
        *[F.col(k).alias(f"_uk_{k}") for k in keys],
        *[F.col(c).alias(f"_u_{c}") for c in tracked],
        F.col(ts_col).alias("_u_ts"),
    )
    open_rows = current.filter(F.col(end_col).isNull())
    closed_rows = current.filter(F.col(end_col).isNotNull())

    # ``<=>`` matches a NULL key with itself and keeps this an equi-join;
    # a plain key join would make a re-delivered NULL-key row a second
    # open version.
    on = [F.col(k).eqNullSafe(F.col(f"_uk_{k}")) for k in keys]
    joined = open_rows.join(upd, on, "full_outer")
    key_cols = [F.coalesce(F.col(k), F.col(f"_uk_{k}")).alias(k) for k in keys]
    # Any tracked column differing (null-safe) marks the row as changed.
    diff = None
    for c in tracked:
        d = ~F.col(c).eqNullSafe(F.col(f"_u_{c}"))
        diff = d if diff is None else (diff | d)

    has_open = F.col(start_col).isNotNull()
    has_upd = F.col("_u_ts").isNotNull()

    # ONE pass over the joined frame instead of four filtered union
    # branches (optimization r12, guide §2.4): each joined row projects
    # to an array of its 1-2 output versions — untouched/unchanged open
    # rows keep their version, a changed key yields [closed-out version,
    # new open version], a brand-new key yields [new open version] — and
    # one explode emits them.  The old shape evaluated the full-outer
    # join once per branch (4 subtrees under the union); this evaluates
    # it once.  Row-for-row identical output.
    end_t = current.schema[end_col].dataType
    out_cols = tracked + [start_col, end_col]
    keep = F.struct(
        *[F.col(c).alias(c) for c in tracked],
        F.col(start_col).alias(start_col),
        F.lit(None).cast(end_t).alias(end_col),
    )
    closed_v = F.struct(
        *[F.col(c).alias(c) for c in tracked],
        F.col(start_col).alias(start_col),
        F.col("_u_ts").cast(end_t).alias(end_col),
    )
    new_v = F.struct(
        *[F.col(f"_u_{c}").alias(c) for c in tracked],
        F.col("_u_ts").alias(start_col),
        F.lit(None).cast(end_t).alias(end_col),
    )
    versions = (
        F.when(has_open & ~has_upd, F.array(keep))
        .when(has_open & has_upd & ~diff, F.array(keep))
        .when(has_open & has_upd & diff, F.array(closed_v, new_v))
        # Brand-new key PINNED to ~has_open & has_upd (ADVICE r12): a
        # degenerate full-outer row with NEITHER side (null ts_col in
        # updates, or an open row with null valid_from) must emit nothing
        # — the pre-r12 4-branch union dropped such rows, and a bare
        # otherwise() would emit an all-null version row for them.
        .when(~has_open & has_upd, F.array(new_v))
        .otherwise(F.slice(F.array(new_v), 1, 0))  # empty, same type
    )
    merged = (
        # explode_outer, not explode: the arrays are never empty, and
        # explode would pick up an inferred size(<case expr>) pre-filter
        # re-evaluating the whole projection per row (the
        # dedup._explode_shingles hazard).
        joined.select(*key_cols, F.explode_outer(versions).alias("_v"))
        # explode_outer turns the (degenerate-row-only) EMPTY array into
        # one null marker row — drop it.  Well-formed rows always carry a
        # non-null version struct, so nothing else matches this filter.
        .filter(F.col("_v").isNotNull())
        .select(*keys, *[F.col(f"_v.{c}").alias(c) for c in out_cols])
    )
    return closed_rows.unionByName(merged.select(*current.columns))
