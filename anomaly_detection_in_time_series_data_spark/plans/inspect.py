"""Plan predicates over the executed (post-AQE) physical plan string."""

from __future__ import annotations

import re
from contextlib import contextmanager
from typing import Iterator, NamedTuple

from pyspark.sql import DataFrame

from ..operators.ranks import SCAN_PREFIX
from ..session import scoped_conf


def executed_plan(df: DataFrame) -> str:
    # Lift the metadata truncation so PushedFilters/ReadSchema are complete.
    with scoped_conf(df.sparkSession, {"spark.sql.maxMetadataStringLength": 10000}):
        return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if a data filter containing ``fragment`` reached the scan
    (`PushedFilters: [...]` in the FileScan node)."""
    plan = executed_plan(df)
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if fragment in m.group(1):
            return True
    return False


def has_partition_filter(df: DataFrame, fragment: str) -> bool:
    plan = executed_plan(df)
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", plan):
        if fragment in m.group(1):
            return True
    return False


def read_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (ReadSchema of each FileScan)."""
    plan = executed_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for part in m.group(1).split(","):
            name = part.split(":", 1)[0].strip()
            if name:
                cols.append(name)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    plan = executed_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in executed_plan(df)


class WindowSites(NamedTuple):
    """Every Window of one optimized plan, sorted into the three audits."""

    unbounded: list[str]
    grouped: list[tuple[str, list[str]]]
    subgrain: list[tuple[str, list[str], list[str]]]


# RDD id of a checkpoint's LogicalRDD leaf -> the optimized plan it
# replaced; filled only inside ``see_through_checkpoints``.
_CHECKPOINTED: dict[int, object] = {}


def _children(node) -> list:
    if _CHECKPOINTED and node.getClass().getSimpleName() == "LogicalRDD":
        plan = _CHECKPOINTED.get(node.rdd().id())
        return [] if plan is None else [plan]
    cs = node.children()
    return [cs.apply(i) for i in range(cs.size())]


@contextmanager
def see_through_checkpoints() -> Iterator[None]:
    """While the block runs, every ``localCheckpoint`` records the
    optimized plan of the frame it checkpoints, and the window predicates
    below walk a LogicalRDD leaf made by one of them as that plan.  So a
    Window behind a checkpoint (an opaque leaf in the optimized plan)
    stays visible, while the build still runs its real checkpoints:
    nothing is built twice and the lineage stays cut."""
    import pyspark.sql.classic.dataframe as _cd

    orig = _cd.DataFrame.localCheckpoint

    def local_checkpoint(self, *args, **kwargs):
        plan = self._jdf.queryExecution().optimizedPlan()
        out = orig(self, *args, **kwargs)
        _CHECKPOINTED[out._jdf.queryExecution().logical().rdd().id()] = plan
        return out

    _cd.DataFrame.localCheckpoint = local_checkpoint
    try:
        yield
    finally:
        _cd.DataFrame.localCheckpoint = orig
        _CHECKPOINTED.clear()


def _norm(s: str) -> str:
    return s.replace("`", "").strip()


def _nearest_bound(node) -> list[str] | None:
    """The grouping-expression strings of the bounding operator nearest
    below ``node``, breadth-first ([] for a Limit or a global
    Aggregate), or None when no Aggregate or Limit lies anywhere in the
    subtree."""
    frontier = _children(node)
    while frontier:
        nxt = []
        for n in frontier:
            c = n.getClass().getSimpleName()
            if c in ("GlobalLimit", "LocalLimit"):
                return []
            if c == "Aggregate":
                ges = n.groupingExpressions()
                return [ges.apply(i).sql() for i in range(ges.size())]
            nxt.extend(_children(n))
        frontier = nxt
    return None


def _bounding_grain(node) -> list[str] | None:
    """The grain (list of grouping-key names) of the frame ``node``
    produces, or None when some leaf path reaches a raw scan — i.e. the
    frame is data-sized, not grain-sized.  A Join of bounded branches
    has the CONCATENATED grain (the frame is at most the product of
    branch grains — the dense-grid build); a Limit or global Aggregate
    is the constant grain []."""
    cls = node.getClass().getSimpleName()
    if cls == "Aggregate":
        ges = node.groupingExpressions()
        return [_norm(ges.apply(i).sql()) for i in range(ges.size())]
    if cls in ("GlobalLimit", "LocalLimit"):
        return []
    ch = _children(node)
    if not ch:
        return None  # raw relation / opaque LogicalRDD leaf
    grains = [_bounding_grain(c) for c in ch]
    if any(g is None for g in grains):
        return None
    merged: list[str] = []
    for g in grains:
        for k in g:  # type: ignore[union-attr]
            if k not in merged:
                merged.append(k)
    return merged


def _window_sites(df: DataFrame) -> WindowSites:
    """One depth-first walk of the OPTIMIZED LOGICAL plan that sorts
    every Window into the three audits below.  Subquery plans hanging
    off expressions are not traversed."""
    sites = WindowSites([], [], [])
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "Window":
            if node.partitionSpec().isEmpty():
                keys = _nearest_bound(node)
                if keys is None:
                    sites.unbounded.append(node.simpleString(80))
                elif keys and not _is_rank_operator_internal(keys):
                    sites.grouped.append((node.simpleString(120), keys))
            else:
                ps = node.partitionSpec()
                part_keys = [_norm(ps.apply(i).sql()) for i in range(ps.size())]
                grain = _bounding_grain(_children(node)[-1])
                if grain is not None:
                    residual = [g for g in grain if g not in set(part_keys)]
                    # The two-phase rank operators' keyed offset windows
                    # are partitioned by the CONSUMER's key with a residual
                    # of the internal range-id/key-id columns — a frame
                    # bounded by the operator's `parts` constant, excluded
                    # mechanically like the partition-less twin above.
                    if (
                        residual
                        and not _is_rank_operator_internal(part_keys)
                        and not _is_rank_operator_internal(residual)
                    ):
                        sites.subgrain.append(
                            (node.simpleString(120), part_keys, residual)
                        )
        stack.extend(_children(node))
    return sites


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """House plan rule as code (SCALING.md round-4 notes): a
    partition-less ``Window`` moves its WHOLE input frame into one task
    (WindowExec warns exactly this), so it is only acceptable over a
    frame some upstream operator has already collapsed.

    Returns the ``simpleString`` of every Window with an empty
    partitionSpec whose input subtree contains no Aggregate and no
    Limit — i.e. a single-task sort of a scale-proportional frame.  A
    grouped Aggregate below the window counts as collapsing even though
    some grouping keys are themselves scale-proportional (the round-8
    rfm shape); ``grouped_global_windows`` surfaces exactly those sites
    for ``window_gate`` to hold against a reviewed justification."""
    return _window_sites(df).unbounded


def grouped_global_windows(df: DataFrame) -> list[tuple[str, list[str]]]:
    """AUDIT MODE for the blind spot of ``unbounded_global_windows``: a
    partition-less Window whose subtree IS bounded by a grouped Aggregate
    passes the hard gate, yet the window's input cardinality is the
    Aggregate's GROUP COUNT — which is scale-proportional whenever a
    grouping key is an id-like grain (user_id, doc_id, l_orderkey, ...).

    This predicate does not judge; it SURFACES.  Returns one entry per
    partition-less Window whose NEAREST bounding operator is a grouped
    (non-global) Aggregate: ``(window simpleString, [grouping expression
    strings])``.  ``window_gate.unjustified_windows`` fails every such
    site that has no one-line cardinality justification, keyed by query
    and grouping keys, in ``window_gate.WINDOW_AUDIT_JUSTIFICATIONS``
    (cardinality reasoning needs the data model, not the plan).

    Windows bounded by a Limit or by a global (no-key) Aggregate are not
    reported: their input is constant-bounded by construction."""
    return _window_sites(df).grouped


def partitioned_subgrain_windows(
    df: DataFrame,
) -> list[tuple[str, list[str], list[str]]]:
    """AUDIT MODE for the SECOND blind spot: a PARTITIONED Window escapes
    both the hard gate (it has a partitionSpec) and the grouped-window
    audit (which only reports partition-less windows) — yet when its
    partition keys are a PROPER SUBSET of the grouping keys of the
    Aggregate bounding it, each partition's frame is the RESIDUAL grain
    (all grouping keys not in the partition spec).  If the partition key
    is a provably-tiny domain (5 groups) while the residual grain is wide
    (a value grid), a handful of tasks each sort a wide frame — the
    `jonckheere_ordered_trend` shape (``Window.partitionBy(grp).orderBy(c)``
    over an Aggregate grouped by ``(grp, c)``).

    This predicate does not judge; it SURFACES.  Returns one entry per
    such site: ``(window simpleString, [partition keys], [residual
    grouping keys])``.  ``window_gate.unjustified_windows`` fails every
    such site unless it has a one-line justification, keyed by query and
    partition keys, in
    ``window_gate.SUBGRAIN_WINDOW_AUDIT_JUSTIFICATIONS`` (why the
    residual grain is scale-bounded, or why the partition-key domain is
    wide enough to parallelize) or every partition key is an id grain
    (``window_gate.WIDE_PARTITION_KEYS``).

    Windows whose partition keys equal the WHOLE bounding grain are not
    reported (each partition holds O(1) rows); windows over
    un-aggregated scale-proportional frames with high-cardinality keys
    are the normal Spark idiom and are likewise out of scope (they are
    the shapes the house already accepts per key-cardinality reasoning
    at the query site)."""
    return _window_sites(df).subgrain


def _is_rank_operator_internal(grouping: list[str]) -> bool:
    """The two-phase rank/prefix-sum/record operators
    (`operators/ranks.py`) contain, BY DESIGN, offset windows over an
    Aggregate grouped by their internal range-id and key-id columns
    (named with ``ranks.SCAN_PREFIX``) — a frame
    bounded by the operator's ``parts`` constant (<=16 rows per key),
    never by data.  Those sites are provably bounded, so the audits
    exclude them mechanically instead of asking for a per-consumer
    justification."""
    return all(g.strip("`").startswith(SCAN_PREFIX) for g in grouping)


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans (fewer = wider fused pipelines).
    The executed-plan string marks codegen'd operators ``*(n)``."""
    plan = executed_plan(df)
    ids = set(re.findall(r"\*\((\d+)\)", plan))
    ids.update(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
    return len(ids)
