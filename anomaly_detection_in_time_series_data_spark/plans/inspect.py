"""Plan predicates over the executed (post-AQE) physical plan string."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..operators.ranks import SCAN_PREFIX


def executed_plan(df: DataFrame) -> str:
    spark = df.sparkSession
    # Lift the metadata truncation so PushedFilters/ReadSchema are complete.
    before = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", before)


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


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
    return "BroadcastHashJoin" in executed_plan(df) or "BroadcastNestedLoopJoin" in executed_plan(df)


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in executed_plan(df)


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """House plan rule as code (SCALING.md round-4 notes): a
    partition-less ``Window`` moves its WHOLE input frame into one task
    (WindowExec warns exactly this), so it is only acceptable over a
    frame some upstream operator has already collapsed.

    Walks the OPTIMIZED LOGICAL plan and returns the ``simpleString`` of
    every Window with an empty partitionSpec whose input subtree contains
    no Aggregate and no Limit — i.e. a single-task sort of a
    scale-proportional frame.  Known limits, documented not solved: a
    grouped Aggregate below the window counts as collapsing even though
    some grouping keys are themselves scale-proportional (the round-8
    rfm shape) — reviewers still own cardinality reasoning; the gate
    mechanically kills the window-directly-over-the-fact-scan class.
    Subquery plans hanging off expressions are not traversed."""
    plan = df._jdf.queryExecution().optimizedPlan()

    def children(node):
        cs = node.children()
        return [cs.apply(i) for i in range(cs.size())]

    bounding = {"Aggregate", "GlobalLimit", "LocalLimit"}
    out: list[str] = []
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "Window" and node.partitionSpec().isEmpty():
            sub = children(node)
            bounded = False
            st = list(sub)
            while st:
                n = st.pop()
                if n.getClass().getSimpleName() in bounding:
                    bounded = True
                    break
                st.extend(children(n))
            if not bounded:
                out.append(node.simpleString(80))
        stack.extend(children(node))
    return out


def grouped_global_windows(df: DataFrame) -> list[tuple[str, list[str]]]:
    """AUDIT MODE for the documented blind spot of
    ``unbounded_global_windows`` (round-10, VERDICT r9 item 6): a
    partition-less Window whose subtree IS bounded by a grouped Aggregate
    passes the hard gate, yet the window's input cardinality is the
    Aggregate's GROUP COUNT — which is scale-proportional whenever a
    grouping key is an id-like grain (user_id, doc_id, l_orderkey, ...).

    This predicate does not judge; it SURFACES.  Returns one entry per
    partition-less Window bounded by a grouped (non-global) Aggregate:
    ``(window simpleString, [grouping expression strings])``.
    ``tools/plan_report.py`` sweeps the registry with it and emits a
    reviewed table in PLANS.md where every entry must carry a one-line
    cardinality justification — mechanizing the review the hard gate
    cannot do (cardinality reasoning needs the data model, not the plan).

    Windows bounded by a Limit or by a global (no-key) Aggregate are not
    reported: their input is constant-bounded by construction."""
    plan = df._jdf.queryExecution().optimizedPlan()

    def children(node):
        cs = node.children()
        return [cs.apply(i) for i in range(cs.size())]

    out: list[tuple[str, list[str]]] = []
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "Window" and node.partitionSpec().isEmpty():
            # breadth-first: the NEAREST bounding operator decides
            frontier = children(node)
            grouping: list[str] | None = None
            while frontier:
                nxt = []
                hit = None
                for n in frontier:
                    c = n.getClass().getSimpleName()
                    if c in ("GlobalLimit", "LocalLimit"):
                        hit = ("limit", None)
                        break
                    if c == "Aggregate":
                        ges = n.groupingExpressions()
                        keys = [
                            ges.apply(i).sql() for i in range(ges.size())
                        ]
                        hit = ("agg", keys)
                        break
                    nxt.extend(children(n))
                if hit:
                    kind, keys = hit
                    if kind == "agg" and keys:
                        grouping = keys
                    break
                frontier = nxt
            if grouping and not _is_rank_operator_internal(grouping):
                out.append((node.simpleString(120), grouping))
        stack.extend(children(node))
    return out


def partitioned_subgrain_windows(
    df: DataFrame,
) -> list[tuple[str, list[str], list[str]]]:
    """AUDIT MODE for the SECOND blind spot (VERDICT r11): a PARTITIONED
    Window escapes both the hard gate (it has a partitionSpec) and the
    grouped-window audit (which only reports partition-less windows) —
    yet when its partition keys are a PROPER SUBSET of the grouping keys
    of the Aggregate bounding it, each partition's frame is the RESIDUAL
    grain (all grouping keys not in the partition spec).  If the
    partition key is a provably-tiny domain (5 groups) while the
    residual grain is wide (a value grid), a handful of tasks each sort
    a wide frame — the `jonckheere_ordered_trend` shape
    (``Window.partitionBy(grp).orderBy(c)`` over an Aggregate grouped by
    ``(grp, c)``).

    This predicate does not judge; it SURFACES.  Returns one entry per
    such site: ``(window simpleString, [partition keys], [residual
    grouping keys])``.  ``tools/plan_report.py`` sweeps the registry and
    requires a one-line cardinality justification per site (why the
    residual grain is scale-bounded, or why the partition-key domain is
    wide enough to parallelize).

    Windows whose partition keys equal the WHOLE bounding grain are not
    reported (each partition holds O(1) rows); windows over
    un-aggregated scale-proportional frames with high-cardinality keys
    are the normal Spark idiom and are likewise out of scope (they are
    the shapes the house already accepts per key-cardinality reasoning
    at the query site)."""
    plan = df._jdf.queryExecution().optimizedPlan()

    def children(node):
        cs = node.children()
        return [cs.apply(i) for i in range(cs.size())]

    def norm(s: str) -> str:
        return s.replace("`", "").strip()

    def bounding_grain(node) -> list[str] | None:
        """The grain (list of grouping-key names) of the frame ``node``
        produces, or None when some leaf path reaches a raw scan —
        i.e. the frame is data-sized, not grain-sized.  A Join of
        bounded branches has the CONCATENATED grain (the frame is at
        most the product of branch grains — the dense-grid build);
        a Limit or global Aggregate is the constant grain []."""
        cls = node.getClass().getSimpleName()
        if cls == "Aggregate":
            ges = node.groupingExpressions()
            return [norm(ges.apply(i).sql()) for i in range(ges.size())]
        if cls in ("GlobalLimit", "LocalLimit"):
            return []
        ch = children(node)
        if not ch:
            return None  # raw relation / LogicalRDD leaf
        grains = [bounding_grain(c) for c in ch]
        if any(g is None for g in grains):
            return None
        merged: list[str] = []
        for g in grains:
            for k in g:  # type: ignore[union-attr]
                if k not in merged:
                    merged.append(k)
        return merged

    out: list[tuple[str, list[str], list[str]]] = []
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "Window" and not node.partitionSpec().isEmpty():
            ps = node.partitionSpec()
            part_keys = [norm(ps.apply(i).sql()) for i in range(ps.size())]
            grain = None
            for c in children(node):
                grain = bounding_grain(c)
            if grain is not None:
                residual = [g for g in grain if g not in set(part_keys)]
                # The two-phase rank operators' keyed offset windows are
                # partitioned by the CONSUMER's key with a residual of
                # the internal range-id/key-id columns — a frame bounded by
                # the operator's `parts` constant, excluded mechanically
                # like the partition-less twin in grouped_global_windows.
                if (
                    residual
                    and not _is_rank_operator_internal(part_keys)
                    and not _is_rank_operator_internal(residual)
                ):
                    out.append((node.simpleString(120), part_keys, residual))
        stack.extend(children(node))
    return out


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
