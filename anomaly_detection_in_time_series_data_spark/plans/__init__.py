"""Physical-plan introspection helpers (SURVEY.md §4).

The engine's optimizer is Catalyst; our job is to *verify* the plans it
produces are the ones we want at scale — filters reaching the parquet scan,
small dims broadcast, top-k as TakeOrderedAndProject, wide codegen spans —
and to fail tests when a code change regresses them.  ``window_gate`` holds
every Window site the audits surface against a reviewed justification.
"""

from .inspect import (
    executed_plan,
    grouped_global_windows,
    has_broadcast_join,
    has_partition_filter,
    has_pushed_filter,
    has_take_ordered,
    partitioned_subgrain_windows,
    read_columns,
    see_through_checkpoints,
    unbounded_global_windows,
    whole_stage_codegen_spans,
)
from .window_gate import (
    gate_query,
    stale_justifications,
    unjustified_windows,
)

__all__ = [
    "executed_plan",
    "gate_query",
    "grouped_global_windows",
    "has_broadcast_join",
    "has_partition_filter",
    "has_pushed_filter",
    "has_take_ordered",
    "partitioned_subgrain_windows",
    "read_columns",
    "see_through_checkpoints",
    "stale_justifications",
    "unbounded_global_windows",
    "unjustified_windows",
    "whole_stage_codegen_spans",
]
