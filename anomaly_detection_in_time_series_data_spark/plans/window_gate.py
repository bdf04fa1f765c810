"""The window plan gate: every Window the three audits in ``inspect``
surface must be justified here, or the query fails.

``gate_query(name, build)`` builds a query and returns its frame with
its unjustified sites; ``tools/check_oracle.py`` (and so
``tools/preflight.py``) and ``tests/test_queries_oracle.py`` run it on
every query they check, with checkpoints see-through, so a site behind a
``localCheckpoint`` (an opaque LogicalRDD leaf in the optimized plan) is
gated too.

- A partition-less Window over an uncollapsed frame (the hard gate)
  always fails: rewrite it onto ``operators/ranks.py``.
- A partition-less Window bounded by a GROUPED Aggregate needs an entry
  in ``WINDOW_AUDIT_JUSTIFICATIONS``, keyed by (query, grouping keys):
  why the group count is scale-bounded (grain arithmetic).
- A partitioned Window over a sub-grain of its bounding Aggregate needs
  an entry in ``SUBGRAIN_WINDOW_AUDIT_JUSTIFICATIONS``, keyed by (query,
  partition keys): why the residual grain is scale-bounded or the
  partition key parallelizes.  Sites whose every partition key is in
  ``WIDE_PARTITION_KEYS`` need no entry.

Keys are joined with ", " as the gate's messages print them.
``stale_justifications`` names entries no site used on a full sweep, so
the tables cannot outlive the plans they justify.
"""

from __future__ import annotations

import sys
from typing import Callable, Mapping

from pyspark.sql import DataFrame

from ..operators import ranks
from .inspect import _window_sites, see_through_checkpoints

# Partition-less Windows bounded by a GROUPED Aggregate
# (inspect.grouped_global_windows): the hard gate treats any Aggregate as
# collapsing, even when its grouping keys scale with the data.  Values
# state why the bounding Aggregate's GROUP COUNT is scale-bounded.
WINDOW_AUDIT_JUSTIFICATIONS: dict[tuple[str, str], str] = {
    # Fixed-cardinality grains (constant regardless of SF):
    ("hits_micro", "event_type"): "event_type grain — 5 values; the hub/authority iteration frame is node-count-sized",
    ("benford_first_digit_audit", "digit"): "digit grain — exactly 9 rows enter the window",
    ("orthant_balance_audit", "orthant"): "orthant grain — 2^sign_bits buckets, a fixed sketch parameter",
    ("source_mixture_plan", "lang"): "lang grain — 5 language classes",
    ("snake_sharding_plan", "shard"): "shard grain — the shard count is a fixed plan parameter",
    ("isotonic_calibration_pav", "bin"): "score-bin grain — fixed bin count from the binning step",
    ("vocab_growth_curve", "decile"): "decile grain — 10 rows enter the window",
    ("lorenz_gini_deciles", "decile"): "decile grain — 10 rows",
    ("cumulative_gains_deciles", "decile"): "decile grain — 10 rows",
    ("qini_uplift_deciles", "decile"): "decile grain — 10 rows (user-grain ntile itself rides global_exact_rank)",
    # Calendar/time grains (grow with timespan, not data volume):
    ("topk_membership_churn", "week_us"): "week grain — one row per calendar week; state O(weeks), not O(rows)",
    ("hourly_acf_lags", "_groupingexpression"): "hour-of-day grain — <=24 groups",
    ("slo_burn_rate_alerts", "_groupingexpression"): "alert-window time buckets — calendar-bounded",
    ("kaplan_meier_components", "t"): "duration-day grain — bounded by the corpus horizon in days",
    # Domain-bounded value grains (bounded by the value domain, not rows):
    ("roc_auc_exact", "_groupingexpression"): "score grain — distinct cent values bounded by the value domain, constant wrt SF",
    ("wasserstein_value_drift", "v"): "distinct-cent grain of the global CDF — bounded by the cent-quantized value domain, constant wrt SF",
    ("skyline_parts_pareto", "price_cents"): "distinct-price frontier — bounded by the price domain in cents, constant wrt SF",
    # Construction-bounded grains:
    ("recs_coverage_popularity", "nid"): "recommended-item grain — at most probes x k (= 250) rows by construction",
}

# PARTITIONED Windows whose partition keys are a proper subset of the
# bounding grain (inspect.partitioned_subgrain_windows): a tiny-domain
# partition key over a wide residual frame concentrates the sort in a
# handful of tasks.  Values state either why the residual grain is
# scale-bounded or why the partition key parallelizes adequately.
SUBGRAIN_WINDOW_AUDIT_JUSTIFICATIONS: dict[tuple[str, str], str] = {
    # Calendar residual (frame grows with timespan, not data volume):
    ("best_burst_window", "event_type"): "event_type grain (5) x day residual — calendar-bounded frame",
    ("delivery_completeness_audit", "event_type, missing"): "(event_type, missing-flag) x day residual — calendar-bounded",
    ("detector_pr_vs_ensemble", "event_type"): "event_type (5) x day residual — calendar-bounded",
    ("detector_threshold_sweep", "event_type"): "event_type (5) x day residual — calendar-bounded",
    ("event_rate_changepoint", "event_type"): "event_type (5) x hour residual — calendar-bounded",
    ("haar_wavelet_energy", "event_type"): "event_type (5) x day residual — calendar-bounded (ladder halves it further)",
    ("linear_interp_gap_fill", "event_type"): "event_type (5) x hour residual — calendar-bounded",
    ("mase_forecast_eval", "event_type"): "event_type (5) x hour residual — calendar-bounded",
    ("newsvendor_quantile_order", "event_type"): "event_type (5) x day residual — calendar-bounded",
    ("ols_leverage_influence", "event_type"): "event_type (5) x hour residual — calendar-bounded",
    ("record_breaking_days", "event_type"): "event_type (5) x day residual — calendar-bounded",
    ("resample_gap_fill", "event_type"): "event_type (5) x time-bucket residual — calendar-bounded",
    ("rolling_ols_slope", "event_type"): "event_type (5) x hour residual — calendar-bounded",
    ("runs_test_randomness", "event_type"): "event_type (5) x day residual — calendar-bounded",
    ("seasonal_dow_profile", "event_type"): "event_type (5) x day residual — calendar-bounded",
    ("stl_lite_decomposition", "event_type"): "event_type (5) x day residual — calendar-bounded",
    ("spc_control_chart_rules", "event_type"): "event_type (5) x day residual — calendar-bounded",
    ("spc_control_chart_rules", "event_type, side"): "event_type x side flag x day residual — calendar-bounded",
    ("spc_control_chart_rules", "event_type, side, grp"): "event_type x side flag x run id x day residual — calendar-bounded",
    ("lttb_downsample_lite", "bucket"): "time-bucket partition (calendar-bounded) x hour sub-grain residual",
    ("ltv_cohort_curve", "cohort_week"): "cohort_week x age_week — both calendar grains",
    ("rolling_wau_bitmap", "bucket"): "fixed user-hash bucket partition x day residual — days-sized frame per bucket",
    # Domain-bounded value-grid residual (cents/count quantization):
    ("boxplot_components", "event_type"): "event_type (5) x cents grid — domain-bounded by value quantization",
    ("brown_forsythe_components", "event_type"): "event_type (5) x doubled-median cents grid — domain-bounded",
    ("median_imputation_audit", "event_type"): "event_type (5) x cents grid — domain-bounded",
    ("ks_value_drift", "event_type"): "event_type (5) x value grid — domain-bounded",
    ("mann_whitney_drift", "event_type"): "event_type (5) x value grid — domain-bounded",
    ("wasserstein_value_drift", "event_type"): "event_type (5) x distinct-cent grid — bounded by the cent-quantized value domain, constant wrt SF",
    ("jonckheere_ordered_trend", "grp"): "5 ordered priority groups x domain-bounded cents grid (the roc_auc_exact class)",
    ("user_activity_gini", "event_type"): "event_type (5) x per-user activity-count grid — grid bounded by the count domain, not user count",
    # Enum residual (k x k constant grids):
    ("lang_confusion_matrix", "label"): "label partitions over the 5x5 language confusion grid — constant frame",
    ("lang_confusion_matrix", "pred"): "pred partitions over the 5x5 language confusion grid — constant frame",
    ("lead_lag_correlation", "type_a, type_b"): "type-pair partitions (25) x bounded lag grid",
    ("markov_backtest_accuracy", "event_type"): "event_type x next-type enum — k x k frame",
    ("next_event_entropy", "event_type"): "event_type x next-type enum — k x k frame",
    ("modal_priority_by_status", "o_orderstatus"): "order status (3) x priority (5) constant grid; top-1 filter also rides WindowGroupLimit",
    # Top-k rank filters (WindowGroupLimit prunes map-side to k rows per
    # key before the sort — pinned in test_plans.py):
    ("gaussian_nll_anomalies", "label"): "top-N-per-label rank filter rides WindowGroupLimit — map-side partial top-k, per-label frame never materializes",
    ("topk_membership_churn", "week_us"): "weekly top-10 filter rides WindowGroupLimit — 10-row state per week per mapper",
    # Size-gated native windows (operators/ranks.py:keyed_exact_rank):
    ("borda_rank_aggregation", "wk"): "week x user frame, taken only while the input is under KEYED_RANK_SMALL_BYTES — above it the two-phase rank leaves no such window",
    ("gmm_anomaly_scores", "cid"): "cluster x vector frame, taken only while the input is under KEYED_RANK_SMALL_BYTES — above it the two-phase rank leaves no such window",
}

# Partition keys that are id-grain / arbitrary-cardinality: the window
# parallelizes across keys natively, so a subgrain residual is the
# NORMAL per-entity frame (terms per doc, days per user), not a
# concentration hazard.  Sites whose every partition key is in this set
# need no entry.
WIDE_PARTITION_KEYS = {
    "doc_id",
    "user_id",
    "probe_id",
    "canon",
    "node",
    "l_orderkey",
}

_TABLES = {
    "WINDOW_AUDIT_JUSTIFICATIONS": WINDOW_AUDIT_JUSTIFICATIONS,
    "SUBGRAIN_WINDOW_AUDIT_JUSTIFICATIONS": SUBGRAIN_WINDOW_AUDIT_JUSTIFICATIONS,
}

Seen = set[tuple[str, tuple[str, str]]]


def unjustified_windows(
    name: str, df: DataFrame, seen: Seen | None = None
) -> list[str]:
    """The window sites of query ``name``'s built frame ``df`` that no
    table above justifies, one message each; empty means the plan
    passes.  One walk of the optimized plan, which sees behind a
    checkpoint only inside ``see_through_checkpoints`` (as
    ``gate_query`` calls it).  When ``seen`` is given,
    each ``(table, entry key)`` a site used is added to it, for
    ``stale_justifications``."""
    sites = _window_sites(df)
    out = [
        f"partition-less Window over an uncollapsed frame: {w}"
        for w in sites.unbounded
    ]

    def check(table: str, keys: list[str], msg: str) -> None:
        entry = (name, ", ".join(keys))
        if entry in _TABLES[table]:
            if seen is not None:
                seen.add((table, entry))
        else:
            out.append(f"{msg} with no entry {entry} in {table}")

    for w, keys in sites.grouped:
        check(
            "WINDOW_AUDIT_JUSTIFICATIONS",
            keys,
            f"partition-less Window over a grouped Aggregate: {w}",
        )
    for w, pk, res in sites.subgrain:
        if not all(k in WIDE_PARTITION_KEYS for k in pk):
            check(
                "SUBGRAIN_WINDOW_AUDIT_JUSTIFICATIONS",
                pk,
                f"Window over residual grain ({', '.join(res)}): {w}",
            )
    return out


def gate_query(
    name: str, build: Callable[[], DataFrame], seen: Seen | None = None
) -> tuple[DataFrame, list[str]]:
    """Build query ``name`` with ``build()`` under
    ``see_through_checkpoints`` and return the frame with its
    ``unjustified_windows``, so a site behind a localCheckpoint is gated
    like any other."""
    with see_through_checkpoints():
        df = build()
        return df, unjustified_windows(name, df, seen)


def stale_justifications(
    seen: Seen, builders: Mapping[str, Callable[[], DataFrame]]
) -> list[str]:
    """Table entries that no site used in a sweep that filled ``seen``
    over the whole registry.  ``builders`` maps query name to its build.
    Before an entry is called stale its query is gated once more with
    ``keyed_exact_rank``'s size gate on its small (native window) side,
    so a site that only exists below ``KEYED_RANK_SMALL_BYTES`` is not
    stale on a larger tier."""
    old = ranks.KEYED_RANK_SMALL_BYTES
    ranks.KEYED_RANK_SMALL_BYTES = sys.maxsize
    try:
        for name in sorted({entry[0] for _t, entry in _unseen(seen)}):
            if name in builders:
                gate_query(name, builders[name], seen)
    finally:
        ranks.KEYED_RANK_SMALL_BYTES = old
    return [
        f"{table}[{entry!r}]: the query shows no such window site"
        for table, entry in _unseen(seen)
    ]


def _unseen(seen: Seen) -> list[tuple[str, tuple[str, str]]]:
    return [
        (table, entry)
        for table, entries in _TABLES.items()
        for entry in entries
        if (table, entry) not in seen
    ]
