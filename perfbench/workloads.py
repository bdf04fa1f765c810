"""The benchmark's workloads: named lists of registry queries.

Each workload stresses a different layer of the engine (see README.md for
the reasoning and for the queries left out to keep a run inside its time
budget). A pass runs every query of the workload once, in an order the
seed permutes.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    # The flagship windowed detectors over `events`, mostly Python workers.
    "anomaly_ts": [
        "flagship_anomaly_zscore",
        "hampel_filter_anomaly",
        "weekly_shape_discords",
    ],
    # An availableNow stream folding each trigger into an on-disk store.
    "stream_maint": [
        "streaming_hll_maintenance",
    ],
}

# Scale factor of the generated tables (TPC-H row counts times SF).
SF = 0.01
