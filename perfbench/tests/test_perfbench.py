"""Tests of the benchmark's own rules (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import ledger_diff  # noqa: E402
import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


@pytest.mark.parametrize("n, pct", [
    (5, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75),
    (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99),
])
def test_tail_percentile_needs_ten_samples_beyond(n, pct):
    assert metrics.tail_percentile(n) == pct
    if pct is not None:
        values = list(range(n))
        assert sum(v > metrics.nearest_rank(values, pct) for v in values) >= 10


def test_tail_reports_none_below_twenty_samples():
    assert metrics.tail([1.0] * 12) == (None, None)
    assert metrics.tail([float(i) for i in range(1, 41)]) == (75, 30.0)


def test_stages_shared_by_jobs_of_a_group_count_once():
    stages = {7: [0, 1], 8: [1, 2], 9: [1, 2, 3]}
    assert metrics.stages_of_jobs([7, 8, 9], stages.__getitem__) == [0, 1, 2, 3]


def test_stream_jobs_found_under_run_id_not_caller_group():
    groups = {"q#1/build": [1, 2], "run-a": [3, 4], "run-b": [5], "other": [9]}
    jobs = metrics.query_jobs(lambda g: groups.get(g, []), ["q#1/build"], ["run-a", "run-b"])
    assert jobs == {"caller": [1, 2], "stream": [3, 4, 5]}


@pytest.mark.parametrize("text, value", [
    ("10,000", 10000), ("1018.0 KiB", 1018 * 1024), ("2.0 MiB", 2 * 2**20),
    ("341 ms", 341), ("1.5 s", 1500), ("0.0 B", 0),
    ("total (min, med, max (stageId: taskId))\n1320.0 B (320.0 B, 320.0 B, "
     "360.0 B (stage 17.0: task 16))", 1320),
])
def test_parse_sql_metric(text, value):
    assert metrics.parse_sql_metric(text) == pytest.approx(value)


def test_parse_metric_map_keeps_multiline_values_whole():
    text = ("HashMap(115 -> 15, 77 -> 1018.0 KiB, 1233 -> total (min, med, max (stageId: "
            "taskId))\n0 ms (0 ms, 0 ms, 0 ms (stage 17.0: task 16)), 565 -> 10,000)")
    values = metrics.parse_metric_map(text)
    assert sorted(values) == [77, 115, 565, 1233]
    assert metrics.parse_sql_metric(values[1233]) == 0
    assert metrics.parse_sql_metric(values[565]) == 10000
    assert metrics.parse_sql_metric(values[77]) == 1018 * 1024


def _progress(run_id, trigger_ms, add_ms, state_rows=None):
    p = {"runId": run_id, "durationMs": {"triggerExecution": trigger_ms, "addBatch": add_ms}}
    if state_rows is not None:
        p["stateOperators"] = [{"numRowsTotal": state_rows, "commitTimeMs": 2,
                                "memoryUsedBytes": 100}]
    return p


def test_state_size_taken_from_last_trigger_of_each_stream():
    s = metrics.summarize_progress([
        _progress("a", 100, 50, 10), _progress("a", 80, 40, 30), _progress("b", 60, 20, 5),
        {"runId": "b", "durationMs": {}},
    ])
    assert s["triggers"] == 3
    assert s["add_batch_ms"] == 110
    assert s["state_commit_ms"] == 6
    assert s["state_rows"] == 35
    assert s["state_memory_bytes"] == 200


def _record(query, **kw):
    r = dict.fromkeys(["build_s", "execute_s", "jobs", "eager_jobs", "stream_jobs", "stages",
                       "tasks", "executor_run_ms", "executor_cpu_ms", "shuffle_write_bytes",
                       "shuffle_read_bytes", "shuffle_fetch_wait_ms", "spill_bytes",
                       "output_bytes", "scan_bytes", "scan_rows", "scan_ms", "python_run_ms",
                       "python_start_ms", "python_sent_bytes", "python_returned_bytes"], 1.0)
    r.update(query=query, progress=[])
    r.update(kw)
    return r


def test_steal_share_counts_stolen_against_wanted_cpu_time():
    # user nice system idle iowait irq softirq steal
    assert metrics.steal_share([60, 0, 10, 500, 5, 0, 0, 30]) == pytest.approx(0.3)
    assert metrics.steal_share([0] * 10) == 0.0


def test_end_to_end_removes_the_stolen_share():
    plain = metrics.end_to_end([0.2, 0.1, 0.3], [0.5, 0.4, 0.6], 2.0)
    fixed = metrics.end_to_end([0.2, 0.1, 0.3], [0.5, 0.4, 0.6], 2.0, 0.5, 0.25)
    assert fixed["setup_s"] == pytest.approx(plain["setup_s"] / 2)
    assert fixed["query_s.p50"] == pytest.approx(plain["query_s.p50"] * 0.75)
    assert fixed["queries_per_s"] == pytest.approx(plain["queries_per_s"] / 0.75)


def test_printed_metric_names_match_benchmark_json():
    e2e = metrics.end_to_end([0.2, 0.1, 0.3], [0.5, 0.4], 2.0)
    layer = metrics.per_layer({"start_s": 5.0, "ship_pyfiles_s": 0.1},
                              [_record("q", progress=[_progress("a", 10, 5, 1)])], 1.0, 900.0)
    for kind, values in (("end_to_end", e2e), ("per_layer", layer)):
        line = json.loads(metrics.result_line(True, 3, 0, values, kind))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert set(line["metrics"]) == set(metrics.declared(kind))
    with pytest.raises(ValueError):
        metrics.result_line(True, 1, 0, dict(e2e, extra=1.0), "end_to_end")


def test_benchmark_json_workloads_are_the_defined_ones():
    with open(metrics.BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


def test_ledger_diff_separates_exact_counters_from_times():
    before = {"records": [_record("q", jobs=4, build_s=1.0), _record("r")]}
    after = {"records": [_record("q", jobs=5, build_s=1.5), _record("s")]}
    d = ledger_diff.diff(before, after)
    assert d["counters"] == {"q": {"jobs": (4, 5)}}
    assert d["equal_counters"] == len(ledger_diff.COUNTERS) - 1
    assert d["times"]["q"]["build_s"] == pytest.approx(0.5)
    assert d["only_in"] == ["r", "s"]
