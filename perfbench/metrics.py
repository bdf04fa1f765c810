"""Pure functions that turn a run's samples and trace records into the
benchmark's metrics. No Spark here, so the rules can be unit-tested.
"""

from __future__ import annotations

import json
import math
import os
import re
import statistics

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")

TAIL_CANDIDATES = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def nearest_rank(values: list[float], pct: float) -> float:
    """The pct-th percentile by nearest rank: the smallest sample with at
    least pct% of the samples at or below it."""
    s = sorted(values)
    return s[max(1, math.ceil(pct / 100 * len(s))) - 1]


def tail_percentile(n: int) -> int | None:
    """The highest percentile in TAIL_CANDIDATES that has at least
    MIN_BEYOND of n samples above its nearest rank, or None if even the
    median has fewer."""
    for pct in TAIL_CANDIDATES:
        if n - math.ceil(pct / 100 * n) >= MIN_BEYOND:
            return pct
    return None


def tail(values: list[float]) -> tuple[int | None, float | None]:
    pct = tail_percentile(len(values))
    return pct, (nearest_rank(values, pct) if pct else None)


def stages_of_jobs(job_ids, stage_ids_of) -> list[int]:
    """Stage ids run by a set of jobs, each once. Jobs of one query share
    stages: AQE and reused exchanges list a finished shuffle-map stage
    again (as skipped) in every later job that reads it."""
    out: set[int] = set()
    for job in job_ids:
        out.update(stage_ids_of(job))
    return sorted(out)


def query_jobs(job_ids_for_group, groups: list[str], run_ids: list[str]) -> dict[str, list[int]]:
    """Jobs of one query by origin. A stream's micro-batches run on the
    stream's own thread, whose job group is its runId, not the caller's
    group; so they are looked up under each runId the query started."""
    caller = sorted({j for g in groups for j in job_ids_for_group(g)})
    stream = sorted({j for r in run_ids for j in job_ids_for_group(r)})
    return {"caller": caller, "stream": stream}


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Value of a SQL metric as the status store formats it: a count
    ("10,000"), a size ("1018.0 KiB") or a duration ("341 ms", "1.2 s"),
    in bytes or milliseconds. Per-task metrics read
    "total (min, med, max (stageId: taskId))\\n<total> (...)"; the total is
    taken."""
    line = text.strip().splitlines()[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


_MAP_ENTRY = re.compile(r"(?:^|, )(\d+) -> ")


def parse_metric_map(text: str) -> dict[int, str]:
    """Accumulator id -> formatted value, from the toString() of the Scala
    map the SQL status store's executionMetrics returns, e.g.
    "HashMap(74 -> 341 ms, 77 -> 1018.0 KiB)". Values may hold commas and
    newlines but never ", <digits> -> "."""
    parts = _MAP_ENTRY.split(text[text.index("(") + 1:-1])
    return dict(zip(map(int, parts[1::2]), parts[2::2]))


def summarize_progress(progress: list[dict]) -> dict[str, float]:
    """Sum the per-trigger cost fields of stream progress events. State
    size is taken from each stream's last trigger, since a trigger reports
    the whole store."""
    out = {k: 0.0 for k in ("triggers", "add_batch_ms", "wal_commit_ms",
                            "commit_offsets_ms", "latest_offset_ms",
                            "query_planning_ms", "state_commit_ms",
                            "state_rows", "state_memory_bytes")}
    last_by_run: dict[str, dict] = {}
    for p in progress:
        d = p.get("durationMs", {})
        if "triggerExecution" not in d:
            continue
        out["triggers"] += 1
        out["add_batch_ms"] += d.get("addBatch", 0)
        out["wal_commit_ms"] += d.get("walCommit", 0)
        out["commit_offsets_ms"] += d.get("commitOffsets", 0)
        out["latest_offset_ms"] += d.get("latestOffset", 0)
        out["query_planning_ms"] += d.get("queryPlanning", 0)
        out["state_commit_ms"] += sum(s.get("commitTimeMs", 0) for s in p.get("stateOperators", []))
        last_by_run[p.get("runId", "")] = p
    for p in last_by_run.values():
        ops = p.get("stateOperators", [])
        out["state_rows"] += sum(s.get("numRowsTotal", 0) for s in ops)
        out["state_memory_bytes"] += sum(s.get("memoryUsedBytes", 0) for s in ops)
    return out


def trigger_seconds(progress: list[dict]) -> list[float]:
    return [p["durationMs"]["triggerExecution"] / 1e3
            for p in progress if "triggerExecution" in p.get("durationMs", {})]


def steal_share(ticks: list[int]) -> float:
    """Share of the CPU time the host's CPUs wanted that the hypervisor
    gave to other guests, from the difference of two /proc/stat "cpu"
    lines (user nice system idle iowait irq softirq steal ...)."""
    busy = ticks[0] + ticks[1] + ticks[2] + ticks[5] + ticks[6]
    steal = ticks[7]
    return steal / (busy + steal) if busy + steal else 0.0


def end_to_end(setup_s: list[float], query_s: list[float], timed_s: float,
               setup_steal: float = 0.0, timed_steal: float = 0.0) -> dict[str, float]:
    """Wall times with the stolen share of the phase they were taken in
    removed: t * (1 - steal share), the time the phase would have taken had
    the hypervisor not run other guests on this guest's CPUs."""
    return {
        "setup_s": statistics.median(setup_s) * (1 - setup_steal),
        "query_s.p50": statistics.median(query_s) * (1 - timed_steal),
        "queries_per_s": len(query_s) / (timed_s * (1 - timed_steal)),
    }


def per_layer(session: dict[str, float], records: list[dict], untraced_p50: float,
              peak_rss_mb: float, timed_steal: float = 0.0) -> dict[str, float]:
    """Per-layer metrics of one traced pass: the ledger's per-query records
    summed. The trace overhead is the traced pass's median query latency
    over the untraced passes' median."""
    def total(key: str) -> float:
        return sum(r[key] for r in records)

    progress = [p for r in records for p in r["progress"]]
    stream = summarize_progress(progress)
    trig = trigger_seconds(progress)
    run_ms, cpu_ms = total("executor_run_ms"), total("executor_cpu_ms")
    stream_jobs = sum(r["stream_jobs"] for r in records)
    traced_p50 = statistics.median([r["build_s"] + r["execute_s"] for r in records])
    out = {
        "session.start_s": session["start_s"],
        "session.ship_pyfiles_s": session["ship_pyfiles_s"],
        "queries.build_s": total("build_s"),
        "queries.execute_s": total("execute_s"),
        "queries.eager_jobs": total("eager_jobs"),
        "queries.jobs": total("jobs"),
        "queries.stages": total("stages"),
        "queries.tasks": total("tasks"),
        "queries.executor_run_ms": run_ms,
        "queries.executor_cpu_ms": cpu_ms,
        "queries.cpu_share": cpu_ms / run_ms if run_ms else 0.0,
        "queries.shuffle_write_bytes": total("shuffle_write_bytes"),
        "queries.shuffle_read_bytes": total("shuffle_read_bytes"),
        "queries.shuffle_fetch_wait_ms": total("shuffle_fetch_wait_ms"),
        "queries.spill_bytes": total("spill_bytes"),
        "queries.output_bytes": total("output_bytes"),
        "tables.scan_bytes": total("scan_bytes"),
        "tables.scan_rows": total("scan_rows"),
        "tables.scan_ms": total("scan_ms"),
        "operators.python_run_ms": total("python_run_ms"),
        "operators.python_start_ms": total("python_start_ms"),
        "operators.python_sent_bytes": total("python_sent_bytes"),
        "operators.python_returned_bytes": total("python_returned_bytes"),
        "streaming.triggers": stream["triggers"],
        "streaming.jobs_per_trigger": stream_jobs / stream["triggers"] if stream["triggers"] else 0.0,
        "streaming.trigger_s.p50": statistics.median(trig) if trig else 0.0,
        "streaming.trigger_s.p90": nearest_rank(trig, 90) if trig else 0.0,
        "bench.trace_overhead": traced_p50 / untraced_p50,
        "bench.peak_rss_mb": peak_rss_mb,
        "bench.steal_share": timed_steal,
    }
    for key in ("add_batch_ms", "wal_commit_ms", "commit_offsets_ms", "latest_offset_ms",
                "query_planning_ms", "state_commit_ms", "state_rows", "state_memory_bytes"):
        out[f"streaming.{key}"] = stream[key]
    return out


def declared(kind: str, path: str = BENCHMARK_JSON) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for `kind`
    ("end_to_end" or "per_layer")."""
    with open(path) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def result_line(correct: bool, attempted: int, failed: int, values: dict[str, float],
                kind: str, path: str = BENCHMARK_JSON) -> str:
    """The final JSON line. Raises if the values do not match the metric
    names BENCHMARK.json declares for `kind`."""
    units = declared(kind, path)
    if set(values) != set(units):
        raise ValueError(f"metrics {sorted(set(values) ^ set(units))} do not match BENCHMARK.json")
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": metrics})
