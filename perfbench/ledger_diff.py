"""Compare the traced ledgers of two runs of one workload.

    python3 perfbench/ledger_diff.py BEFORE.json AFTER.json

Counters that repeat exactly on identical code (jobs, stages, tasks,
shuffle bytes, bytes sent to Python, triggers) are reported per query as
equal or changed; a change in one is a change in the work done, not
noise. Times are reported separately, as deltas, since they vary run to
run.
"""

from __future__ import annotations

import json
import sys

COUNTERS = ("jobs", "eager_jobs", "stages", "tasks", "shuffle_write_bytes",
            "shuffle_read_bytes", "python_sent_bytes", "triggers")
TIMES = ("build_s", "execute_s", "executor_run_ms", "executor_cpu_ms",
         "python_run_ms", "scan_ms")


def _by_query(ledger: dict) -> dict[str, dict]:
    out = {}
    for r in ledger["records"]:
        row = {k: r.get(k, 0) for k in COUNTERS + TIMES}
        row["triggers"] = sum("triggerExecution" in p.get("durationMs", {})
                              for p in r["progress"])
        out[r["query"]] = row
    return out


def diff(before: dict, after: dict) -> dict:
    """{"counters": {query: {counter: (before, after)}} for counters that
    changed, "equal_counters": number of (query, counter) pairs that
    repeat exactly, "times": {query: {time: after - before}},
    "only_in": queries traced in one ledger only}."""
    a, b = _by_query(before), _by_query(after)
    common = sorted(set(a) & set(b))
    changed: dict[str, dict] = {}
    equal = 0
    for q in common:
        for c in COUNTERS:
            if a[q][c] == b[q][c]:
                equal += 1
            else:
                changed.setdefault(q, {})[c] = (a[q][c], b[q][c])
    times = {q: {t: b[q][t] - a[q][t] for t in TIMES} for q in common}
    return {"counters": changed, "equal_counters": equal, "times": times,
            "only_in": sorted(set(a) ^ set(b))}


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        before = json.load(f)
    with open(argv[1]) as f:
        after = json.load(f)
    d = diff(before, after)
    print(f"exact counters: {d['equal_counters']} equal, "
          f"{sum(map(len, d['counters'].values()))} changed")
    for q, cs in d["counters"].items():
        for c, (x, y) in cs.items():
            print(f"  {q}.{c}: {x} -> {y}")
    print("time deltas (after - before):")
    for q, ts in d["times"].items():
        print(f"  {q}: " + ", ".join(f"{t} {v:+.3f}" for t, v in ts.items()))
    if d["only_in"]:
        print(f"traced in one ledger only: {', '.join(d['only_in'])}")
    return 1 if d["counters"] else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
