"""One benchmark run inside a single Spark driver process.

Started by run.py, which samples this process's memory from outside.
Phases: session set-up (repeated), a correctness pass that also warms
the JVM, untimed warm-up passes, timed passes until --seconds have
elapsed and, with --trace 1, one more pass traced through Spark's status
stores. Writes its samples
as JSON to --result.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import duckdb  # noqa: E402

import __spark_entry__  # noqa: E402,F401  (before check_oracle, which imports it)
from anomaly_detection_in_time_series_data_spark import queries, session  # noqa: E402
from anomaly_detection_in_time_series_data_spark.tables import TABLE_NAMES  # noqa: E402

from workloads import WORKLOADS  # noqa: E402

_path = list(sys.path)
sys.path.insert(0, os.path.join(ROOT, "tools"))
import check_oracle  # noqa: E402

sys.path[:] = _path  # check_oracle prepends its own repo path on import

SETUP_REPEATS = 3
# Untimed passes of forced writes after the correctness pass, until they
# have taken WARM_S (at least one pass): after the collected pass alone the
# first timed pass ran 10-40% slower than the next.
WARM_S = 3.0


def force(df) -> None:
    """Evaluate every row and column without moving data to the driver."""
    df.write.format("noop").mode("overwrite").save()


def set_up(state: dict):
    """Build the session SETUP_REPEATS times (stopping all but the last);
    the first build starts the JVM. Sessions are kept referenced so a
    new SparkContext never reuses a stopped one's id()."""
    ship = []
    original = session.ensure_pyfiles

    def timed_ship(spark):
        t0 = time.perf_counter()
        original(spark)
        ship.append(time.perf_counter() - t0)

    session.ensure_pyfiles = timed_ship
    kept = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench")
        state["setup_s"].append(time.perf_counter() - t0)
        kept.append(spark)
        if i < SETUP_REPEATS - 1:
            spark.stop()
    session.ensure_pyfiles = original
    state["session"] = {"start_s": state["setup_s"][0], "ship_pyfiles_s": ship[0]}
    return spark


def check_pass(spark, names: list[str], data: str, state: dict) -> None:
    """Run each query once, collected, and compare with its DuckDB oracle."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    for name in names:
        state["attempted"] += 1
        try:
            t0 = time.perf_counter()
            got = queries.QUERIES[name](spark, data).toPandas()
            t1 = time.perf_counter()
            want = con.execute(queries.ORACLE[name]).df()
            state["check_s"][name] = [t1 - t0, time.perf_counter() - t1]
            ok, msg = check_oracle.compare(name, got, want)
            if ok and len(got) == 0 and name not in check_oracle.EMPTY_OK:
                ok, msg = False, "vacuous: 0 rows on both engines"
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"{type(e).__name__}: {str(e)[:300]}"
        state["checks"][name] = msg
        if not ok:
            state["failed"] += 1
            state["failures"].append(f"{name}: {msg}")


def host_ticks() -> list[int]:
    """Ticks all CPUs have spent in each state since boot, steal included
    (the /proc/stat "cpu" line), for metrics.steal_share."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def ticks_since(start: list[int]) -> list[int]:
    return [b - a for a, b in zip(start, host_ticks())]


def timed_query(spark, name: str, data: str, state: dict) -> float | None:
    state["attempted"] += 1
    try:
        t0 = time.perf_counter()
        force(queries.QUERIES[name](spark, data))
        return time.perf_counter() - t0
    except Exception as e:  # noqa: BLE001
        state["failed"] += 1
        state["failures"].append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()

    names = WORKLOADS[a.workload]
    order = random.Random(a.seed)
    state = {"setup_s": [], "attempted": 0, "failed": 0, "failures": [], "checks": {},
             "check_s": {}, "samples": [], "records": [], "phases_s": {}}
    t0, host0 = time.perf_counter(), host_ticks()
    spark = set_up(state)
    t1 = time.perf_counter()
    state["host_ticks"] = {"setup": ticks_since(host0)}
    check_pass(spark, names, a.data, state)
    t2 = time.perf_counter()
    while True:
        for name in order.sample(names, len(names)):
            timed_query(spark, name, a.data, state)
        if time.perf_counter() - t2 >= WARM_S:
            break
    state["phases_s"].update(setup=t1 - t0, check=t2 - t1, warm=time.perf_counter() - t2)

    # Whole passes, so every query is sampled equally often: stop once one
    # more pass (at the mean pass time so far) would end further from
    # --seconds than stopping now.
    t_start, passes = time.perf_counter(), 0
    host0 = host_ticks()
    while True:
        for name in order.sample(names, len(names)):
            dt = timed_query(spark, name, a.data, state)
            if dt is not None:
                state["samples"].append([name, dt])
        passes += 1
        elapsed = time.perf_counter() - t_start
        if elapsed + elapsed / passes / 2 > a.seconds:
            break
    state["timed_s"] = elapsed
    state["host_ticks"]["timed"] = ticks_since(host0)

    if a.trace:
        import spark_trace

        tracer = spark_trace.Tracer(spark)
        for name in order.sample(names, len(names)):
            state["attempted"] += 1
            try:
                state["records"].append(tracer.run(
                    f"{name}#traced", lambda n=name: queries.QUERIES[n](spark, a.data), force))
            except Exception as e:  # noqa: BLE001
                state["failed"] += 1
                state["failures"].append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
    state["phases_s"]["total"] = time.perf_counter() - t0
    spark.stop()
    with open(a.result, "w") as f:
        json.dump(state, f)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        sys.exit(1)
