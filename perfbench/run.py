"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload anomaly_ts --seed 1 --seconds 6 --trace 0

Generates the seed's tables under perfbench/out/, starts worker.py (one
Spark driver on local[<cores>]) and samples its memory from /proc while it
runs, then prints one JSON line: the end-to-end metrics of BENCHMARK.json
with --trace 0, its per-layer metrics with --trace 1. The run's ledger
(samples, per-query trace records, oracle checks) is written to
perfbench/out/ledger-<workload>-seed<seed>-trace<t>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyspark

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
from workloads import SF, WORKLOADS  # noqa: E402

TIMEOUT_S = 170
# What the worker imports from the repo; checked first so a checkout
# without the program fails at once instead of after generating data.
PROGRAM = ("__spark_entry__.py", "anomaly_detection_in_time_series_data_spark",
           "tools/check_oracle.py")
SAMPLE_EVERY_S = 0.05
# Spark's local[N]: half the cores, so the JVM's JIT and GC threads, the
# Python workers and this sampler do not queue behind the task threads
# on a small shared host.
CORES = max(1, (os.cpu_count() or 2) // 2)
# Driver JVM heap; SF 0.01 needs far less than the program's 8g default.
DRIVER_MEM = "2g"


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(c) for c in f.read().split()]
    except OSError:
        return []


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def driver_rss_mb(pid: int) -> float:
    """Resident memory of the driver Python process plus its JVM child
    (Python workers, children of the JVM, are not counted)."""
    return _rss_mb(pid) + sum(_rss_mb(c) for c in _children(pid) if _comm(c) == "java")


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while _group_alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.05)


def run_worker(args, run_dir: str, data: str, result: str) -> tuple[int, float]:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_CPUS=str(CORES),
               ADTS_DRIVER_MEM=DRIVER_MEM,
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--data", data, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--result", result]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            start_new_session=True)
    peak = 0.0
    deadline = time.monotonic() + TIMEOUT_S
    try:
        while proc.poll() is None:
            if time.monotonic() > deadline:
                print(f"worker exceeded {TIMEOUT_S}s", file=sys.stderr)
                break
            peak = max(peak, driver_rss_mb(proc.pid))
            time.sleep(SAMPLE_EVERY_S)
    finally:
        stop_group(proc)
    return proc.returncode, peak


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"program not found in {ROOT}: {', '.join(missing)}", file=sys.stderr)
        return 2

    out = os.path.join(HERE, "out")
    run_dir = os.path.join(out, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    data, result = os.path.join(run_dir, "data"), os.path.join(run_dir, "result.json")
    try:
        datagen.generate(data, SF, args.seed)
        rc, peak_rss = run_worker(args, run_dir, data, result)
        if rc != 0 or not os.path.exists(result):
            print(f"worker failed (exit {rc})", file=sys.stderr)
            return 1
        with open(result) as f:
            state = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    query_s = [dt for _, dt in state["samples"]]
    steal = {k: metrics.steal_share(v) for k, v in state["host_ticks"].items()}
    if args.trace:
        untraced_p50 = statistics.median(query_s)
        values = metrics.per_layer(state["session"], state["records"], untraced_p50, peak_rss,
                                   steal["timed"])
        kind = "per_layer"
    else:
        values = metrics.end_to_end(state["setup_s"], query_s, state["timed_s"],
                                    steal["setup"], steal["timed"])
        kind = "end_to_end"
    tail_pct, tail_s = metrics.tail(query_s)
    ledger = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": SF, "cores": os.cpu_count(), "spark_cores": CORES,
        "pyspark": pyspark.__version__, "python": platform.python_version(),
        "driver_memory": DRIVER_MEM,
        "metrics": values, "samples": len(query_s),
        "query_s_tail": {"percentile": tail_pct, "value": tail_s},
        "peak_rss_mb": peak_rss, "setup_s": state["setup_s"],
        "timed_s": state["timed_s"], "phases_s": state["phases_s"], "checks": state["checks"],
        "check_s": state["check_s"], "host_ticks": state["host_ticks"],
        "steal_share": steal,
        "failures": state["failures"], "query_samples": state["samples"],
        "records": state["records"],
    }
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"ledger-{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        # Stream progress names its source and sink directories; keep them
        # relative so ledgers from different checkouts compare.
        f.write(json.dumps(ledger, indent=1).replace(ROOT + "/", ""))
    for failure in state["failures"]:
        print(f"FAILED {failure}", file=sys.stderr)
    print(metrics.result_line(state["failed"] == 0, state["attempted"], state["failed"],
                              values, kind))
    return 0


if __name__ == "__main__":
    sys.exit(main())
