"""One-command driver-contract preflight: everything the per-round driver
will do, in dependency order, failing fast with a named stage.

    python tools/preflight.py [sf_dir]

Stages:
  1. fixture smoke  — load every table (catches driver fixture drift, e.g.
     the events.ts physical-type change between rounds)
  2. vanilla entry  — ``entry(spark)`` on a VANILLA SparkSession (the
     driver does not use our tuned get_spark; conf the engine needs must
     live inside load_table)
  3. window run     — every correctness-window query (the first
     ``queries._WINDOW``) executes on the vanilla session
  4. oracle gate    — delegates to check_oracle.py, whose ``check`` is the
     one parity verdict (the parity tests call it too)

Stage 4 re-uses check_oracle's tuned session; stages 1-3 are the
driver-fidelity checks check_oracle cannot give you.
"""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main() -> int:
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()  # vanilla
    spark.sparkContext.setLogLevel("ERROR")

    from anomaly_detection_in_time_series_data_spark.tables import TABLE_NAMES, load_table

    print(f"[1/4] fixture smoke at {SF_DIR}")
    for t in TABLE_NAMES:
        n = load_table(spark, SF_DIR, t).count()
        assert n > 0, f"{t} is empty"
    print(f"      all {len(TABLE_NAMES)} tables load")

    import __spark_entry__ as m
    from anomaly_detection_in_time_series_data_spark.queries import _WINDOW

    print("[2/4] entry() on vanilla session")
    rows = len(m.entry(spark).collect())
    assert rows > 0, "entry() returned no rows"
    print(f"      {rows} rows")

    print("[3/4] front-window execution on vanilla session")
    qs = m.queries()
    failures = []
    for name in list(qs)[:_WINDOW]:
        try:
            qs[name](spark, SF_DIR).count()
        except Exception as e:  # noqa: BLE001 — report and continue
            failures.append((name, f"{type(e).__name__}: {str(e)[:120]}"))
    if failures:
        for name, err in failures:
            print(f"      FAIL {name}: {err}")
        return 1
    print(f"      {_WINDOW}/{_WINDOW} execute")

    print("[4/4] oracle gate (check_oracle.py)")
    rc = subprocess.call(
        [sys.executable, os.path.join(os.path.dirname(__file__), "check_oracle.py"), SF_DIR]
    )
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
