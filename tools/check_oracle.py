"""The one oracle-parity verdict, and a local mimic of the driver's
correctness gate.  ``check`` builds a query under the window plan gate
(``plans/window_gate.py``, which also sees the windows behind each
localCheckpoint the build makes), collects it, runs its oracle_sql() twin
on DuckDB and ``compare``s the two.  The parity tests and preflight take
their verdict from ``check``, perfbench from ``compare``.

Usage: python tools/check_oracle.py [sf_dir] [query ...] [--skip-slow]

Prints one PASS / PASS-EMPTY / FAIL / SKIP line per query, then
"N pass, M fail"; an unfiltered run also fails on a window gate entry that
no query's plan uses any more.  --skip-slow skips SLOW_ORACLES.
"""

from __future__ import annotations

import datetime
import decimal
import os
import sys
import time
from collections.abc import Callable
from functools import partial

import duckdb
import pandas as pd
from pyspark.sql import DataFrame

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from anomaly_detection_in_time_series_data_spark.plans import (
    gate_query,
    stale_justifications,
)
from anomaly_detection_in_time_series_data_spark.session import get_spark
from anomaly_detection_in_time_series_data_spark.tables import TABLE_NAMES

import __spark_entry__ as entrymod

# The two recurrences whose oracle is a recursive CTE that advances one row
# per key per iteration and re-joins the full seq table each step (~20k
# iterations, >10 min at sf0.1); batching it would change the float op
# sequence under test.  tools/slow_oracle_tier.py hash-checks both each
# round on a half-scale derivation of sf0.1.
SLOW_ORACLES = {
    "ewma_anomaly_scores",
    "holt_forecast_anomaly",
}

# A 0-row PASS proves only that both engines agree on empty (at sf0.1
# `heavy_hitter_bigrams` once passed while checking nothing because its
# support floor did not scale with the corpus), so compare() fails it
# unless the query is named here.  Only queries whose EMPTINESS IS THE
# ASSERTION belong here, never floor/threshold artifacts (scale the floor):
#   join_anti   — asserts every customer has an order in the fixture: the
#                 empty anti-join is the referential-integrity check.
#   set_except  — asserts customer nationkeys are a subset of supplier
#                 nationkeys: the empty EXCEPT is the subset proof.
EMPTY_OK = {
    "join_anti",
    "set_except",
}


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        if df[col].dtype == object and df[col].map(
            lambda v: isinstance(v, (list, tuple)) or hasattr(v, "tolist")
        ).any():
            df[col] = df[col].map(
                lambda v: str(list(v)) if v is not None and not isinstance(v, str) else v
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _cls(v) -> str:
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return "date"
    return "str"


def _kind(s: pd.Series) -> str:
    """Coarse dtype class for the parity check.  Decimal columns surface
    in pandas as object dtype; dates surface as object (Spark) OR
    datetime64 (DuckDB), which the driver's hash treats alike, so both map
    to 'date'.  Numeric classes do NOT merge: `skyline_parts_pareto` was
    numerically identical on both engines but Spark returned Decimal
    objects where DuckDB's pandas bridge returned float64, and the
    driver's value hash diverged.  An object column is classified by a
    bounded sample, not its first value, so a mixed Decimal/float column
    shows as its own 'mixed:' kind."""
    k = s.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "date"
    kinds = {_cls(v) for v in s.dropna().head(200)}
    if not kinds:
        return "empty"
    if len(kinds) > 1:
        return "mixed:" + ",".join(sorted(kinds))
    return kinds.pop()


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> tuple[bool, str]:
    if sorted(sdf.columns) != sorted(odf.columns):
        return False, f"columns differ: {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    if len(sdf) != len(odf):
        return False, f"row count differs: {len(sdf)} vs {len(odf)}"
    if len(sdf) == 0 and name not in EMPTY_OK:
        return False, "vacuous: 0 rows on both engines (scale the floor or see EMPTY_OK)"
    # A Decimal-vs-float64 (or int-vs-float) divergence matches value for
    # value below yet flips the driver's hash, so it fails first.
    for col in sdf.columns:
        ks, ko = _kind(sdf[col]), _kind(odf[col])
        if ks != ko and "empty" not in (ks, ko):
            return (
                False,
                f"dtype divergence on col {col}: spark={ks}"
                f"({sdf[col].dtype}) vs oracle={ko}({odf[col].dtype}) — "
                "the driver's value hash will flip even if values match",
            )
    a, b = canon(sdf), canon(odf)
    for col in a.columns:
        x, y = a[col], b[col]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            xs, ys = x.astype(float).to_numpy(), y.astype(float).to_numpy()
            # NaN != NaN, so a one-sided NaN/NULL differs; two do not.
            neq = (xs != ys) & ~(pd.isna(xs) & pd.isna(ys))
        else:
            xs, ys = x.astype(str).to_numpy(), y.astype(str).to_numpy()
            neq = xs != ys
        if neq.any():
            i = int(neq.argmax())
            return False, f"col {col} differs at canon row {i}: {xs[i]!r} vs {ys[i]!r}"
    return True, "ok"


def oracle_db(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check(
    name: str,
    build: Callable[[], DataFrame],
    con: duckdb.DuckDBPyConnection,
    seen: set | None = None,
) -> tuple[bool | None, str, int]:
    """The parity verdict for query ``name``: ``build()`` it under the
    window plan gate, collect it, run its oracle SQL on ``con`` and
    ``compare``.  Returns (ok, message, Spark row count); ok is None for a
    query with no oracle SQL.  ``seen`` collects the gate entries used."""
    try:
        df, viol = gate_query(name, build, seen)
        if viol:
            return False, f"plan gate: {viol[0][:400]}", 0
        sdf = df.toPandas()
    except Exception as e:  # noqa: BLE001
        return False, f"spark error: {type(e).__name__}: {str(e)[:300]}", 0
    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        return None, "rows-only", len(sdf)
    try:
        odf = con.execute(sql).df()
    except Exception as e:  # noqa: BLE001
        return False, f"duckdb error: {type(e).__name__}: {str(e)[:300]}", len(sdf)
    return (*compare(name, sdf, odf), len(sdf))


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--skip-slow"]
    skip_slow = "--skip-slow" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    spark = get_spark("oracle-check")
    con = oracle_db(sf_dir)
    qs = entrymod.queries()
    n_pass = n_fail = 0
    # (table, entry) window-gate entries some site used; on an unfiltered
    # run an entry no site uses is stale and fails the run.
    seen: set = set()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if skip_slow and name in SLOW_ORACLES:
            print(f"SKIP {name}: slow-oracle exclusion (--skip-slow)")
            continue
        t0 = time.time()
        ok, msg, rows = check(name, partial(fn, spark, sf_dir), con, seen)
        status = {None: "SKIP", False: "FAIL", True: "PASS" if rows else "PASS-EMPTY"}
        print(f"{status[ok]} {name}: {msg} ({rows} rows, {time.time() - t0:.1f}s)")
        n_pass += ok is True
        n_fail += ok is False
    if not only and not skip_slow:
        builders = {n: partial(f, spark, sf_dir) for n, f in qs.items()}
        for stale in stale_justifications(seen, builders):
            print(f"FAIL window gate: stale justification {stale}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
