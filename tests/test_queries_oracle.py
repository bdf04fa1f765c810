"""Oracle parity tests: queries() entries with an oracle_sql() twin must
match DuckDB exactly (row count, column names, order-insensitive values) at
sf0.001 — the same gate the driver runs at sf0.01.

Suite wall-time discipline (VERDICT r12 item 2): parametrizing over ALL
~430 oracles made this one file a 15+ minute sweep that DUPLICATES two
independent gates — the driver's own CORRECTNESS run (50-name window at
sf0.01) and `tools/check_oracle.py` / `tools/preflight.py` (all oracles,
run every round and before every commit).  By default this file now
mirrors the oracle gate: the FIRST-50 registered names (the current
rotation window), plus the window the gate checked last (the newest
CORRECTNESS_r*.json), plus the window as it would be without the
``_IMPL_CHANGED`` promotions (the names new entries push out), so neither
a rotation nor a new ``_IMPL_CHANGED`` entry drops a parity test the
previous commit ran.  Set ``ADTS_FULL_ORACLE=1`` for the full sweep
(preflight covers the same ground without pytest overhead).
"""

from __future__ import annotations

import json
import os
import re
from functools import partial
from pathlib import Path
from unittest import mock

import duckdb
import pandas as pd
import pytest

from anomaly_detection_in_time_series_data_spark import queries as q
from anomaly_detection_in_time_series_data_spark.plans import gate_query
from anomaly_detection_in_time_series_data_spark.tables import TABLE_NAMES

from conftest import SF_DIR

if os.environ.get("ADTS_FULL_ORACLE"):
    _PARITY_NAMES = sorted(q.ORACLE)
else:
    _root = Path(__file__).resolve().parents[1]
    _rounds = {
        int(m.group(1)): p
        for p in _root.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    }
    _last = json.loads(_rounds[max(_rounds)].read_text()) if _rounds else {}
    with mock.patch.object(q, "_IMPL_CHANGED", {}):
        _unpromoted = q.correctness_window(_root)
    _PARITY_NAMES = list(
        dict.fromkeys(
            n
            for n in [*list(q.QUERIES)[:50], *_unpromoted, *_last]
            if n in q.ORACLE
        )
    )


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    return df.sort_values(by=list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", _PARITY_NAMES)
def test_oracle_parity(spark, sf_dir, duck, name):
    df, viol = gate_query(name, partial(q.QUERIES[name], spark, sf_dir))
    assert not viol, viol
    sdf = df.toPandas()
    odf = duck.execute(q.ORACLE[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf)
    a, b = _canon(sdf), _canon(odf)
    for col in a.columns:
        if a[col].dtype.kind == "f" or b[col].dtype.kind == "f":
            xa = a[col].astype(float).to_numpy()
            ya = b[col].astype(float).to_numpy()
            mask = ~(pd.isna(xa) & pd.isna(ya))
            assert (xa[mask] == ya[mask]).all(), f"float col {col} differs"
        else:
            assert (
                a[col].astype(str).to_numpy() == b[col].astype(str).to_numpy()
            ).all(), f"col {col} differs"


def test_every_query_analyzes(spark, sf_dir):
    """EVERY registered query must construct and pass Catalyst ANALYSIS
    (`df.columns` resolves the full logical plan — missing columns, type
    errors, bad expressions all surface here) — no jobs run for batch
    queries, so all ~400 stay in the default suite.  The `streaming_*`
    class is excluded by default: CONSTRUCTING those queries runs their
    whole streaming pipeline (availableNow replay + sink) — ~350 s of
    the pre-r13 suite — and they are executed for real by the parity
    window above and by tools/preflight.py each round.
    `ADTS_FULL_ORACLE=1` includes them."""
    full = bool(os.environ.get("ADTS_FULL_ORACLE"))
    for name, fn in q.QUERIES.items():
        if not full and name.startswith("streaming_"):
            continue
        df = fn(spark, sf_dir)
        assert df.columns, name


def test_queries_execute(spark, sf_dir):
    """EXECUTION smoke (count() runs the physical plan).  The front-50
    window already executes via the parity test above, so the default
    covers the NEXT 100 registered names — runtime-only failure classes
    (UDF crashes, bad casts at execution) get rotating-window coverage
    without re-running the whole registry.  `ADTS_FULL_ORACLE=1`
    executes everything (the pre-r13 behavior: 498 s of suite wall time
    on its own, duplicating what tools/preflight.py runs every round)."""
    names = (
        list(q.QUERIES)
        if os.environ.get("ADTS_FULL_ORACLE")
        else list(q.QUERIES)[50:150]
    )
    for name in names:
        df = q.QUERIES[name](spark, sf_dir)
        assert df.count() >= 0, name
