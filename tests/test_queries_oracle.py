"""Oracle parity at sf0.001.  Each case takes its verdict from
``tools/check_oracle.py:check``, the function the oracle gate runs, so
this file cannot pass a result the gate fails.

A sweep of every oracle takes 15+ minutes and repeats check_oracle.py, so
by default it checks the current correctness window (the first
``queries._WINDOW`` names), the window the gate checked last (the newest
``CORRECTNESS_r*.json``) and the window without the ``_IMPL_CHANGED``
promotions (the names new entries push out), so no rotation drops a case
the previous commit ran.  ``ADTS_FULL_ORACLE=1`` checks every oracle.
"""

from __future__ import annotations

import os
from functools import partial
from unittest import mock

import pytest

from anomaly_detection_in_time_series_data_spark import queries as q

from conftest import REPO, SF_DIR, load_script

check_oracle = load_script("tools/check_oracle.py")

if os.environ.get("ADTS_FULL_ORACLE"):
    _PARITY_NAMES = sorted(q.ORACLE)
else:
    _rounds = q.correctness_rounds(REPO)
    _last = _rounds[max(_rounds)] if _rounds else {}
    with mock.patch.object(q, "_IMPL_CHANGED", {}):
        _unpromoted = q.correctness_window(REPO)
    _PARITY_NAMES = list(
        dict.fromkeys(
            n
            for n in [*list(q.QUERIES)[: q._WINDOW], *_unpromoted, *_last]
            if n in q.ORACLE
        )
    )


@pytest.fixture(scope="module")
def duck():
    con = check_oracle.oracle_db(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", _PARITY_NAMES)
def test_oracle_parity(spark, sf_dir, duck, name):
    ok, msg, _ = check_oracle.check(name, partial(q.QUERIES[name], spark, sf_dir), duck)
    assert ok, msg


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
    """EXECUTION smoke (count() runs the physical plan).  The front
    window already executes via the parity test above, so the default
    covers the NEXT 100 registered names — runtime-only failure classes
    (UDF crashes, bad casts at execution) get rotating-window coverage
    without re-running the whole registry.  `ADTS_FULL_ORACLE=1`
    executes everything (the pre-r13 behavior: 498 s of suite wall time
    on its own, duplicating what tools/preflight.py runs every round)."""
    names = (
        list(q.QUERIES)
        if os.environ.get("ADTS_FULL_ORACLE")
        else list(q.QUERIES)[q._WINDOW : q._WINDOW + 100]
    )
    for name in names:
        df = q.QUERIES[name](spark, sf_dir)
        assert df.count() >= 0, name
