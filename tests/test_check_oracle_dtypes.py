"""The oracle-parity verdict: tools/check_oracle.py ``compare`` and ``check``.

Round-6 lesson: `skyline_parts_pareto` was numerically identical on both
engines, but Spark emitted decimal(18,2) (pandas object of Decimal) while
DuckDB's pandas bridge lowered its DECIMAL to float64 — the driver's value
hash flipped while the preflight's numeric compare scored "max float delta
0.0".  These tests pin the gate that closes that blind spot: a dtype-CLASS
divergence must FAIL compare() even when every value matches numerically,
while the benign divergences the driver tolerates (object-date vs
datetime64, int32 vs int64) must still pass.  A last test pins that the
script imports the package of the checkout it lives in.
"""

from __future__ import annotations

import datetime
import os
import shutil
import subprocess
import sys
from decimal import Decimal
from pathlib import Path

import duckdb
import pandas as pd
import pytest

from anomaly_detection_in_time_series_data_spark import queries as q

from conftest import load_script

check_oracle = load_script("tools/check_oracle.py")
compare = check_oracle.compare


def test_matching_ints_pass_across_widths():
    # int32 vs int64 is the same class — the driver does not flip on width.
    sdf = pd.DataFrame({"n": pd.array([1, 2], dtype="int32")})
    odf = pd.DataFrame({"n": pd.array([1, 2], dtype="int64")})
    ok, msg = compare("t", sdf, odf)
    assert ok, msg


def test_object_date_vs_datetime64_passes():
    # Spark DateType -> object of datetime.date; DuckDB DATE -> datetime64.
    # Date-emitting queries have been driver tri-green since r3, so this
    # divergence is benign and must NOT trip the gate.
    sdf = pd.DataFrame(
        {"day": [datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)]}
    )
    odf = pd.DataFrame(
        {"day": pd.to_datetime(["2024-01-01", "2024-01-02"])}
    )
    ok, msg = compare("t", sdf, odf)
    assert ok, msg


def test_matching_floats_still_pass():
    sdf = pd.DataFrame({"x": [0.5, 1.5]})
    odf = pd.DataFrame({"x": [0.5, 1.5]})
    ok, msg = compare("t", sdf, odf)
    assert ok, msg


def test_all_null_column_does_not_trip_the_gate():
    sdf = pd.DataFrame({"x": [None, None]})
    odf = pd.DataFrame({"x": [float("nan"), float("nan")]})
    ok, _ = compare("t", sdf, odf)
    assert ok


def test_mixed_decimal_float_column_fails_regardless_of_first_value():
    """ADVICE r7: _kind classified by the FIRST non-null value only, so a
    mixed Decimal/float column passed when its first value's class
    matched the oracle.  The gate now classifies a bounded sample and
    surfaces heterogeneity as its own kind."""
    sdf = pd.DataFrame({"price": [900.5, Decimal("1.25"), 2.5]})  # mixed
    odf = pd.DataFrame({"price": [900.5, 1.25, 2.5]})  # pure float
    ok, msg = compare("t", sdf, odf)
    assert not ok
    assert "mixed" in msg

    # Symmetric: identical mixing on BOTH sides is equal kinds -> the
    # dtype gate passes and the value compare decides.
    sdf2 = pd.DataFrame({"price": [900.5, Decimal("1.25")]})
    odf2 = pd.DataFrame({"price": [900.5, Decimal("1.25")]})
    ok2, msg2 = compare("t", sdf2, odf2)
    assert ok2, msg2


@pytest.mark.parametrize(
    "name, spark_sql, oracle_sql, verdict",
    [
        ("t", "SELECT CAST(1.25 AS DECIMAL(10, 2)) v", "SELECT price v FROM t", "dtype"),
        ("t", "SELECT 1 v", "SELECT CAST(n AS DOUBLE) v FROM t", "dtype"),
        ("t", "SELECT 1 v WHERE false", "SELECT n v FROM t WHERE false", "vacuous"),
        ("join_anti", "SELECT 1 v WHERE false", "SELECT n v FROM t WHERE false", "ok"),
        ("t", "SELECT 1 v", "SELECT n v FROM t", "ok"),
    ],
    ids=["decimal_vs_float", "int_vs_float", "zero_rows", "zero_rows_empty_ok", "equal"],
)
def test_check_verdict(spark, monkeypatch, name, spark_sql, oracle_sql, verdict):
    """``check`` end to end on synthetic builds against an in-memory DuckDB.
    Decimal vs float64 is the round-6 red: equal values, flipped hash."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT 1 AS n, CAST(1.25 AS DOUBLE) AS price")
    monkeypatch.setitem(q.ORACLE, name, oracle_sql)
    ok, msg, _ = check_oracle.check(name, lambda: spark.sql(spark_sql), con)
    assert ok == (verdict == "ok") and msg.startswith(verdict), msg


def test_check_oracle_imports_its_own_checkout(tmp_path):
    """Run from a copy of the checkout, the script must check the copy's
    package, not whichever checkout happens to sit at a fixed path."""
    root = Path(__file__).resolve().parents[1]
    pkg = "anomaly_detection_in_time_series_data_spark"
    shutil.copytree(
        root / pkg, tmp_path / pkg, ignore=shutil.ignore_patterns("__pycache__")
    )
    (tmp_path / "tools").mkdir()
    for rel in ("tools/check_oracle.py", "__spark_entry__.py"):
        shutil.copy(root / rel, tmp_path / rel)
    probe = (
        "import runpy, sys; runpy.run_path(sys.argv[1]); "
        f"print(sys.modules['{pkg}'].__file__)"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", probe, str(tmp_path / "tools" / "check_oracle.py")],
        cwd=tmp_path / "tools",
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert Path(out.stdout.strip().splitlines()[-1]).is_relative_to(tmp_path)
