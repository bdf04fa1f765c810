"""The preflight's dtype-parity gate (tools/check_oracle.py:compare).

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
import importlib.util
import os
import shutil
import subprocess
import sys
from decimal import Decimal
from pathlib import Path

import pandas as pd

_spec = importlib.util.spec_from_file_location(
    "check_oracle",
    os.path.join(os.path.dirname(__file__), "..", "tools", "check_oracle.py"),
)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)
compare = check_oracle.compare


def test_decimal_vs_float_fails_even_when_values_match():
    # The exact r6 red: Decimal('900.50') vs 900.5 — numerically equal.
    sdf = pd.DataFrame({"price": [Decimal("900.50"), Decimal("1.25")]})
    odf = pd.DataFrame({"price": [900.5, 1.25]})
    ok, msg = compare("t", sdf, odf)
    assert not ok
    assert "dtype divergence" in msg


def test_int_vs_float_fails():
    sdf = pd.DataFrame({"n": [1, 2, 3]})
    odf = pd.DataFrame({"n": [1.0, 2.0, 3.0]})
    ok, msg = compare("t", sdf, odf)
    assert not ok
    assert "dtype divergence" in msg


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
