"""``session.ensure_pyfiles`` ships each checkout's own package, even while
another checkout ships its own from a second process."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

from anomaly_detection_in_time_series_data_spark import session

PKG = "anomaly_detection_in_time_series_data_spark"

# Ship to two new SparkContexts; print each zip path and its mtime.
_SHIP = f"""
import os, types
from {PKG} import session
for _ in range(2):
    sc = types.SimpleNamespace(addPyFile=lambda p: print(p, os.stat(p).st_mtime_ns))
    session.ensure_pyfiles(types.SimpleNamespace(sparkContext=sc))
"""


def test_each_checkout_ships_its_own_package_once(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp_path)
    shipped = {}
    for who in ("a", "b"):
        pkg = tmp_path / who / PKG
        shutil.copytree(
            Path(session.__file__).parent, pkg, ignore=shutil.ignore_patterns("__pycache__")
        )
        (pkg / "marker.py").write_text(f"WHO = {who!r}\n")
        out = subprocess.run(
            [sys.executable, "-c", _SHIP], cwd=pkg.parent, env=env,
            capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        first, second = out.stdout.splitlines()[-2:]
        assert first == second  # one zip per process, written once
        shipped[who] = first.split()[0]
    for who, zpath in shipped.items():
        with zipfile.ZipFile(zpath) as zf:
            assert zf.read(f"{PKG}/marker.py") == f"WHO = {who!r}\n".encode()
    assert len(list(tmp_path.glob("*.zip*"))) == 2  # no partial file left
