"""A Python worker re-reads a zip archive's directory on
``importlib.invalidate_caches()`` only when the archive changed: the
package's ``_cache_zip_directories`` wrapper, in a plain interpreter and in
a real Spark worker."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa

from anomaly_detection_in_time_series_data_spark import session

from conftest import REPO

PKG = "anomaly_detection_in_time_series_data_spark"

# Runs in a fresh interpreter, so the test session's import system is
# untouched. Prints one JSON line of observations.
_SEMANTICS = f"""
import importlib, json, os, sys, zipfile, zipimport
from pyspark.core.files import SparkFiles

original = zipimport.zipimporter.invalidate_caches
import {PKG} as pkg
out = {{"driver_wrapped": zipimport.zipimporter.invalidate_caches is not original}}
SparkFiles._is_running_on_worker = True
importlib.reload(pkg)
wrapped = zipimport.zipimporter.invalidate_caches
importlib.reload(pkg)
out["reinstall_kept"] = zipimport.zipimporter.invalidate_caches is wrapped

def write_zip(path, extra=()):
    part = path + ".part"
    with zipfile.ZipFile(part, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/sub/__init__.py", "")
        zf.writestr("zpkg/sub/mod.py", "X = 1\\n")
        for name in extra:
            zf.writestr(f"zpkg/sub/{{name}}.py", f"X = {{name!r}}\\n")
    os.replace(part, path)

zpath = os.path.abspath("lib.zip")
write_zip(zpath)
sys.path.insert(0, zpath)
import zpkg, zpkg.sub.mod
out["importers"] = sum(
    isinstance(f, zipimport.zipimporter) and f.archive == zpath
    for f in sys.path_importer_cache.values()
)

reads = []
real = zipimport._read_directory
def counting(archive):
    if archive == zpath:
        reads[-1] += 1
    return real(archive)
zipimport._read_directory = counting

def invalidate():
    reads.append(0)
    importlib.invalidate_caches()
    return reads[-1]

out["two_calls"] = [invalidate(), invalidate()]
write_zip(zpath, extra=["new"])
out["after_replace"] = invalidate()
import zpkg.sub.new
out["new_module"] = zpkg.sub.new.X
out["then"] = invalidate()
os.remove(zpath)
out["after_delete"] = invalidate()
print(json.dumps(out))
"""


def test_invalidate_rereads_an_archive_only_when_it_changed(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = str(REPO)
    res = subprocess.run(
        [sys.executable, "-c", _SEMANTICS], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.splitlines()[-1])
    assert not out["driver_wrapped"]  # outside a worker nothing changes
    assert out["reinstall_kept"]  # installed once per process
    assert out["importers"] == 3  # the archive, its package, its subpackage
    # Unwrapped, each call reads the archive once per importer (3 + 3).
    assert sum(out["two_calls"]) <= 1
    assert out["after_replace"] == 1
    assert out["new_module"] == "new"
    assert out["then"] == 0
    # A missing archive takes the original path: each importer tries to
    # read it, and none raises.
    assert out["after_delete"] == out["importers"]


def test_worker_reads_no_zip_directory_on_a_repeat_invalidate(spark):
    """Inside a Spark Python worker, a second ``invalidate_caches()`` reads
    no archive (unwrapped: one read per zipimporter, 17 in a local-mode
    worker), and workers are reused across jobs, so the saving holds from
    a worker's second task on."""

    def probe(batches, _engine_code=session.ensure_pyfiles):
        # The default argument pickles a package function by reference, so
        # unpickling this UDF imports the package in the worker.
        import importlib
        import zipimport

        for _ in batches:
            pass
        real = zipimport._read_directory
        reads = []

        def counting(archive):
            reads[-1] += 1
            return real(archive)

        zipimport._read_directory = counting
        try:
            for _ in range(2):
                reads.append(0)
                importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "first": [reads[0]],
            "second": [reads[1]],
            "importers": [len(importers)],
            "archives": [len({f.archive for f in importers})],
        })

    schema = "pid long, first long, second long, importers long, archives long"
    df = spark.range(1).coalesce(1)
    # Idle workers are handed out in turn, so a reused PID shows up once
    # the session's idle pool has cycled: 3 jobs in a fresh session, more
    # after other tests have left several workers idle.
    rows, pids = [], set()
    while len(rows) < 32 and (len(rows) < 3 or len(pids) == len(rows)):
        rows.append(df.mapInArrow(probe, schema).collect()[0])
        pids.add(rows[-1]["pid"])
    assert len(pids) < len(rows), rows  # spark.python.worker.reuse holds
    assert all(r["importers"] > 0 for r in rows), rows  # pyspark.zip at least
    assert all(r["second"] == 0 for r in rows), rows
    assert all(r["first"] <= r["archives"] for r in rows), rows
