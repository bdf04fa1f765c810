"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings
(AQE, Arrow, UTC, shuffle-partition sizing) are what we would ship on a real
multi-executor cluster — only ``master`` and memory sizing change there.
"""

from __future__ import annotations

import functools
import hashlib
import io
import os
import tempfile
import threading
import zipfile
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()
_CONF_LOCK = threading.RLock()


@functools.cache
def _package_zip(pkg_dir: str) -> str:
    """Zip the ``.py`` files under ``pkg_dir`` once per process, at a temp
    path keyed by the zip's content, so two checkouts running at once
    never ship each other's package.  The file is renamed into place
    whole, so no reader sees it half written. A changed package thus
    always has a new path and inode, which the workers' zip directory
    cache (the package's ``_cache_zip_directories``) relies on."""
    pkg_name = os.path.basename(pkg_dir)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for path in sorted(Path(pkg_dir).rglob("*.py")):
            arc = f"{pkg_name}/{path.relative_to(pkg_dir).as_posix()}"
            # ZipInfo's fixed 1980 date: the same files give the same bytes
            zf.writestr(zipfile.ZipInfo(arc), path.read_bytes())
    data = buf.getvalue()
    digest = hashlib.sha256(data).hexdigest()[:16]
    zpath = os.path.join(tempfile.gettempdir(), f"{pkg_name}_pyfiles_{digest}.zip")
    if not os.path.exists(zpath):
        fd, part = tempfile.mkstemp(suffix=".zip.part", dir=tempfile.gettempdir())
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        os.chmod(part, 0o644)
        os.replace(part, zpath)
    return zpath


def ensure_pyfiles(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``addPyFile``.

    UDF closures reference module globals (geohash encode, email parse), so
    cloudpickle needs the package importable on the worker side — true only
    by accident when the driver's cwd is the repo root. Zipping the package
    and distributing it makes every session (including the driver's own,
    created outside ``get_spark``) work from any cwd.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    sc.addPyFile(_package_zip(os.path.dirname(os.path.abspath(__file__))))
    _SHIPPED.add(key)


def get_spark(
    app_name: str = "adts-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing, skew-join splitting, dynamic join
      strategy switch — the knobs that keep a fixed plan healthy at 100 TB.
    - Arrow on: every pandas_udf / toPandas boundary is vectorized.
    - UTC session timezone: deterministic timestamp semantics vs the
      DuckDB oracle.
    - Streaming checkpoints (offset, commit and source logs, state-store
      files) go through ``FileSystemBasedCheckpointFileManager``, not
      Spark's default FileContext manager: without the native Hadoop
      library, every stat in a FileContext rename forks ``readlink``
      (about 4 ms each, 24 per trigger), and on ``file://`` both managers
      do the same check-then-rename.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Without libhadoop, RawLocalFs stats each side of a FileContext
        # rename by forking `readlink`; the FileSystem manager's rename is
        # the same exists-then-rename on a local disk, with no fork.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("ADTS_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_pyfiles(spark)
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, pairs: dict):
    """Set session confs for the duration of a ``with`` block and restore
    the previous values (or unset them) on exit.

    The block holds a module lock, so two threads never swap conf at once
    and each restores the values from before its own block. Other code in
    the session still sees the scoped values while a block runs, so keep
    blocks short: a stream freezes its session conf at ``start()``, which
    is why the streaming runtime scopes only that call and waits for the
    stream outside the block."""
    with _CONF_LOCK:
        olds = {}
        try:
            for k, v in pairs.items():
                olds[k] = spark.conf.get(k, None)
                spark.conf.set(k, str(v))
            yield
        finally:
            for k, old in olds.items():
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)
