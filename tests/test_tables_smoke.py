"""Fixture-drift smoke gate: the driver regenerates /root/testdata between
rounds and has already changed the physical type of ``events.ts`` once
(nanos in round 1, micros in round 2).  Load every table at sf0.001 first
thing so a fixture change fails in seconds, not at driver time.

``conftest.pytest_collection_modifyitems`` moves the test_000_* items to
the front of the run, in their own order.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql.types import (
    BinaryType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

from anomaly_detection_in_time_series_data_spark.streaming.runtime import (
    read_events_stream,
)
from anomaly_detection_in_time_series_data_spark.tables import (
    TABLE_NAMES,
    load_table,
    normalize_events_ts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_000_table_loads(spark, name):
    df = load_table(spark, SF_DIR, name)
    assert df.count() > 0, f"{name} is empty"


def test_000_events_ts_is_timestamp(spark):
    df = load_table(spark, SF_DIR, "events")
    dt = df.schema["ts"].dataType
    assert isinstance(dt, (TimestampType, TimestampNTZType)), (
        f"events.ts loaded as {dt}; load_table must normalize whatever "
        "physical type the regenerated fixture uses to a timestamp"
    )
    # and it must actually be scannable (analysis alone can pass while
    # execution throws for unsupported physical types)
    assert df.select("ts").limit(5).count() == 5


def _jobs_run_by(spark, fn):
    """The number of Spark jobs launched while ``fn()`` runs, counted in a
    job group of their own."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _output(df) -> str:
    """The analyzed plan's output attributes, ids included."""
    return df._jdf.queryExecution().analyzed().output().toString()


def test_repeat_load_launches_no_job(spark):
    """Each fixture file's schema is inferred once per process: a repeat
    load is planned from the cached schema with no inference job, but it
    is still a relation of its own (distinct attribute ids, so self-joins
    stay unambiguous)."""
    first = load_table(spark, SF_DIR, "events")
    assert _jobs_run_by(spark, lambda: load_table(spark, SF_DIR, "events")) == 0
    assert _output(load_table(spark, SF_DIR, "events")) != _output(first)


def test_repeat_events_stream_launches_no_job(spark):
    read_events_stream(spark, SF_DIR)
    assert _jobs_run_by(spark, lambda: read_events_stream(spark, SF_DIR)) == 0


def test_cached_schemas_equal_fresh_reads(spark):
    for name in TABLE_NAMES:
        got = load_table(spark, SF_DIR, name).schema
        fresh = spark.read.parquet(f"{SF_DIR}/{name}.parquet")
        if name == "events":
            fresh = normalize_events_ts(fresh)
        assert got == fresh.schema, name


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": ["x"], "b": [1.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.schema.simpleString() == "struct<a:string,b:double>"
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_binary_as_string_conf_is_part_of_the_key(spark, tmp_path):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    pq.write_table(
        pa.table({"b": pa.array([b"x"], pa.binary())}), str(tmp_path / "t.parquet")
    )
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)

    def b_type():
        return load_table(spark, str(tmp_path), "t").schema["b"].dataType

    try:
        assert b_type() == BinaryType()
        spark.conf.set(key, "true")
        assert b_type() == StringType()
    finally:
        spark.conf.set(key, before)
