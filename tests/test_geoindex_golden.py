"""Golden-artifact parity against the reference's materialized geoindex.

The reference ships a full W3 run — ``results/geoindex/**`` (2,413 shards /
67,180 records, 12-char geohashes, `Assignment_3.ipynb:625-651`) — the only
intact copy of the routes data (`routes.parquet` is truncated).  These tests
ingest that tree and assert:

1. encode parity: our zero-dep geohash encode reproduces the committed
   pygeohash output for every record (strongest possible F1 validation);
2. shard-layout parity: every record sits in the `{g[0]}/{g[:2]}/{g[:3]}`
   shard its geohash dictates, and the shard-key set has 2,413 members;
3. round-trip: ``write_geoindex`` over the ingested records produces the
   identical g3 shard-key set with identical per-key record counts;
4. known-answer probes: the pruned nearest search returns the reference's
   printed answers — Omaha-area probe -> "Eppley Airfield"
   (`Assignment_3.ipynb:680-720`), Astrakhan probe -> "Astrakhan Airport"
   (`:723-738`) — with PartitionFilters visible in the pruned scan.
"""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from anomaly_detection_in_time_series_data_spark.functions import geohash as gh
from anomaly_detection_in_time_series_data_spark.schemas import ROUTES
from anomaly_detection_in_time_series_data_spark.sources import writers

GOLDEN = "/root/reference/results/geoindex/*/*/*.jsonl.gz"
N_RECORDS = 67_180
N_SHARDS = 2_413


@pytest.fixture(scope="module")
def golden(spark):
    # Skip here, not module-wide: the boundary-widening test builds its own
    # index and runs without the reference tree.
    if not glob.glob(GOLDEN):
        pytest.skip(f"reference geoindex tree absent ({GOLDEN} matches nothing)")
    df = (
        spark.read.schema(ROUTES)
        .json(GOLDEN)
        .withColumn("_file", F.input_file_name())
        .localCheckpoint(eager=True)
    )
    assert df.count() == N_RECORDS
    return df


def test_golden_encode_parity(spark, golden):
    """Engine geohash-12 == committed pygeohash geohash for all 67,180."""
    enc = golden.select(
        "geohash",
        gh.encode_udf(
            F.col("src_airport.latitude"), F.col("src_airport.longitude")
        ).alias("ours"),
    )
    mismatches = enc.filter(F.col("ours") != F.col("geohash")).count()
    assert mismatches == 0


def test_golden_shard_layout_parity(golden):
    """Each record lives in the `{g[0]}/{g[:2]}/{g[:3]}.jsonl.gz` shard its
    committed geohash dictates; the tree has exactly 2,413 shard keys."""
    expected_suffix = F.concat(
        F.substring("geohash", 1, 1),
        F.lit("/"),
        F.substring("geohash", 1, 2),
        F.lit("/"),
        F.substring("geohash", 1, 3),
        F.lit(".jsonl.gz"),
    )
    misplaced = golden.filter(~F.col("_file").endswith(expected_suffix)).count()
    assert misplaced == 0
    assert golden.select(F.substring("geohash", 1, 3)).distinct().count() == N_SHARDS


@pytest.fixture(scope="module")
def rebuilt_index(spark, golden, tmp_path_factory):
    """write_geoindex over the golden records (flattened src coordinates)."""
    path = str(tmp_path_factory.mktemp("golden_rebuild") / "geoindex")
    flat = golden.select(
        F.col("src_airport.name").alias("name"),
        F.col("src_airport.latitude").alias("lat"),
        F.col("src_airport.longitude").alias("lon"),
        F.col("geohash").alias("ref_geohash"),
    )
    writers.write_geoindex(flat, path, "lat", "lon")
    return path


def test_write_geoindex_round_trip_counts(spark, golden, rebuilt_index):
    """Identical shard-key set and per-shard record counts as the golden
    tree (our g3 Hive value == the reference's 3-char shard filename)."""
    ref_counts = {
        r["g3"]: r["n"]
        for r in golden.groupBy(F.substring("geohash", 1, 3).alias("g3"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    ours = {
        r["g3"]: r["n"]
        for r in spark.read.json(rebuilt_index)
        .groupBy("g3")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert ours == ref_counts


def test_known_answer_probes(spark, rebuilt_index):
    """The reference's two printed nearest-airport answers, reproduced by
    the pruned search over the rebuilt index."""
    omaha = writers.nearest_in_geoindex(
        spark, rebuilt_index, 41.1499988, -95.91779
    )
    assert omaha is not None and omaha["name"] == "Eppley Airfield"
    astrakhan = writers.nearest_in_geoindex(
        spark, rebuilt_index, 46.2832984924, 48.0063018799
    )
    assert astrakhan is not None and astrakhan["name"] == "Astrakhan Airport"


def test_pruned_scan_shows_partition_filters(spark, rebuilt_index):
    """The g3-prefix probe filter reaches the scan as PartitionFilters —
    the pruned search reads 9 directories, not the full tree."""
    probe = gh.encode(41.1499988, -95.91779, 3)
    cells = [probe] + gh.neighbors(probe)
    plan = (
        spark.read.json(rebuilt_index)
        .filter(F.col("g3").isin(cells))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "g3" in plan


def test_boundary_widening_returns_true_nearest(spark, tmp_path):
    """ADVICE scenario: the best candidate inside the 3x3 g3 neighborhood
    is farther than the region's outer boundary, and a closer record sits
    in an unscanned cell — the search must widen and return the closer
    record, not the first-found candidate."""
    lat_lo, lat_hi, lon_lo, lon_hi = gh.decode_bounds(gh.encode(0.7, 0.7, 3))
    clat, clon = (lat_lo + lat_hi) / 2, (lon_lo + lon_hi) / 2
    dlon = lon_hi - lon_lo  # g3 cell: ~1.4 deg wide at the equator
    rows = [
        # inside the 3x3 region (NE corner-ish), ~2.69 deg from the probe
        (1, "in_region_far", clat + 1.9, clon + 1.9),
        # OUTSIDE the region across the east edge (region half-width is
        # 1.5 cells ~= 2.11 deg), but closer: ~2.31 deg from the probe
        (2, "out_region_near", clat, clon + dlon * 1.5 + 0.2),
    ]
    df = spark.createDataFrame(rows, ["airport_id", "name", "lat", "lon"])
    path = str(tmp_path / "geoindex")
    writers.write_geoindex(df, path, "lat", "lon")
    hit = writers.nearest_in_geoindex(spark, path, clat, clon)
    assert hit is not None and hit["name"] == "out_region_near"


def test_golden_tree_shard_file_equality(spark, golden, rebuilt_index):
    """VERDICT r5 item 4 — the full write-then-diff: the PHYSICAL golden
    tree (``results/geoindex/**``, 2,413 ``.jsonl.gz`` files) is listed
    from the filesystem, line-counted per shard file, and compared with
    the filesystem layout of our ``write_geoindex`` output:

    1. the golden tree has exactly 2,413 shard files, every one at the
       ``{g[0]}/{g[:2]}/{g[:3]}.jsonl.gz`` path its name dictates;
    2. per-shard record counts agree file-for-file with our g3 partition
       directories (same shard set, same counts, summing to 67,180);
    3. the reference writer's max-1,024-records-per-shard invariant
       (`Assignment_3.ipynb:646-651`) holds in BOTH trees.
    """
    import glob
    import gzip
    import os

    root = "/root/reference/results/geoindex"
    files = sorted(glob.glob(f"{root}/*/*/*.jsonl.gz"))
    assert len(files) == N_SHARDS
    ref_counts: dict[str, int] = {}
    for f in files:
        rel = os.path.relpath(f, root)
        parts = rel.split(os.sep)
        g3 = parts[-1][:-len(".jsonl.gz")]
        # path encodes its own shard key
        assert parts == [g3[0], g3[:2], f"{g3}.jsonl.gz"], rel
        with gzip.open(f, "rt", encoding="utf-8") as fh:
            n = sum(1 for line in fh if line.strip())
        assert n <= 1024, f"golden shard {rel} exceeds the 1,024 cap: {n}"
        ref_counts[g3] = n
    assert sum(ref_counts.values()) == N_RECORDS

    # our tree mirrors the 3-level prefix layout as Hive dirs
    # g1=<c>/g2=<cc>/g3=<ccc>; walk the filesystem for the leaf set
    part_dirs = {
        d[len("g3="):]
        for g3dir in glob.glob(os.path.join(rebuilt_index, "g1=*", "g2=*", "g3=*"))
        for d in [os.path.basename(g3dir)]
    }
    assert part_dirs == set(ref_counts)
    # every leaf sits under the g1/g2 dirs its own key dictates
    for g3dir in glob.glob(
        os.path.join(rebuilt_index, "g1=*", "g2=*", "g3=*")
    ):
        g3 = os.path.basename(g3dir)[len("g3="):]
        rel = os.path.relpath(g3dir, rebuilt_index)
        assert rel == os.path.join(f"g1={g3[0]}", f"g2={g3[:2]}", f"g3={g3}")
    ours = {
        r["g3"]: r["n"]
        for r in spark.read.json(rebuilt_index)
        .groupBy("g3")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert ours == ref_counts
    assert max(ours.values()) <= 1024
