"""Heavy-hitter (frequent-items) detection at scale.

The exact ``groupBy(key).count()`` path shuffles one row per distinct key
per map partition — fine when the key space fits a shuffle, hopeless when
it's the token vocabulary of a 100 TB corpus. The classic two-pass scheme
(Misra-Gries 1982; the "frequent" algorithm) bounds state instead:

1. **Candidate pass** — each input partition maintains a Misra-Gries
   summary of capacity ``c`` (a dict of at most ``c`` counters) over its
   local stream and emits only the surviving keys. MG guarantees a key
   whose local frequency exceeds ``N_p / (c + 1)`` survives. By
   pigeonhole, any key with GLOBAL frequency ≥ phi * N must have local
   frequency ≥ phi * N_p in at least one partition, so with
   ``c + 1 > 1 / phi`` the union of per-partition survivors is a
   SUPERSET of every global heavy hitter — deterministically, for every
   possible partitioning of the data.
2. **Exact recount** — the (small) candidate set is broadcast back over
   the data; only candidate keys are counted exactly and thresholded.

The output is therefore EXACT (count ≥ ceil(phi*N) keys with exact
counts) while the shuffle carries per-partition candidate lists (≤ c rows
each) plus partial counts for ≤ |candidates| keys — never the full key
space. That is what makes the operator SQL-oracle-checkable: the DuckDB
twin is a plain GROUP BY ... HAVING count >= threshold.

No analogue in the reference repo (its vocabulary work is an eager
CountVectorizer fit, `Assignment 4.py:501`); this is the scale path for
the same vocabulary-style aggregation.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .joins import broadcast_null_safe_join


_NAN = float("nan")


def _mg_merge(counters: dict, batch_counts: dict, capacity: int) -> dict:
    """Merge a batch's exact counts into a Misra-Gries summary.

    Standard mergeable-summary step (Agarwal et al., PODS'12): add counts,
    then if more than ``capacity`` counters remain, subtract the
    (capacity+1)-th largest count from every counter and drop the
    non-positive ones. Total undercount stays ≤ N_seen / (capacity + 1).
    """
    for k, v in batch_counts.items():
        counters[k] = counters.get(k, 0) + v
    if len(counters) > capacity:
        cut = sorted(counters.values(), reverse=True)[capacity]
        counters = {k: v - cut for k, v in counters.items() if v > cut}
    return counters


def mg_candidates(
    df: DataFrame, key_col: str, capacity: int
) -> DataFrame:
    """Per-partition Misra-Gries survivor keys (the candidate superset).

    One ``mapInArrow`` pass; state is O(capacity) per partition. Each
    Arrow batch is reduced with Arrow's ``value_counts`` (vectorized, exact
    key types), so Python touches one dict-merge per batch, not one op per
    row.  NULL is one key (``None``), as in ``groupBy``.
    """
    schema = T.StructType([T.StructField(key_col, df.schema[key_col].dataType)])

    def part(batches: Iterator) -> Iterator:
        import pyarrow as pa

        counters: dict = {}
        for batch in batches:
            keys = batch.column(0)
            bc = {
                # NaN != NaN: map every NaN to one object, one counter
                _NAN if d["values"] != d["values"] else d["values"]: d["counts"]
                for d in keys.value_counts().to_pylist()
            }
            counters = _mg_merge(counters, bc, capacity)
        if counters:
            survivors = pa.array(list(counters), keys.type)
            yield pa.RecordBatch.from_arrays([survivors], [key_col])

    return df.select(key_col).mapInArrow(part, schema=schema).distinct()


def _cms_bucket(key, width: int):
    """Sketch row ``i``'s md5 bucket of ``key`` (see ``cms_sketch``); NULL
    for a NULL key."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cms"), F.col("i").cast("string"), F.lit("|"), key)), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % width
    )


def cms_sketch(df: DataFrame, key_col: str, depth: int = 3, width: int = 64) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) as a tiny DataFrame.

    One scan of the input: each row contributes ``depth`` (row, bucket)
    increments via an explode over the hash rows; the groupBy's map-side
    partial aggregation collapses everything to at most ``depth * width``
    rows per partition before the shuffle, so the shuffle volume is
    O(partitions * depth * width) — independent of N and of the key
    cardinality. Sketches are mergeable by construction (counts add
    per (row, bucket)), which is what makes per-day / per-shard sketch
    maintenance work at 100 TB.

    The bucket function is md5-derived (first 8 hex chars as an integer,
    mod width) so a DuckDB oracle can compute the identical sketch:
    ``('0x' || substr(md5('cms' || i || '|' || key), 1, 8))::UBIGINT % width``.
    """
    rows = F.array(*[F.lit(i) for i in range(depth)])
    return (
        df.select(F.col(key_col), F.explode(rows).alias("i"))
        .select("i", _cms_bucket(F.col(key_col), width).alias("b"))
        .groupBy("i", "b")
        .agg(F.count("*").alias("c"))
    )


def cms_estimate_report(
    df: DataFrame, key_col: str, depth: int = 3, width: int = 64
) -> DataFrame:
    """Per-key CMS estimate next to the exact count (the accuracy report a
    pipeline runs before trusting sketch-only counting at full scale).

    The sketch is ≤ depth*width rows, so the probe join broadcasts it; the
    only O(N) work is the one sketch-building scan and the exact groupBy
    (which the report needs anyway for the error column). CMS guarantees
    estimate ≥ exact for every key; a unit test asserts it and the
    mergeability identity.
    """
    sketch = cms_sketch(df, key_col, depth, width)
    probes = (
        df.groupBy(key_col)
        .agg(F.count("*").cast("bigint").alias("exact_count"))
        .withColumn("i", F.explode(F.array(*[F.lit(i) for i in range(depth)])))
        .withColumn("b", _cms_bucket(F.col(key_col), width))
    )
    # a NULL key's rows all hash to bucket NULL in each sketch row: the
    # null-safe sketch join finds them, and exact_count rides along as a
    # grouping key (one value per key), so no second join can drop the key
    return (
        broadcast_null_safe_join(probes, sketch, ["i", "b"])
        .groupBy(key_col, "exact_count")
        .agg(F.min("c").cast("bigint").alias("cms_estimate"))
        .select(
            key_col,
            "cms_estimate",
            "exact_count",
            (F.col("cms_estimate") - F.col("exact_count"))
            .cast("bigint")
            .alias("overcount"),
        )
    )


def heavy_hitters_exact(
    df: DataFrame, key_col: str, phi: float, capacity: int | None = None
) -> DataFrame:
    """Exact frequent items: keys with count ≥ ceil(phi * N), two-pass.

    ``capacity`` defaults to ``ceil(2 / phi)`` — twice the pigeonhole
    minimum, so per-partition undercount (≤ N_p/(capacity+1) ≤ phi*N_p/2)
    can never evict a key that is globally heavy. Returns
    (key, hh_count, n_total, threshold) with exact values; a NULL key is
    one key, matched to its candidate null-safe.
    """
    if capacity is None:
        capacity = int(2.0 / phi) + 1
    cand = mg_candidates(df, key_col, capacity)
    total = df.groupBy().agg(F.count("*").alias("n_total"))
    counted = (
        broadcast_null_safe_join(df, cand, [key_col], how="left_semi")
        .groupBy(key_col)
        .agg(F.count("*").alias("hh_count"))
    )
    return (
        counted.crossJoin(F.broadcast(total))
        .withColumn(
            "threshold", F.ceil(F.lit(phi) * F.col("n_total").cast("double"))
        )
        .filter(F.col("hh_count") >= F.col("threshold"))
        .select(
            key_col,
            F.col("hh_count").cast("bigint").alias("hh_count"),
            F.col("n_total").cast("bigint").alias("n_total"),
            F.col("threshold").cast("bigint").alias("threshold"),
        )
    )
