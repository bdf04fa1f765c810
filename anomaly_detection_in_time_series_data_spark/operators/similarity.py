"""Embedding similarity search (training-data pipeline).

- ``cosine_topk``: brute-force cosine top-k — the correctness baseline.
  Probe set broadcast against the corpus; per-row dot product via
  ``F.aggregate``/``zip_with`` (JVM higher-order functions, no UDF);
  top-k per probe via window row_number.
- ``lsh_topk``: random-hyperplane LSH bucketing — the scale path. Probes
  only compare against corpus vectors sharing a hash bucket (multi-probe
  over ``num_tables`` independent tables), turning the O(N*M) scan into
  bucket-local joins.

At 100 TB the corpus side stays partitioned; only probes (small) broadcast.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns (JVM-side)."""
    denom = _norm(a) * _norm(b)
    return F.when(denom > 0, _dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe vector.

    Returns (probe_id, neighbor_id, cosine_sim). Excludes self-matches.
    The probe side is broadcast (it is the small side by construction), so
    the corpus is scanned exactly once with no shuffle before the per-probe
    top-k window.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cvec"),
    )
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("_pvec"),
    )
    scored = (
        c.join(F.broadcast(p), F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", cosine(F.col("_pvec"), F.col("_cvec")))
        .drop("_cvec", "_pvec")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _hyperplanes(dim: int, num_planes: int, table: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no numpy RNG state, no seed
    drift across cluster sizes): components from a splitmix-style integer
    hash mapped to [-1, 1]."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            x = (table * 1_000_003 + p * 10_007 + d) * 0x9E3779B97F4A7C15 % (1 << 64)
            x ^= x >> 31
            x = x * 0xBF58476D1CE4E5B9 % (1 << 64)
            x ^= x >> 29
            row.append((x / float(1 << 64)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-hash bucket id for one LSH table: bit i = sign(vec . plane_i)."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = _dot(vec, F.array(*[F.lit(float(w)) for w in plane]))
        bucket = bucket + F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return bucket


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    dim: int = 64,
    num_planes: int = 8,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH.

    Each vector lands in one bucket per table; candidates are corpus rows
    sharing any (table, bucket) with the probe. The candidate join is an
    equi-join on (table, bucket) — bucket-local, never all-pairs. Recall
    grows with num_tables; cost with bucket occupancy (2^num_planes buckets).
    """
    def bucketed(df: DataFrame, out_id: str) -> DataFrame:
        vec = F.col(vec_col).cast("array<double>")
        rows = []
        for t in range(num_tables):
            planes = _hyperplanes(dim, num_planes, t)
            rows.append(
                F.struct(F.lit(t).alias("table"), lsh_bucket(vec, planes).alias("bucket"))
            )
        return df.select(
            F.col(id_col).alias(out_id),
            vec.alias(f"_{out_id}_vec"),
            F.explode(F.array(*rows)).alias("tb"),
        ).select(out_id, f"_{out_id}_vec", "tb.table", "tb.bucket")

    cb = bucketed(corpus, "neighbor_id")
    pb = bucketed(probes, "probe_id")
    cand = (
        cb.join(pb, on=["table", "bucket"])
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", "_probe_id_vec", "_neighbor_id_vec")
        .dropDuplicates(["probe_id", "neighbor_id"])
    )
    scored = cand.withColumn(
        "cosine_sim", cosine(F.col("_probe_id_vec"), F.col("_neighbor_id_vec"))
    ).select("probe_id", "neighbor_id", "cosine_sim")
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    Classic two-level ANN: KMeans(nlist) partitions the corpus into cells;
    each probe searches only its ``nprobe`` nearest cells. The cell
    assignment is a one-off batch job whose output would be persisted
    (partitioned by cell) in production; the probe-side search is an
    equi-join on cell id — at 100 TB it scans nprobe/nlist of the corpus
    instead of all of it, with partition pruning doing the skipping if the
    corpus is stored partitioned by cell.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.withColumn(
        "_v", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    model = KMeans(k=nlist, seed=seed, featuresCol="_v", predictionCol="_cell").fit(
        feat
    )
    assigned = model.transform(feat).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cvec"),
        F.col("_cell"),
    )
    centers = [
        [float(x) for x in np.asarray(c.toArray() if hasattr(c, "toArray") else c)]
        for c in model.clusterCenters()
    ]
    # nprobe nearest cells per probe: squared distance to each centroid as
    # column expressions over the broadcast (tiny) centroid list.
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("_pvec"),
    )
    dist_cells = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("_pvec"),
                        F.array(*[F.lit(x) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("d"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centers)
        ]
    )
    probe_cells = p.withColumn(
        "_cells", F.slice(F.array_sort(dist_cells), 1, nprobe)
    ).select(
        "probe_id", "_pvec", F.explode(F.col("_cells.cell")).alias("_cell")
    )
    cand = probe_cells.join(assigned, on="_cell").filter(
        F.col("probe_id") != F.col("neighbor_id")
    )
    scored = cand.withColumn(
        "cosine_sim", cosine(F.col("_pvec"), F.col("_cvec"))
    ).select("probe_id", "neighbor_id", "cosine_sim")
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _gemm_cells(
    df: DataFrame,
    *,
    key_cols: list[str],
    block_col: str,
    grid: int | None,
    cell,
    schema,
) -> DataFrame:
    """The grid-blocked GEMM plan of the all-pairs operators
    (``cosine_near_pairs_gemm``, ``timeseries.global_discords_gemm``).

    Rows hash into ``grid`` blocks on ``block_col`` (default
    ceil(sqrt(defaultParallelism)), at least 2). Pair work is symmetric, so
    only the upper triangle of cells is built: a row of block ``blk`` goes
    to cells ``(least(blk, o), greatest(blk, o))`` for o in 0..grid-1, so
    ``grid`` copies per row and each block pair meets in one cell. Cells are
    per ``key_cols`` value (NULL is one key). Each cell returns
    ``cell(key, a, b, diagonal)``, a pandas frame of ``schema``: ``a`` holds
    its rows of block ``_ra``, ``b`` those of block ``_cb`` (``b is a`` on
    the diagonal); a cell with an empty side emits nothing.

    The numbered repartition keeps AQE from coalescing the byte-light but
    BLAS-heavy cells into a couple of tasks (discords at sf0.1: 14.9s ->
    7.8s); the groupBy reuses its distribution, so there is one exchange.
    """
    sc = df.sparkSession.sparkContext
    if grid is None:
        grid = max(2, math.ceil(math.sqrt(sc.defaultParallelism)))
    both = (
        df.withColumn("_blk", F.pmod(F.xxhash64(block_col), F.lit(grid)).cast("int"))
        .withColumn("_o", F.explode(F.sequence(F.lit(0), F.lit(grid - 1))))
        .select(
            *df.columns, "_blk",
            F.least("_blk", "_o").alias("_ra"),
            F.greatest("_blk", "_o").alias("_cb"),
        )
    )

    def run(key, pdf):
        *k, ra, cb = key
        blk = pdf["_blk"].to_numpy()
        a = pdf[blk == ra]
        b = a if ra == cb else pdf[blk == cb]
        if a.empty or b.empty:
            return pd.DataFrame()
        return cell(tuple(k), a, b, ra == cb)

    return (
        both.repartition(sc.defaultParallelism, *key_cols, "_ra", "_cb")
        .groupBy(*key_cols, "_ra", "_cb")
        .applyInPandas(run, schema=schema)
    )


def cosine_near_pairs_gemm(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    grid: int | None = None,
) -> DataFrame:
    """All-pairs cosine near-duplicate pairs via DISTRIBUTED grid-blocked
    matrix multiply — no driver-side materialization, no broadcast.

    The per-pair expression formulation (crossJoin + aggregate lambda) is
    O(N^2 * d) scalar ops inside codegen — correct but ~50x slower than
    BLAS. The vectors run on the ``_gemm_cells`` plan, blocked on the id:
    each cell unit-normalizes its rows (a zero norm counts as 1) and GEMMs
    side a against side b, emitting (min id, max id) for every pair above
    ``threshold``. The diagonal cell keeps only id_a < id_b, so each
    unordered pair comes out of exactly one cell and no distinct is needed.

    Scale shape: shuffle volume is N*grid*d doubles (each vector ships to
    the ``grid`` cells of its block's row and column); per-cell memory is
    (N/grid)*d*2 — pick ``grid`` so a cell's two sub-blocks fit an
    executor. Only the O(N^2) dot products run in BLAS. The sub-quadratic
    100 TB path remains LSH/IVF bucketing (``lsh_topk`` / ``ivf_topk``).
    """
    v = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )

    def unit_rows(side):
        m = np.array(side["_v"].tolist(), dtype=np.float64)
        nrm = np.sqrt((m * m).sum(axis=1))
        return m / np.where(nrm == 0.0, 1.0, nrm)[:, None]

    def cell_pairs(key, a, b, diagonal):
        ua = unit_rows(a)
        ub = ua if diagonal else unit_rows(b)
        bi, bj = np.nonzero(ua @ ub.T > threshold)
        ia = a["_id"].to_numpy()[bi]
        ib = b["_id"].to_numpy()[bj]
        if diagonal:
            keep = ia < ib
            ia, ib = ia[keep], ib[keep]
        return pd.DataFrame({"vec_id_a": np.minimum(ia, ib), "vec_id_b": np.maximum(ia, ib)})

    return _gemm_cells(
        v, key_cols=[], block_col="_id", grid=grid, cell=cell_pairs,
        schema="vec_id_a long, vec_id_b long",
    )


# ---------------------------------------------------------------------------
# Semantic dedup: sign-quantized bucketing + intra-bucket near-dup pairs.
# The SemDeDup-style pipeline (public): coarse-cluster embeddings, compare
# ONLY within a cluster, drop all but one representative of each near-dup
# pair. Bucketing here is sign quantization over the first ``bits``
# coordinates — deterministic, closed-form, engine-portable (no trained
# centroids, no RNG), and the bucket count 2^bits is the parallelism/recall
# dial: more bits -> smaller buckets -> cheaper quadratic step, lower
# recall across bucket faces (same trade as IVF nprobe).
# ---------------------------------------------------------------------------


def sign_bucket(vec: Column, bits: int = 6) -> Column:
    """Integer bucket id from the signs of the first ``bits`` coordinates.

    ``try_element_at`` (not ``element_at``) so a prefix longer than the
    vector contributes 0-bits instead of throwing under ANSI mode — the
    adaptive extension may probe past short vectors.
    """
    b = F.lit(0)
    for i in range(bits):
        b = b + F.when(
            F.try_element_at(vec, F.lit(i + 1)) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return b.cast("int")


def adaptive_sign_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 6,
    cap: int | None = 4096,
    ext_bits: int = 4,
    levels: int = 2,
) -> DataFrame:
    """(_id, _v, bucket): sign buckets with per-bucket size bounded by
    recursive bit-extension.

    Fixed sign buckets are data-independent orthants; real embedding
    corpora are anisotropic, so one hot orthant can concentrate a large
    fraction of the corpus and re-create near-quadratic per-bucket work.
    Remedy: count each bucket, and for buckets larger than ``cap`` extend
    the sign prefix by ``ext_bits`` more coordinates (the longer prefix
    refines the shorter one — ``sign_bucket(v, b+k) mod 2^b ==
    sign_bucket(v, b)``), repeating up to ``levels`` times. Only oversized
    buckets pay the refinement; everyone else keeps the cheap coarse id.

    Final ids are disambiguated across levels by an accumulated offset
    (level-l ids live in ``[sum_{j<l} 2^bits_j, ...)``), so the downstream
    equi join never mixes granularities.

    Cost per level: one map-side-combinable groupBy producing at most
    #distinct-buckets rows (tiny — broadcast), plus a broadcast hash join
    against the corpus. No extra corpus shuffle. A bucket of identical
    sign patterns (exact-duplicate vectors) cannot be split by any prefix
    length — that residual is inherent to sign quantization and is the
    reason ``cap`` is a dial, not a hard guarantee.
    """
    c = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        sign_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    if cap is None:
        return c
    offset, cur_bits = 0, bits
    for _ in range(levels):
        oversized = (
            c.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > cap)
            .select(F.col("bucket").alias("_ob"))
        )
        offset += 1 << cur_bits
        cur_bits += ext_bits
        c = (
            c.join(F.broadcast(oversized), c["bucket"] == F.col("_ob"), "left")
            .withColumn(
                "bucket",
                F.when(
                    F.col("_ob").isNotNull(),
                    F.lit(offset) + sign_bucket(F.col("_v"), cur_bits),
                ).otherwise(F.col("bucket")),
            )
            .drop("_ob")
        )
    return c


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 6,
    threshold: float = 0.40,
    cap: int | None = None,
    ext_bits: int = 4,
    levels: int = 2,
) -> DataFrame:
    """(id_a, id_b, bucket, sim): same-bucket pairs with cosine >= threshold.

    The join is an equi join on the bucket id; the quadratic comparison is
    confined to each bucket (corpus/2^bits expected rows). At larger scale,
    raise ``bits`` so bucket sizes stay bounded — the per-bucket work is
    (n/2^bits)^2 * 2^bits = n^2 / 2^bits, a tunable 2^-bits discount on
    brute force, and the bucketed equi join shuffles each side once.
    With ``cap`` set, oversized buckets are recursively refined by
    ``adaptive_sign_buckets`` so a hot orthant cannot re-create
    near-quadratic work (splitting a bucket also splits its cross-face
    pairs — the same recall-for-cost trade as raising ``bits``).
    """
    c = adaptive_sign_buckets(df, id_col, vec_col, bits, cap, ext_bits, levels)
    return _pairs_from_bucketed(c, threshold)


def _pairs_from_bucketed(c: DataFrame, threshold: float) -> DataFrame:
    """Same-bucket above-threshold pairs from a (_id, _v, bucket) frame."""
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .withColumn("sim", cosine(F.col("a._v"), F.col("b._v")))
        .filter(F.col("sim") >= threshold)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.bucket").alias("bucket"),
            "sim",
        )
    )


def semantic_dedup_keep(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 6,
    threshold: float = 0.40,
    cap: int | None = None,
    ext_bits: int = 4,
    levels: int = 2,
) -> DataFrame:
    """(vec_id, bucket, keep): drop a vector iff it near-duplicates a
    LOWER-id vector in its bucket (the deterministic keep-the-min rule, so
    exactly one representative of each duplicate pair chain survives a
    single pass). Anti-join of the corpus against the pairs' high side.
    """
    assigned = adaptive_sign_buckets(
        df, id_col, vec_col, bits, cap, ext_bits, levels
    )
    pairs = _pairs_from_bucketed(assigned, threshold)
    dropped = pairs.select(F.col("id_b").alias("_drop_id")).distinct()
    c = assigned.select(F.col("_id").alias(id_col), "bucket")
    return c.join(
        dropped, c[id_col] == dropped._drop_id, "left"
    ).select(
        id_col, "bucket", F.col("_drop_id").isNull().alias("keep")
    )
