"""Totality on empty inputs: every operator must return an empty result
with the right schema — never throw — when fed zero rows (the reference's
pipelines crashed on edge inputs; ours must not)."""

from __future__ import annotations

from pyspark.sql import functions as F

from anomaly_detection_in_time_series_data_spark.operators import (
    anomaly,
    dedup,
    relational,
    similarity,
    text,
)


def _empty_events(spark):
    return spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_anomaly_ops_on_empty(spark):
    ev = _empty_events(spark)
    assert anomaly.flag_event_anomalies(ev, lookback=5, threshold=3.0).count() == 0
    assert (
        anomaly.ewma_anomaly(
            ev, key_col="event_type", ts_col="ts", value_col="value"
        ).count()
        == 0
    )
    # the chunked scorers: an empty state pass and an empty union
    assert anomaly.ewma_anomaly_chunked(ev).count() == 0
    assert anomaly.holt_forecast_anomaly_chunked(ev).count() == 0


def test_dedup_ops_on_empty(spark):
    docs = _empty_docs(spark)
    assert dedup.dedup_exact(docs).count() == 0
    assert dedup.exact_jaccard_edges(docs).count() == 0
    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(edges).count() == 0
    assert dedup.simhash_signatures(docs).count() == 0


def test_similarity_on_empty(spark):
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    probes = spark.createDataFrame(
        [(0, [0.1] * 4)], "vec_id long, embedding array<float>"
    )
    assert similarity.cosine_topk(emb, probes, k=3).count() == 0


def test_adaptive_buckets_on_empty(spark):
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert similarity.adaptive_sign_buckets(emb, cap=4).count() == 0
    assert similarity.semantic_dedup_pairs(emb, cap=4).count() == 0
    # keep verdict on empty corpus is an empty report, not an error
    assert similarity.semantic_dedup_keep(emb, cap=4).count() == 0


def test_asof_join_empty_right_side(spark):
    import datetime as dt

    from anomaly_detection_in_time_series_data_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2), "e1")], "k long, ts timestamp, eid string"
    )
    right = spark.createDataFrame([], "k long, rts timestamp, rv long")
    for direction in ("backward", "forward"):
        out = asof_join(
            left, right, keys=["k"], left_ts="ts", right_ts="rts",
            direction=direction,
        ).collect()
        assert len(out) == 1 and out[0].rv is None


def test_text_ops_on_empty_and_whitespace(spark):
    docs = spark.createDataFrame([(1, "   "), (2, "")], "doc_id long, text string")
    toked = docs.select("doc_id", text.tokens(F.col("text")).alias("t"))
    assert all(r["t"] == [] for r in toked.collect())
    assert text.term_frequencies(_empty_docs(spark)).count() == 0


def test_round5_wave_queries_on_empty_fixtures(spark, tmp_path):
    """The round-5 second-wave registry queries must be total on
    zero-row fixture tables: empty result, right schema, no throw."""
    from anomaly_detection_in_time_series_data_spark import queries as q

    d = str(tmp_path)
    spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{d}/events.parquet")
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<double>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")
    spark.createDataFrame(
        [],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).write.parquet(f"{d}/customer.parquet")
    spark.createDataFrame(
        [],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.parquet(f"{d}/part.parquet")
    for name in (
        "skyline_parts_pareto",
        "interval_union_coverage",
        "fuzzy_name_linkage",
        "grid_hotspot_stencil",
        "welch_t_drift",
        "bitmap_segment_overlap",
        "inverted_posting_lists",
    ):
        out = q.QUERIES[name](spark, d)
        assert out.count() == 0, name
