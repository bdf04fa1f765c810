"""Unit tests for operator semantics on hand-built frames (reference
known-answer style, SURVEY.md §5): flatten naming, argmin determinism,
z-score math, dedup/LSH recall on planted duplicates, ANN vs brute force.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from anomaly_detection_in_time_series_data_spark.operators import (
    anomaly,
    contamination,
    dedup,
    packing,
    relational,
    sampling,
    similarity,
    text,
)


def test_flatten_structs_naming(spark):
    df = spark.createDataFrame(
        [Row(id=1, info=Row(a="x", b=2.0), other="y")]
    )
    out = relational.flatten_structs(df, ["info"])
    assert out.columns == ["id", "info_a", "info_b", "other"]
    row = out.collect()[0]
    assert row.info_a == "x" and row.info_b == 2.0 and row.other == "y"


def test_argmin_deterministic_on_ties(spark):
    df = spark.createDataFrame(
        [("g", 1.0, 10), ("g", 1.0, 3), ("g", 2.0, 1)], ["grp", "val", "id"]
    )
    out = relational.argmin_by(df, ["grp"], ["val", "id"]).collect()
    assert len(out) == 1 and out[0].id == 3  # ties break by id, not plan order


def test_rolling_zscore_math(spark):
    # values: 10 stable points then a spike; lookback window 5
    rows = [(i, float(10 + (i % 2)), "a") for i in range(10)] + [(10, 100.0, "a")]
    df = spark.createDataFrame(rows, ["event_id", "value", "event_type"])
    out = anomaly.rolling_zscore(
        df,
        partition_cols=["event_type"],
        order_cols=["event_id"],
        lookback=5,
        threshold=3.0,
    )
    res = {r.event_id: r for r in out.collect()}
    assert res[0].is_anomaly is False  # empty frame -> null sigma -> False
    assert res[10].is_anomaly is True  # spike flagged
    # Hand-check the spike's z-score: window = 5 alternating 10/11 values.
    vals = [float(10 + (i % 2)) for i in range(5, 10)]
    mu = sum(vals) / 5
    sd = math.sqrt(sum((v - mu) ** 2 for v in vals) / 4)
    assert abs(res[10].zscore - (100.0 - mu) / sd) < 1e-9


def test_global_zscore_matches_definition(spark):
    vals = [1.0, 2.0, 3.0, 4.0, 100.0]
    # the NULL group is one group of groupBy, scored like any other
    rows = [(i, v, "g") for i, v in enumerate(vals)]
    rows += [(10 + i, v, None) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, value double, grp string")
    out = anomaly.global_zscore(df, group_cols=["grp"], threshold=1.5)
    flagged = {r.id for r in out.collect() if r.is_anomaly}
    mu = sum(vals) / len(vals)
    sd = math.sqrt(sum((v - mu) ** 2 for v in vals) / (len(vals) - 1))
    expect = {i for i, v in enumerate(vals) if abs((v - mu) / sd) > 1.5}
    assert expect == {4}  # the spike's z is ~1.79
    assert flagged == expect | {10 + i for i in expect}


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "Hello  world"), (2, "hello world"), (3, "different text")],
        ["doc_id", "text"],
    )
    kept = sorted(r.doc_id for r in dedup.dedup_exact(df).collect())
    assert kept == [1, 3]  # whitespace/case-normalized dup collapses to min id


def test_minhash_lsh_finds_planted_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy")  # one-token change, high jaccard
    far = "completely unrelated content about spark catalyst optimizer internals"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    # both hash modes must recall the planted pair (xxhash64 = scale
    # default; md5 portable = the oracle-checked path)
    for portable in (False, True):
        pairs = dedup.lsh_candidate_pairs(
            df, num_hashes=32, bands=16, portable=portable
        )
        verified = dedup.jaccard_pairs(df, pairs, threshold=0.5).collect()
        assert {(r.id_a, r.id_b) for r in verified} == {(1, 2)}, portable


def test_jaccard_verify_counts_matches_array_verify(spark):
    """The count-based verify (no array-carrying join) must produce the
    identical pair set AND identical jaccard values as the array
    formulation — both are integer-count divisions over distinct sets."""
    docs = [
        (1, "the quick brown fox jumps over the lazy dog again and again " * 5),
        (2, ("the quick brown fox jumps over the lazy dog again and again " * 5
             ).replace("lazy", "sleepy")),
        (3, "completely unrelated content about spark catalyst optimizer internals"),
        (4, "the quick brown fox jumps over the lazy dog again and again " * 5),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = dedup.lsh_candidate_pairs(df, num_hashes=32, bands=16)
    old = {
        (r.id_a, r.id_b): round(r.jaccard, 12)
        for r in dedup.jaccard_pairs(df, pairs, threshold=0.3).collect()
    }
    new = {
        (r.id_a, r.id_b): round(r.jaccard, 12)
        for r in dedup.jaccard_verify_counts(df, pairs, threshold=0.3).collect()
    }
    assert old == new and (1, 4) in new and new[(1, 4)] == 1.0


def test_ngram_contamination_planted_overlap(spark):
    """An eval doc sharing an 8-token passage with a train doc must be
    flagged with exactly the shared grams counted; a disjoint eval doc
    must report zero hits (and still appear in the report)."""
    passage = "the quick brown fox jumps over the lazy dog tonight"  # 10 toks
    train = spark.createDataFrame(
        [(1, f"intro words here {passage} trailing text follows now")],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [
            (2, f"unrelated lead-in {passage} and a different tail entirely"),
            (3, "completely fresh sentence with no shared passage at all "
                "padded out to exceed eight whitespace tokens easily"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: r
        for r in contamination.ngram_contamination(train, ev).collect()
    }
    assert set(rows) == {2, 3}
    # The 10-token shared passage contributes exactly 3 shared 8-grams.
    assert rows[2].n_contaminated == 3
    assert rows[2].is_contaminated
    assert rows[3].n_contaminated == 0 and not rows[3].is_contaminated
    assert abs(rows[2].contaminated_frac - 3 / rows[2].n_grams) < 1e-15


def test_ngram_contamination_short_docs_excluded(spark):
    """Docs with fewer than n tokens carry no n-gram evidence: excluded
    from the report, and as train docs they contaminate nothing."""
    train = spark.createDataFrame([(1, "too short to matter")], ["doc_id", "text"])
    ev = spark.createDataFrame(
        [(2, "too short to matter"), (3, "one two three four five six seven eight")],
        ["doc_id", "text"],
    )
    rows = contamination.ngram_contamination(train, ev).collect()
    assert {r.doc_id for r in rows} == {3}
    assert rows[0].n_grams == 1 and rows[0].n_contaminated == 0


def _docs_of_token_counts(spark, counts):
    """One single-shard frame whose docs have exactly the given token counts."""
    rows = [(i, " ".join(["w"] * c) if c else "") for i, c in enumerate(counts)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_concat_chunk_packing_boundaries(spark):
    """Token counts 100+100+100 against budget 256: doc 2 straddles the
    first cut (offset 200..299 -> packs 0 and 1) and must carry is_split."""
    df = _docs_of_token_counts(spark, [100, 100, 100, 0])
    got = {
        r.doc_id: r
        for r in packing.concat_chunk_assignments(
            df, budget=256, n_shards=1
        ).collect()
    }
    assert (got[0].start_pack, got[0].end_pack, got[0].is_split) == (0, 0, False)
    assert (got[1].start_pack, got[1].end_pack, got[1].is_split) == (0, 0, False)
    assert (got[2].start_pack, got[2].end_pack, got[2].is_split) == (0, 1, True)
    # zero-token doc sits at offset 300 -> pack 1, never split
    assert (got[3].start_pack, got[3].end_pack, got[3].is_split) == (1, 1, False)


def test_greedy_packing_fill_and_oversize(spark):
    """Greedy fill at budget 256: 200 fits pack 0; 100 doesn't fit (300 >
    256) -> pack 1; 400 oversized opens pack 2 alone; next 10 -> pack 3."""
    df = _docs_of_token_counts(spark, [200, 100, 400, 10])
    got = {
        r.doc_id: r.pack_id
        for r in packing.greedy_pack_assignments(
            df, budget=256, n_shards=1
        ).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_greedy_packing_exact_fit_shares_pack(spark):
    df = _docs_of_token_counts(spark, [128, 128, 1])
    got = {
        r.doc_id: r.pack_id
        for r in packing.greedy_pack_assignments(
            df, budget=256, n_shards=1
        ).collect()
    }
    assert got == {0: 0, 1: 0, 2: 1}


def test_stratified_keep_is_deterministic_and_seed_sensitive(spark):
    df = spark.createDataFrame(
        [(i, f"document number {i} body", "en" if i % 2 else "de") for i in range(200)],
        ["doc_id", "text", "lang"],
    )
    thr = {"en": "8", "de": "8"}
    a = sampling.stratified_keep(df, "lang", thr, seed="s1|")
    b = sampling.stratified_keep(df, "lang", thr, seed="s1|")
    assert a.filter("_keep").count() == b.filter("_keep").count()  # reproducible
    kept_a = {r.doc_id for r in a.filter("_keep").collect()}
    kept_c = {
        r.doc_id
        for r in sampling.stratified_keep(df, "lang", thr, seed="s2|")
        .filter("_keep")
        .collect()
    }
    assert kept_a != kept_c  # a new seed redraws the sample
    # ~50% rate: comfortably inside [0.3, 0.7] at n=200
    assert 60 < len(kept_a) < 140
    # stratum not in thresholds keeps nothing
    none = sampling.stratified_keep(df, "lang", {"en": "8"}, seed="s1|")
    assert none.filter("lang = 'de' and _keep").count() == 0


def test_mixture_plan_caps_underresourced_stratum(spark):
    df = spark.createDataFrame(
        [(i, "x", "big" if i < 90 else "small") for i in range(100)],
        ["doc_id", "text", "src"],
    )
    plan = {
        r.src: r
        for r in sampling.mixture_plan(
            df, "src", {"big": 0.2, "small": 0.8}, target_frac=0.5
        ).collect()
    }
    # small stratum quota = 0.8*0.5*100 = 40 > its 10 docs -> rate capped at 1
    assert plan["small"].rate == 1.0 and plan["small"].expected_kept == 10.0
    # big stratum: 0.2*0.5*100/90 ≈ 0.111
    assert abs(plan["big"].rate - (0.2 * 0.5 * 100 / 90)) < 1e-12


def test_segment_containment_planted_subset(spark):
    """Doc 2 is doc 1's first 20 tokens verbatim -> both of its aligned
    10-token segments are shared, containment 1.0; doc 3 is disjoint."""
    base_tokens = [f"tok{i}" for i in range(30)]
    d1 = " ".join(base_tokens)
    d2 = " ".join(base_tokens[:20])
    d3 = " ".join(f"other{i}" for i in range(25))
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in dedup.segment_containment(df).collect()}
    assert got[2].n_segments == 2 and got[2].n_shared == 2
    assert got[2].containment_frac == 1.0 and got[2].is_contained
    assert got[1].n_segments == 3 and got[1].n_shared == 2
    assert not got[1].is_contained  # 2/3 < 0.8
    assert got[3].n_shared == 0 and not got[3].is_contained


def test_doc_segments_trailing_partial_kept(spark):
    df = spark.createDataFrame([(1, " ".join(f"w{i}" for i in range(12)))],
                               ["doc_id", "text"])
    segs = [r._seg for r in dedup.doc_segments(df).collect()]
    assert len(segs) == 2
    assert "w10 w11" in segs  # 2-token trailing partial segment survives


def test_semantic_dedup_keep_min_representative(spark):
    """Planted duplicate chain 1~2 and 2~3 (parallel vectors, same sign
    bucket): the single-pass min rule keeps 1, drops 2 and 3; the
    orthogonal vector 4 survives untouched."""
    vecs = [
        (1, [1.0, 2.0, 0.5, 0.0]),
        (2, [2.0, 4.0, 1.0, 0.0]),      # parallel to 1 (cos = 1)
        (3, [1.0, 2.0, 0.5, 1e-9]),     # ~parallel to both
        (4, [1.0, -2.0, 0.5, 0.0]),     # different sign bucket
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    keep = {
        r.vec_id: r.keep
        for r in similarity.semantic_dedup_keep(
            df, bits=3, threshold=0.99
        ).collect()
    }
    assert keep == {1: True, 2: False, 3: False, 4: True}
    pairs = similarity.semantic_dedup_pairs(df, bits=3, threshold=0.99)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_adaptive_sign_buckets_split_hot_orthant(spark):
    """Plant a hot orthant — 32 vectors sharing the same 2-bit sign prefix
    but diverse beyond it — plus a small cold bucket. With cap=8 the hot
    bucket must refine (bounded sub-buckets, distinct id space); the cold
    bucket must keep its coarse level-0 id untouched."""
    hot = [
        # dims 1-2 positive (bucket 3 at bits=2); dims 3-4 signs vary by i
        (i, [1.0, 1.0, 1.0 if i % 2 else -1.0, 1.0 if (i // 2) % 2 else -1.0])
        for i in range(32)
    ]
    cold = [(100 + i, [-1.0, -1.0, 1.0, 1.0]) for i in range(3)]
    df = spark.createDataFrame(hot + cold, ["vec_id", "embedding"])
    out = similarity.adaptive_sign_buckets(
        df, bits=2, cap=8, ext_bits=2, levels=2
    ).collect()
    buckets = {}
    for r in out:
        buckets.setdefault(r.bucket, []).append(r._id)
    # cold bucket: untouched level-0 id (bits=2 -> id 0), size 3
    assert buckets[0] == [100, 101, 102]
    # hot orthant: split into 4 level-1 sub-buckets of 8, all in the
    # level-1 id space [4, 4+16) and each within the cap (so level 2
    # leaves them alone)
    hot_buckets = {b: ids for b, ids in buckets.items() if b != 0}
    assert len(hot_buckets) == 4
    assert all(4 <= b < 20 for b in hot_buckets)
    assert all(len(ids) == 8 for ids in hot_buckets.values())
    # candidate-pair work is bounded: sum of per-bucket n^2 collapses from
    # 32^2=1024 to 4*64=256
    assert sum(len(v) ** 2 for v in hot_buckets.values()) == 256


def test_adaptive_sign_buckets_second_level(spark):
    """A bucket still oversized after one extension refines again at
    level 2, landing in the level-2 id space."""
    # 12 vectors identical on dims 1-4 (so level-1 at bits 2+2=4 cannot
    # split them) but split 6/6 on dim 5 -> level 2 (bits=6) separates.
    vecs = [
        (i, [1.0, 1.0, 1.0, 1.0, 1.0 if i < 6 else -1.0, 1.0])
        for i in range(12)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = similarity.adaptive_sign_buckets(
        df, bits=2, cap=8, ext_bits=2, levels=2
    ).collect()
    sizes = {}
    for r in out:
        sizes[r.bucket] = sizes.get(r.bucket, 0) + 1
    # level-2 offset is 4 + 16 = 20; both sub-buckets sized 6 <= cap
    assert all(b >= 20 for b in sizes)
    assert sorted(sizes.values()) == [6, 6]


def test_sign_bucket_splits_by_coordinate_signs(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [1.0, -1.0]), (3, [-1.0, 1.0])],
        ["vec_id", "embedding"],
    )
    got = {
        r.vec_id: r.b
        for r in df.select(
            "vec_id",
            similarity.sign_bucket(F.col("embedding"), bits=2).alias("b"),
        ).collect()
    }
    assert got == {1: 3, 2: 1, 3: 2}


def test_simhash_close_for_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    near = base.replace("delta", "delt")
    far = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["doc_id", "text"])
    out = {r.doc_id: r.sh for r in df.select("doc_id", dedup.simhash64().alias("sh")).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(out[1], out[2]) < ham(out[1], out[3])

    # The scale formulation computes the identical signature.
    sig = {r.doc_id: r.simhash for r in dedup.simhash_signatures(df).collect()}
    assert sig == out


def test_simhash_near_pairs_blocking(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    near = base.replace("kappa ", "kappa! ", 1)  # tiny perturbation
    far = "one two three four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["doc_id", "text"])
    for portable in (False, True):
        # max_hamming=8 with 4 bands is above the pigeonhole radius (needs
        # 9 bands) — heuristic-recall territory, opted into explicitly.
        pairs = dedup.simhash_near_pairs(
            df, max_hamming=8, portable=portable, strict_recall=False
        )
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (1, 2) in got and (1, 3) not in got and (2, 3) not in got, portable


def test_simhash_near_pairs_rejects_unguaranteed_banding(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_pairs(df, prefix_bits=20, portable=True)
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_pairs(df, max_hamming=8)


def test_lsh_topk_recall_against_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, probes, k=3).collect()
    approx = similarity.lsh_topk(emb, probes, k=3, num_planes=4, num_tables=8).collect()
    exact_pairs = {(r.probe_id, r.neighbor_id) for r in exact}
    approx_pairs = {(r.probe_id, r.neighbor_id) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5  # probabilistic, deterministic planes -> stable


def test_quantized_ann_recall_against_bruteforce(spark, sf_dir):
    """Symmetric int8 quantization must preserve cosine top-k order on the
    unit-norm fixture (measured recall@5 = 0.98; affine per-dim codes
    score 0.04 — this test pins the correct scheme)."""
    import __spark_entry__ as entry

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(emb, probes, k=5).collect()
    approx = entry.queries()["quantized_ann_topk"](spark, sf_dir).collect()
    exact_pairs = {(r.probe_id, r.neighbor_id) for r in exact}
    approx_pairs = {(r.probe_id, r.neighbor_id) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.8


def test_lang_id_on_known_text(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in the house with it"),
            (2, "el perro y la casa de los gatos por una calle"),
            (3, "xyzzy plugh"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang_pred for r in text.with_lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "und"


def test_token_stats_empty_and_whitespace(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two  three")], ["doc_id", "text"]
    )
    out = {r.doc_id: r.n_tokens for r in text.with_token_stats(df).collect()}
    assert out == {1: 0, 2: 0, 3: 3}


def test_sha2_bucket_matches_hashlib(spark):
    import hashlib

    df = spark.createDataFrame([(42,)], ["k"])
    got = df.select(relational.sha2_bucket("k").alias("b")).collect()[0].b
    assert got == hashlib.sha256(b"42").hexdigest()[0]


def test_nearest_center_label(spark):
    df = spark.createDataFrame(
        [(1, 41.0, -96.0), (2, 45.0, -121.0), (3, 39.0, -78.0)],
        ["id", "lat", "lon"],
    )
    centers = [
        ("central", 41.1544433, -96.0422378),
        ("west", 45.5945645, -121.1786823),
        ("east", 39.08344, -77.6497145),
    ]
    out = {r.id: r.location for r in
           relational.nearest_center_label(df, centers, "lat", "lon").collect()}
    assert out == {1: "central", 2: "west", 3: "east"}


def test_ivf_topk_recall_against_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, probes, k=3).collect()
    approx = similarity.ivf_topk(emb, probes, k=3, nlist=8, nprobe=4).collect()
    exact_pairs = {(r.probe_id, r.neighbor_id) for r in exact}
    approx_pairs = {(r.probe_id, r.neighbor_id) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5


def test_connected_components_multi_hop_chain(spark):
    from anomaly_detection_in_time_series_data_spark.operators.dedup import (
        connected_components,
    )

    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, disjoint pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_exact_jaccard_edges_planted_near_dup(spark):
    from anomaly_detection_in_time_series_data_spark.operators.dedup import (
        exact_jaccard_edges,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " tail"),          # near-dup of 1
            (3, "completely different words in this one entirely"),
        ],
        "doc_id long, text string",
    )
    edges = exact_jaccard_edges(docs, threshold=0.5).collect()
    assert [(e["id_a"], e["id_b"]) for e in edges] == [(1, 2)]
    assert edges[0]["jaccard"] > 0.8


def test_scd2_merge_versions_and_history(spark):
    import datetime as dt

    from anomaly_detection_in_time_series_data_spark.operators.cdc import scd2_merge

    t = lambda d: dt.datetime(2024, 1, d)  # noqa: E731
    current = spark.createDataFrame(
        [
            # k=1: one closed version + one open
            (1, "a-v1", t(1), t(5)),
            (1, "a-v2", t(5), None),
            # k=2: open, will be unchanged
            (2, "b-v1", t(2), None),
            # k=3: open, will change
            (3, "c-v1", t(3), None),
        ],
        "k int, val string, valid_from timestamp, valid_to timestamp",
    )
    updates = spark.createDataFrame(
        [
            (2, "b-v1", t(9)),   # same value -> no-op
            (3, "c-v2", t(9)),   # changed -> close + new version
            (4, "d-v1", t(9)),   # new key -> new open version
        ],
        "k int, val string, ts timestamp",
    )
    out = scd2_merge(
        current, updates, keys=["k"], tracked=["val"], ts_col="ts"
    )
    rows = {(r.k, r.val): (r.valid_from, r.valid_to) for r in out.collect()}
    assert len(rows) == 6
    assert rows[(1, "a-v1")] == (t(1), t(5))      # closed history untouched
    assert rows[(1, "a-v2")] == (t(5), None)      # open, no update
    assert rows[(2, "b-v1")] == (t(2), None)      # unchanged (idempotent)
    assert rows[(3, "c-v1")] == (t(3), t(9))      # closed at update ts
    assert rows[(3, "c-v2")] == (t(9), None)      # new open version
    assert rows[(4, "d-v1")] == (t(9), None)      # brand-new key
    # Idempotence: re-applying the same updates changes nothing.
    again = scd2_merge(out, updates, keys=["k"], tracked=["val"], ts_col="ts")
    assert {(r.k, r.val, r.valid_from, r.valid_to) for r in again.collect()} == {
        (r.k, r.val, r.valid_from, r.valid_to) for r in out.collect()
    }


def test_observation_metrics_single_pass(spark, sf_dir):
    """Data-quality metrics via observe(): null/row counts collected as a
    side effect of the ONE action that materializes the result — no second
    scan (the pattern for pipeline health metrics at 100 TB)."""
    from pyspark.sql import Observation

    from anomaly_detection_in_time_series_data_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    obs = Observation("quality")
    observed = docs.observe(
        obs,
        F.count("*").alias("n_rows"),
        F.sum(F.col("text").isNull().cast("long")).alias("n_null_text"),
        F.sum((F.length("text") < 10).cast("long")).alias("n_tiny_docs"),
    )
    n_out = observed.filter(F.col("n_chars") > 0).count()  # the real action
    got = obs.get
    assert got["n_rows"] >= n_out
    assert got["n_null_text"] == 0
    assert got["n_tiny_docs"] >= 0


# ---------------------------------------------------------------------------
# Contrastive pair mining (round 3)
# ---------------------------------------------------------------------------


def _cp_expected(rows):
    """Pure-Python replication of contrastive_pairs for planted data."""
    import hashlib

    def h(salt, i):
        return hashlib.md5(f"{salt}{i}".encode()).hexdigest()

    by_label: dict = {}
    for lab, i in rows:
        by_label.setdefault(lab, []).append(i)
    g1 = min(rows, key=lambda r: (h("neg|", r[1]), r[1]))
    others = [r for r in rows if r[0] != g1[0]]
    g2 = min(others, key=lambda r: (h("neg|", r[1]), r[1])) if others else None
    out = {}
    for lab, ids in by_label.items():
        if len(ids) < 2:
            continue
        ranked = sorted(ids, key=lambda i: (h("cp|", i), i))
        neg = g1[1] if g1[0] != lab else (g2[1] if g2 else None)
        out[lab] = (ranked[0], ranked[1], neg)
    return out


def test_contrastive_pairs_deterministic_and_cross_label(spark):
    rows = [("a", i) for i in range(10)] + [("b", i) for i in range(10, 18)] + [
        ("solo", 99)
    ]
    df = spark.createDataFrame(rows, ["label", "vec_id"]).repartition(7)
    got = {
        r["label"]: (r["anchor_id"], r["positive_id"], r["negative_id"])
        for r in sampling.contrastive_pairs(df, "label", "vec_id").collect()
    }
    assert got == _cp_expected(rows)
    assert "solo" not in got  # single-member labels have no positive
    # the negative NEVER shares the anchor's label — including for the
    # label that owns the global salted-hash minimum
    id2label = dict((i, l) for l, i in rows)
    for lab, (_, _, neg) in got.items():
        assert id2label[neg] != lab


def test_contrastive_pairs_single_label_yields_null_negative(spark):
    df = spark.createDataFrame([("only", i) for i in range(4)], ["label", "vec_id"])
    rows = sampling.contrastive_pairs(df, "label", "vec_id").collect()
    assert len(rows) == 1 and rows[0]["negative_id"] is None


def test_contrastive_pairs_empty_input_yields_empty(spark):
    # ADVICE r3: empty input must return an empty frame, not IndexError
    # from the global-negative collect
    df = spark.createDataFrame([], "label string, vec_id long")
    out = sampling.contrastive_pairs(df, "label", "vec_id")
    assert out.columns == ["label", "anchor_id", "positive_id", "negative_id"]
    assert out.count() == 0


def test_drift_statistics_invariants(spark, sf_dir):
    """PSI is a sum of (q-p)ln(q/p) terms, each >= 0, so the statistic is
    non-negative; the KS statistic is a max of absolute ECDF gaps in
    [0, 1]. Both must cover every baseline event_type with current rows."""
    import __spark_entry__ as entry

    psi = entry.queries()["psi_value_drift"](spark, sf_dir).collect()
    ks = entry.queries()["ks_value_drift"](spark, sf_dir).collect()
    assert len(psi) == len(ks) > 0
    for r in psi:
        assert r.psi >= 0.0 and r.n_base > 0 and r.n_cur > 0
    for r in ks:
        assert 0.0 <= r.ks <= 1.0
