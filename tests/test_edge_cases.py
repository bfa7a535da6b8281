"""Empty-input and degenerate-input behavior across operators — the
cases a 100 TB pipeline hits constantly (empty partitions, empty
documents, filters that eliminate everything) and that must produce
empty-but-well-typed results, not exceptions.
"""

import pytest
from pyspark.sql import functions as F

import pandarus_spark as ps
from pandarus_spark.operators import dedup as D
from pandarus_spark.operators import similarity as S
from pandarus_spark.operators import textstats as T
from pandarus_spark.sources.pages import FEATURES_SCHEMA, extract_features, pages_df


def _empty_features(spark):
    return spark.createDataFrame([], FEATURES_SCHEMA)


def test_intersect_empty_probe_side(spark):
    grid = extract_features(pages_df(spark, "grid"))
    out = ps.intersect(_empty_features(spark), grid)
    assert out.count() == 0
    assert set(out.columns) >= {"id", "from_label", "to_label", "measure"}


def test_intersect_disjoint_inputs(spark):
    grid = extract_features(pages_df(spark, "grid"))
    big = extract_features(pages_df(spark, "big-grid"))
    assert ps.intersect(big, grid).count() == 0


def test_remaining_with_empty_intersections(spark):
    """No intersections at all ⇒ remaining == measure(original)
    (reference geometry.py:203-208 null-group branch)."""
    outside = extract_features(pages_df(spark, "outside"))
    grid = extract_features(pages_df(spark, "grid"))
    empty_inter = ps.intersect(_empty_features(spark), grid)
    rem = ps.calculate_remaining(outside, empty_inter).collect()
    assert len(rem) == 1
    # full square ≈ (4e7/360)² Mollweide m²
    assert rem[0]["remaining"] == pytest.approx((4e7 / 360) ** 2, rel=1e-2)


def test_dedup_ops_on_empty_and_blank_text(spark):
    docs = spark.createDataFrame([(0, ""), (1, " "), (2, "")],
                                 "doc_id long, text string")
    exact = {r["doc_id"]: r["group_size"] for r in D.exact_dedup(docs).collect()}
    assert exact == {0: 2, 1: 1}
    sigs = D.minhash_signatures(docs, num_hashes=4).collect()
    assert len(sigs) == 3 and all(len(r["sig"]) == 4 for r in sigs)
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             D.minhash_lsh_pairs(docs, num_hashes=4, bands=2, threshold=0.5).collect()}
    assert (0, 2) in pairs  # identical empties are near-dups at J=1
    assert D.simhash(docs).count() == 3


def test_duplicate_clusters_empty_pairs(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    universe = spark.range(5).withColumnRenamed("id", "doc_id")
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.duplicate_clusters(pairs, universe=universe).collect()}
    assert got == {i: i for i in range(5)}  # all singletons


def test_text_stats_empty_string(spark):
    docs = spark.createDataFrame([(0, "")], "doc_id long, text string")
    row = T.text_stats(docs).collect()[0]
    assert row["n_tokens"] == 0
    assert row["n_chars"] == 0
    assert row["lang_guess"] == "und"
    assert 0.0 <= row["quality"] <= 1.0
    assert row["dup_2gram_frac"] == 0.0


def test_similarity_empty_queries(spark):
    emb = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 1.0])],
                                "vec_id long, embedding array<float>")
    q = spark.createDataFrame([], "query_id long, qvec array<float>")
    assert S.cosine_topk(emb, q, k=3).count() == 0
    assert S.ivf_topk(emb, q, k=3, n_centroids=2, nprobe=2).count() == 0


def test_knn_empty_features_falls_back_cleanly(spark):
    from pandarus_spark.operators.knn import knn_nearest_feature
    q = spark.createDataFrame([(1, 0.0, 0.0)], "query_id long, qx double, qy double")
    out = knn_nearest_feature(q, _empty_features(spark), k=2)
    assert out.count() == 0


def test_knn_tolerates_missing_and_null_is_rect(spark):
    """Features without an is_rect column (documented minimal contract)
    or with NULL is_rect must route through the general kernel, not
    raise or silently vanish from the ranking."""
    from pandarus_spark.operators.knn import knn_nearest_feature
    grid = extract_features(pages_df(spark, "grid"))
    q = spark.createDataFrame([(1, 0.25, 0.25)], "query_id long, qx double, qy double")
    base = {(r["query_id"], r["feature_id"]): r["dist"]
            for r in knn_nearest_feature(q, grid, k=4).collect()}
    no_rect = grid.drop("is_rect")
    got1 = {(r["query_id"], r["feature_id"]): r["dist"]
            for r in knn_nearest_feature(q, no_rect, k=4).collect()}
    null_rect = grid.withColumn("is_rect", F.lit(None).cast("boolean"))
    got2 = {(r["query_id"], r["feature_id"]): r["dist"]
            for r in knn_nearest_feature(q, null_rect, k=4).collect()}
    assert set(got1) == set(base) and set(got2) == set(base)
    for k_ in base:
        assert got1[k_] == pytest.approx(base[k_], abs=1e-12)
        assert got2[k_] == pytest.approx(base[k_], abs=1e-12)


def test_ivf_empty_embeddings(spark):
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    q = spark.createDataFrame([(0, [1.0, 0.0])], "query_id long, qvec array<float>")
    out = S.ivf_topk(emb, q, k=3, n_centroids=4, nprobe=2)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cos", "rank"]


def test_ann_lsh_empty_embeddings(spark):
    # dim=None probes the corpus for its dimension: an empty corpus must
    # give the empty-but-well-typed result, not a NoneType subscript
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    q = spark.createDataFrame([(0, [1.0, 0.0])], "query_id long, qvec array<float>")
    for n_tables in (1, 16):
        out = S.ann_lsh_topk(emb, q, k=3, n_tables=n_tables)
        assert out.count() == 0
        assert out.columns == ["query_id", "neighbor_id", "cos", "rank"]


def test_ivf_zero_norm_vector_still_retrievable(spark):
    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    out = S.ivf_topk(emb, q, k=3, n_centroids=2, nprobe=2, exclude_self=False)
    # the zero vector lands in a real bucket (not NULL) — full probe
    # must see all three vectors
    assert {r["neighbor_id"] for r in out.collect()} == {0, 1, 2}
