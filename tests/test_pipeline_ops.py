"""Training-data pipeline operators: dedup suite, similarity search,
text stats, multimodal plumbing — including cross-engine (DuckDB)
value parity for the md5-derived hashes."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from pandarus_spark.operators import dedup as D
from pandarus_spark.operators import similarity as S
from pandarus_spark.operators import textstats as T
from pandarus_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "completely different text with unique words here"),
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (4, "der hund ist nicht der gleiche wie die katze und das"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r["group_size"] for r in D.exact_dedup(docs).collect()}
    assert out[0] == 2          # docs 0 and 3 collapse; min id kept
    assert 3 not in out
    assert out[1] == 1 and out[2] == 1


def test_minhash_duckdb_parity(spark, docs):
    got = {r["doc_id"]: r["sig"] for r in D.minhash_signatures(docs, num_hashes=4).collect()}
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    sql_sigs = {}
    # sig_i = list_min([(A_i*h + B_i) % P for h in base-hash list])
    for row in con.execute(D.minhash_sql(4, source="docs")).fetchall():
        sql_sigs[row[0]] = list(row[1:])
    for d in got:
        assert got[d] == sql_sigs[d], d


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in D.minhash_lsh_pairs(docs, num_hashes=16, bands=8, threshold=0.5).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0          # exact dup
    assert (0, 1) in pairs and 0.5 <= pairs[(0, 1)] < 1.0    # near dup
    assert not any({a, b} & {2} for a, b in pairs)


def test_ngram_jaccard_is_exact_oracle(spark, docs):
    lsh = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in D.minhash_lsh_pairs(docs, num_hashes=16, bands=8, threshold=0.5).collect()}
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert lsh == exact  # at this band setting recall is 1.0 on the fixture


def _brute_components(n_nodes, edges):
    parent = list(range(n_nodes))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {i: find(i) for i in range(n_nodes)}


def test_duplicate_clusters_matches_union_find(spark):
    """large-star/small-star connected components == driver union-find
    on a seeded random graph (chains, cliques, singletons)."""
    rng = np.random.default_rng(42)
    n = 120
    edges = {(int(a), int(b)) for a, b in rng.integers(0, n, size=(150, 2)) if a != b}
    edges |= {(i, i + 1) for i in range(100, 110)}          # a long chain
    expected = _brute_components(n, edges)

    pairs = spark.createDataFrame([(a, b) for a, b in sorted(edges)],
                                  "doc_a long, doc_b long")
    universe = spark.range(n).withColumnRenamed("id", "doc_id")
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.duplicate_clusters(pairs, universe=universe).collect()}
    assert got == expected


def test_duplicate_clusters_duckdb_oracle_parity(spark, docs):
    """The recursive-CTE oracle and the Spark operator agree on the
    simhash near-dup graph over the docs fixture."""
    pairs = D.simhash_neardup_pairs(docs, max_hamming=16, bands=17)
    got = {(r["doc_id"], r["cluster_id"])
           for r in D.duplicate_clusters(pairs, universe=docs).collect()}

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    sh = D.simhash_sql()
    pairs_sql = f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM ({sh}) a JOIN ({sh}) b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 16"""
    sql = D.duplicate_clusters_sql(pairs_sql, "SELECT doc_id FROM documents")
    want = {(r[0], r[1]) for r in con.execute(sql).fetchall()}
    assert got == want
    assert len(got) == docs.count()


def test_simhash_near_for_near_dups(spark, docs):
    out = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    h01 = bin((out[0] ^ out[1]) & 0xFFFFFFFFFFFFFFFF).count("1")
    h02 = bin((out[0] ^ out[2]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert out[0] == out[3]          # identical text -> identical simhash
    assert h01 < h02                 # near dup closer than unrelated


def test_duplicate_clusters_nonconvergence_raises(spark):
    """Exhausting max_iterations without the fixpoint must raise, not
    silently return under-merged clusters (round-2 advisor item)."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(50)],
                                  "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.duplicate_clusters(pairs, max_iterations=1)
    out = D.duplicate_clusters(pairs)  # default budget converges
    assert {r["cluster_id"] for r in out.collect()} == {0}


def _random_cluster_graph(seed, n=200):
    """Seeded edge list over a shuffled labelling of 0..n-1: a random
    forest, a 72-node path, random cycles, duplicate and reversed
    edges and self-loops; about 40 ids are in no edge."""
    rng = np.random.default_rng(seed)
    edges = [(i, int(rng.integers(0, i))) for i in range(1, 40) if rng.random() < 0.8]
    edges += [(i, i + 1) for i in range(40, 111)]
    edges += [tuple(int(x) for x in rng.integers(112, 160, size=2)) for _ in range(30)]
    edges += edges[:10] + [(b, a) for a, b in edges[10:20]]
    edges += [(int(k), int(k)) for k in rng.integers(0, n, size=5)]
    label = rng.permutation(n)
    return [(int(label[a]), int(label[b])) for a, b in edges]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_duplicate_clusters_matches_union_find_on_random_graphs(spark, seed):
    """Forests, a path of 72 nodes, duplicate and reversed edges and
    self-loops: the clusters equal a driver union-find's, with the
    universe's edge-free ids as singletons and, without a universe,
    exactly the ids on a non-loop edge."""
    n = 200
    edges = _random_cluster_graph(seed, n)
    expected = _brute_components(n, edges)
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    universe = spark.range(n).withColumnRenamed("id", "doc_id")
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.duplicate_clusters(pairs, universe=universe).collect()}
    assert got == expected
    rows = D.duplicate_clusters(pairs).collect()
    linked = {x for a, b in edges if a != b for x in (a, b)}
    assert len(rows) == len(linked)
    assert {r["doc_id"]: r["cluster_id"] for r in rows} == {i: expected[i] for i in linked}


def _jobs_in_group(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_duplicate_clusters_clique_converges_in_one_round(spark):
    """A complete 5-node group (dedup_lsh's cluster shape) is a star
    after one large-star/small-star round: a one-round budget runs as
    many jobs as the default budget, and fewer than a 4-path, which
    needs two rounds."""
    ids = [56, 3, 91, 17, 42]
    clique = spark.createDataFrame([(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]],
                                   "doc_a long, doc_b long")
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "doc_a long, doc_b long")
    one, one_round = _jobs_in_group(spark, "clique-one-round",
                                    lambda: D.duplicate_clusters(clique, max_iterations=1))
    _, default = _jobs_in_group(spark, "clique-default",
                                lambda: D.duplicate_clusters(clique))
    _, two_rounds = _jobs_in_group(spark, "path-two-rounds",
                                   lambda: D.duplicate_clusters(path, max_iterations=2))
    assert one_round == default < two_rounds
    with pytest.raises(RuntimeError, match="did not converge"):
        D.duplicate_clusters(path, max_iterations=1)
    assert sorted(tuple(r) for r in one.collect()) == [(i, 3) for i in sorted(ids)]


def test_cosine_topk_exact(spark):
    vecs = [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = spark.createDataFrame([(0, [1.0, 0.0, 0.0])], "query_id long, qvec array<float>")
    out = S.cosine_topk(emb, q, k=2).collect()
    ranked = [(r["rank"], r["neighbor_id"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [(1, 1), (2, 2)]


def test_ann_lsh_self_retrieval(spark):
    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(50)],
        "vec_id long, embedding array<float>")
    q = emb.limit(3).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    out = S.ann_lsh_topk(emb, q, k=3, n_tables=1, n_planes=4)
    rows = out.collect()
    assert all(r["cos"] <= 1.0 + 1e-9 for r in rows)
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)
    # bucketed candidates are a subset of brute force
    brute = S.cosine_topk(emb, q, k=50)
    bcos = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in brute.collect()}
    for r in rows:
        assert bcos[(r["query_id"], r["neighbor_id"])] == pytest.approx(r["cos"], abs=1e-6)


def test_ann_multiprobe_recall_floor(spark):
    """Round-4 recall gate (r3 verdict #5): the multi-table SRP union
    at the driver-gate configuration (16 tables x 4 planes) must
    recover >= 80% of the brute-force top-k on the testdata embeddings
    (measured: 1.0 at both sf0.001 and sf0.01 — random embeddings are
    the WORST case for SRP, clustered real embeddings only do better)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    brute = {(r["query_id"], r["neighbor_id"])
             for r in S.cosine_topk(emb, q, k=3).collect()}
    ann = {(r["query_id"], r["neighbor_id"])
           for r in S.ann_lsh_topk(emb, q, k=3, n_tables=16,
                                   n_planes=4, dim=64).collect()}
    assert len(brute) == 15
    assert len(ann & brute) / len(brute) >= 0.8


def test_ann_multiprobe_matches_duckdb_oracle(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    got = sorted(map(tuple, S.ann_lsh_topk(
        emb, q, k=3, n_tables=16, n_planes=4, dim=64).collect()))
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                "'/root/testdata/sf0.001/embeddings.parquet'")
    want = sorted(map(tuple, con.execute(
        S.ann_lsh_sql(k=3, n_tables=16, n_planes=4, dim=64)).fetchall()))
    assert got == want


def test_minhash_lsh_recall_floor(spark):
    """LSH pair recall vs the exact all-pairs baseline at the
    driver-gate configuration — measured 1.0 on the testdata corpora;
    floor stated at 0.9."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lsh = {(r["doc_a"], r["doc_b"]) for r in D.minhash_lsh_pairs(
        docs, num_hashes=16, bands=8, threshold=0.2).collect()}
    true = {(r["doc_a"], r["doc_b"]) for r in D.ngram_jaccard_pairs(
        docs, k=3, threshold=0.2).collect()}
    assert len(true) > 0
    assert len(lsh & true) / len(true) >= 0.9


def test_minhash_lsh_matches_duckdb_oracle(spark):
    """The FULL banded LSH pipeline against its round-4 lockstep SQL
    (exact-dup collapse, signatures, banding, verify, expansion)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = sorted(map(tuple, D.minhash_lsh_pairs(
        docs, num_hashes=16, bands=8, threshold=0.2).collect()))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                "'/root/testdata/sf0.001/documents.parquet'")
    want = sorted(map(tuple, con.execute(D.minhash_lsh_sql(
        num_hashes=16, bands=8, k=3, threshold=0.2)).fetchall()))
    assert got == want


def test_ivf_full_probe_equals_bruteforce(spark):
    """nprobe == n_centroids probes every bucket — IVF must reproduce
    brute-force top-k exactly (the driver-gate configuration)."""
    rng = np.random.default_rng(11)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(80)],
        "vec_id long, embedding array<float>")
    q = emb.limit(4).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    ivf = sorted(map(tuple, S.ivf_topk(emb, q, k=3, n_centroids=4, nprobe=4).collect()))
    brute = sorted(map(tuple, S.cosine_topk(emb, q, k=3).collect()))
    assert ivf == brute


def test_ivf_partial_probe_recall_on_clustered_data(spark):
    """Two well-separated clusters, nprobe=1: every query must retrieve
    only in-cluster neighbors, with cosines matching brute force."""
    rng = np.random.default_rng(5)
    a = rng.standard_normal(12); a /= np.linalg.norm(a)
    b = -a  # antipodal cluster centers
    rows = []
    for i in range(30):
        center = a if i % 2 == 0 else b
        v = center + 0.05 * rng.standard_normal(12)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    out = S.ivf_topk(emb, q, k=5, n_centroids=2, nprobe=1).collect()
    assert len(out) == 10
    for r in out:
        assert r["neighbor_id"] % 2 == r["query_id"] % 2  # same cluster
    bcos = {(r["query_id"], r["neighbor_id"]): r["cos"]
            for r in S.cosine_topk(emb, q, k=30).collect()}
    for r in out:
        assert bcos[(r["query_id"], r["neighbor_id"])] == pytest.approx(r["cos"], abs=1e-6)


def test_ivf_big_codebook_udf_path_full_probe(spark, monkeypatch):
    """n_centroids above _CENTROID_LITERAL_MAX takes the broadcast-codebook
    Arrow path; at full probe it must still equal brute force exactly."""
    monkeypatch.setattr(S, "_CENTROID_LITERAL_MAX", 64)
    rng = np.random.default_rng(13)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(300)],
        "vec_id long, embedding array<float>")
    q = emb.limit(3).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    ivf = sorted(map(tuple, S.ivf_topk(emb, q, k=3, n_centroids=96,
                                       nprobe=96).collect()))
    brute = sorted(map(tuple, S.cosine_topk(emb, q, k=3).collect()))
    assert ivf == brute


def test_ivf_udf_and_literal_paths_agree(spark, monkeypatch):
    """Same codebook, partial probe: the broadcast-UDF path must pick
    the same buckets/probes as the literal path (tie-break parity)."""
    rng = np.random.default_rng(17)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(12)]) for i in range(120)],
        "vec_id long, embedding array<float>")
    q = emb.limit(5).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    cents = S.train_ivf_centroids(emb, n_centroids=8, iters=5)
    monkeypatch.setattr(S, "_CENTROID_LITERAL_MAX", 64)
    lit = sorted(map(tuple, S.ivf_topk(emb, q, k=4, nprobe=2,
                                       centroids=cents).collect()))
    monkeypatch.setattr(S, "_CENTROID_LITERAL_MAX", 0)
    udf = sorted(map(tuple, S.ivf_topk(emb, q, k=4, nprobe=2,
                                       centroids=cents).collect()))
    assert lit == udf


def test_cosine_neardup_bucketed_exhaustive_matches_bruteforce(spark):
    """With an exhaustive table/plane configuration the bucketed
    operator must return EXACTLY the brute-force pair set."""
    rng = np.random.default_rng(23)
    base = rng.standard_normal((40, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    # seed some true near-dups
    for i in range(5):
        v = base[i] + 0.05 * rng.standard_normal(16)
        rows.append((100 + i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    brute = sorted(map(tuple, S.cosine_neardup_pairs(emb, threshold=0.8).collect()))
    bucketed = sorted(map(tuple, S.cosine_neardup_bucketed(
        emb, threshold=0.8, n_tables=24, n_planes=2).collect()))
    assert bucketed == brute and len(brute) >= 5


def test_lsh_udf_and_literal_paths_agree(spark, monkeypatch):
    """Same planes, same data: the broadcast-matrix Arrow path must
    assign the same buckets as the literal path (sign-bit parity), so
    both near-dup pairs and ANN top-k are identical."""
    rng = np.random.default_rng(31)
    base = rng.standard_normal((40, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    for i in range(5):
        v = base[i] + 0.05 * rng.standard_normal(16)
        rows.append((100 + i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.limit(3).select(F.col("vec_id").alias("query_id"),
                            F.col("embedding").alias("qvec"))
    monkeypatch.setattr(S, "_SRP_LITERAL_MAX", 10**9)
    lit = sorted(map(tuple, S.cosine_neardup_bucketed(
        emb, threshold=0.8, n_tables=6, n_planes=4).collect()))
    lit_k = sorted(map(tuple, S.ann_lsh_topk(emb, q, k=3, n_tables=1,
                                             n_planes=4).collect()))
    monkeypatch.setattr(S, "_SRP_LITERAL_MAX", 0)
    udf = sorted(map(tuple, S.cosine_neardup_bucketed(
        emb, threshold=0.8, n_tables=6, n_planes=4).collect()))
    udf_k = sorted(map(tuple, S.ann_lsh_topk(emb, q, k=3, n_tables=1,
                                             n_planes=4).collect()))
    assert lit == udf and len(lit) >= 5
    assert lit_k == udf_k and len(lit_k) > 0


def test_cosine_neardup_bucketed_udf_path_exhaustive(spark, monkeypatch):
    """Exhaustive config through the broadcast-planes path must still
    equal brute force exactly (the at-scale configuration of the
    driver-gate guarantee)."""
    rng = np.random.default_rng(37)
    base = rng.standard_normal((30, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(30)]
    for i in range(4):
        v = base[i] + 0.05 * rng.standard_normal(16)
        rows.append((100 + i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    brute = sorted(map(tuple, S.cosine_neardup_pairs(emb, threshold=0.8).collect()))
    monkeypatch.setattr(S, "_SRP_LITERAL_MAX", 0)
    bucketed = sorted(map(tuple, S.cosine_neardup_bucketed(
        emb, threshold=0.8, n_tables=24, n_planes=2).collect()))
    assert bucketed == brute and len(brute) >= 4


def test_cosine_neardup_bucketed_subset_semantics(spark):
    """With a selective configuration the result is a subset of brute
    force with bit-identical cosines (exact verify inside buckets)."""
    rng = np.random.default_rng(29)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(60)],
        "vec_id long, embedding array<float>")
    brute = {(r["id_a"], r["id_b"]): r["cos"]
             for r in S.cosine_neardup_pairs(emb, threshold=0.3).collect()}
    got = S.cosine_neardup_bucketed(emb, threshold=0.3, n_tables=4, n_planes=4).collect()
    for r in got:
        assert brute[(r["id_a"], r["id_b"])] == r["cos"]


def test_ivf_centroids_deterministic(spark):
    rng = np.random.default_rng(9)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)],
        "vec_id long, embedding array<float>")
    c1 = S.train_ivf_centroids(emb, n_centroids=4, iters=5)
    c2 = S.train_ivf_centroids(emb, n_centroids=4, iters=5)
    assert np.array_equal(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_textstats_and_duckdb_parity(spark, docs):
    out = T.text_stats(docs)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[0]["n_words"] == 9
    assert got[0]["lang_guess"] == "en"
    assert got[4]["lang_guess"] == "de"
    assert 0.0 <= got[0]["quality"] <= 1.0
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    q = (f"SELECT doc_id, {T.quality_score_sql('text')} AS q, {T.lang_id_sql('text')} AS lg, "
         f"{T.fingerprint_sql('text')} AS fp FROM docs")
    for doc_id, qv, lg, fp in con.execute(q).fetchall():
        assert got[doc_id]["quality"] == pytest.approx(qv, abs=1e-9)
        assert got[doc_id]["lang_guess"] == lg
        assert got[doc_id]["fp"] == fp


def test_multimodal_plumbing(spark):
    media = M.synthetic_media_df(spark, n=12)
    meta = {r["media_id"]: r for r in M.decode_media(media).collect()}
    assert len(meta) == 12
    for mid, r in meta.items():
        assert r["format"] == "fake"
        assert r["n_bytes"] == 12 + r["width"] * r["height"]
        assert 0 <= r["mean_value"] <= 255
    resized = M.resize_stub(media, 4, 4)
    meta2 = M.decode_media(resized).collect()
    assert all(r["width"] == 4 and r["height"] == 4 for r in meta2)
    frames = M.frame_sample_stub(media, every_n=4).collect()
    assert all(f["frame_no"] % 4 == 0 for f in frames)
    # audio windows: every clip fully covered, RMS bounded by peak
    clips = M.synthetic_audio_df(spark, n=6)
    feats = M.audio_features_stub(clips, window=16).collect()
    by_clip = {}
    for f in feats:
        assert 0.0 <= f["rms"] <= f["peak"] <= 255.0
        by_clip.setdefault(f["media_id"], 0)
        by_clip[f["media_id"]] += f["n_samples"]
    sizes = {r["media_id"]: len(bytes(r["data"])) - 12 for r in clips.collect()}
    assert by_clip == sizes  # windows partition the samples exactly


def test_decode_rejects_real_codecs(spark):
    with pytest.raises(NotImplementedError):
        M._decode_one(b"\xff\xd8\xff\xe0rest")
    with pytest.raises(ValueError):
        M._decode_one(b"garbage")


def test_cosine_neardup_bucketed_empty_input(spark):
    """Empty corpus: empty typed result, not a TypeError (review #4)."""
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = S.cosine_neardup_bucketed(emb)
    assert out.columns == ["id_a", "id_b", "cos"]
    assert out.count() == 0


def test_top_tokens_ranking_and_tiebreak(spark):
    from pandarus_spark.operators.textstats import top_tokens
    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "b c d"), (3, "c d")],
        "doc_id long, text string")
    got = [(r["token"], r["total_tf"], r["doc_freq"], r["rank"])
           for r in top_tokens(docs, k=3).orderBy("rank").collect()]
    # c: tf=3 df=3; a: tf=2 df=1; b: tf=2 df=2 -> tie at tf=2 breaks
    # alphabetically (a before b)
    assert got == [("c", 3, 3, 1), ("a", 2, 1, 2), ("b", 2, 2, 3)]


def test_tf_idf_hand_computed(spark):
    import math

    from pandarus_spark.operators.textstats import tf_idf
    docs = spark.createDataFrame(
        [(1, "x x y"), (2, "y z"), (3, "z")], "doc_id long, text string")
    got = {(r["doc_id"], r["token"]): (r["tf"], r["idf"], r["tf_idf"])
           for r in tf_idf(docs).collect()}
    n = 3
    def idf(df): return round(math.log((n + 1) / (df + 1)) + 1, 6)
    assert got[(1, "x")] == (2, idf(1), round(2 * (math.log(2.0) + 1), 6))
    assert got[(1, "y")] == (1, idf(2), round(math.log(4 / 3) + 1, 6))
    assert got[(2, "z")][1] == idf(2)
    assert len(got) == 5


# ---------------------------------------------------------------------------
# quantize_int8 (symmetric int8 embedding quantization, round 4)
# ---------------------------------------------------------------------------

def test_quantize_int8_hand_case(spark):
    from pandarus_spark.operators.similarity import quantize_int8
    emb = spark.createDataFrame(
        [(0, [2.0, -4.0]),      # scale 4/127; q = [64, -127]
         (1, [0.0, 0.0]),       # zero vector: guard path, all-zero codes
         (2, [1.0])],           # scale 1/127; q = [127]
        "vec_id long, embedding array<float>")
    out = {r["vec_id"]: (r["scale_ppb"], r["q_sum"], r["q_sq_sum"], r["n_sat"])
           for r in quantize_int8(emb).collect()}
    # floor(2/(4/127)+0.5) = floor(64.0) = 64; -4 maps to the -127 rail
    assert out[0] == (round(4.0 / 127.0 * 1e9), 64 - 127,
                      64 * 64 + 127 * 127, 1)
    assert out[1] == (0, 0, 0, 0)
    assert out[2] == (round(1.0 / 127.0 * 1e9), 127, 127 * 127, 1)


def test_quantize_int8_duckdb_parity(spark):
    import random

    import pandas as pd

    from pandarus_spark.operators.similarity import quantize_int8, quantize_int8_sql
    rng = random.Random(21)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    rows.append((80, [0.0] * 16))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(tuple(r) for r in quantize_int8(emb).collect())
    con = duckdb.connect()
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    # parquet round-trip pins the FLOAT[] storage type the real
    # embeddings table has (pandas registration would keep DOUBLE[])
    import numpy as np
    pdf["embedding"] = pdf["embedding"].map(
        lambda v: np.asarray(v, dtype="float32"))
    con.register("raw", pdf)
    con.execute("CREATE VIEW embeddings AS "
                "SELECT vec_id, CAST(embedding AS FLOAT[]) AS embedding FROM raw")
    want = sorted(tuple(r) for r in con.execute(quantize_int8_sql()).fetchall())
    assert got == want


def test_ann_quantized_full_refine_equals_brute_force(spark):
    """With refine_m covering the corpus, the prescreen cannot drop a
    true neighbor and the exact re-rank IS brute-force top-k."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .filter(F.col("vec_id") < 120)
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    got = sorted(map(tuple, S.ann_quantized_topk(emb, qs, k=3, refine_m=200)
                     .collect()))
    want = sorted(map(tuple, S.cosine_topk(emb, qs, k=3).collect()))
    assert got == want


def test_ann_quantized_small_refine_recall_floor(spark):
    """int8 error is ~1/254 per lane; at refine_m=16 the true top-3
    must survive the prescreen on this corpus (recall 1.0 measured —
    floor asserted so a quantizer regression trips it)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    got = {(r["query_id"], r["neighbor_id"])
           for r in S.ann_quantized_topk(emb, qs, k=3, refine_m=16).collect()}
    brute = {(r["query_id"], r["neighbor_id"])
             for r in S.cosine_topk(emb, qs, k=3).collect()}
    recall = len(got & brute) / len(brute)
    assert recall >= 0.9


def test_ann_quantized_duckdb_parity_random(spark):
    import random

    import pandas as pd
    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(12)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    got = sorted(map(tuple, S.ann_quantized_topk(emb, qs, k=2, refine_m=10)
                     .collect()))
    con = duckdb.connect()
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    pdf["embedding"] = pdf["embedding"].map(
        lambda v: np.asarray(v, dtype="float32"))
    con.register("raw", pdf)
    con.execute("CREATE VIEW embeddings AS SELECT vec_id, "
                "CAST(embedding AS FLOAT[]) AS embedding FROM raw")
    want = sorted(map(tuple, con.execute(
        S.ann_quantized_sql(k=2, refine_m=10, query_where="vec_id < 3"))
        .fetchall()))
    assert got == want


def test_minhash_lsh_join_consistent_with_self_join(spark):
    """Cross-corpus join == the union self-join restricted to cross
    pairs (normalized to (least, greatest)), on the testdata corpus
    split by doc_id % 3 — every construction constant shared."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    left = docs.filter(F.col("doc_id") % 3 == 0)
    right = docs.filter(F.col("doc_id") % 3 != 0)
    got = {(min(r.left_id, r.right_id), max(r.left_id, r.right_id), r.jaccard)
           for r in D.minhash_lsh_join(left, right, num_hashes=16, bands=8,
                                       threshold=0.2).collect()}
    full = D.minhash_lsh_pairs(docs, num_hashes=16, bands=8,
                               threshold=0.2).collect()
    want = {(r.doc_a, r.doc_b, r.jaccard) for r in full
            if (r.doc_a % 3 == 0) != (r.doc_b % 3 == 0)}
    assert got == want
    assert len(got) > 0


def test_minhash_lsh_join_exact_cross_dup_recall(spark, docs):
    """Identical texts across the two sides must always pair
    (they share every band) with jaccard exactly 1.0."""
    left = docs.filter(F.col("doc_id") == 0)   # exact dup of doc 3
    right = docs.filter(F.col("doc_id") != 0)
    out = {(r.left_id, r.right_id): r.jaccard
           for r in D.minhash_lsh_join(left, right, threshold=0.5).collect()}
    assert out[(0, 3)] == 1.0


def test_minhash_keeps_one_signature_row_per_input_row(spark):
    """Repeated ids keep one signature row per input row, in
    minhash_signatures and on minhash_lsh_join's left side: id 7 holds
    two texts, id 8 one text twice.  A signature keyed by the id
    would merge id 7's rows into one elementwise minimum, which, with
    one 16-row band, collides with at most one of the right side's
    copies."""
    a = "the quick brown fox jumps over the lazy dog"
    b = "completely different text with unique words here"
    right = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    single = {r["doc_id"]: list(r["sig"]) for r in D.minhash_signatures(right).collect()}
    docs = spark.createDataFrame([(7, a), (7, b), (8, a), (8, a)], "doc_id long, text string")
    got = sorted((r["doc_id"], list(r["sig"])) for r in D.minhash_signatures(docs).collect())
    assert got == sorted([(7, single[1]), (7, single[2]), (8, single[1]), (8, single[1])])
    joined = D.minhash_lsh_join(docs.filter(F.col("doc_id") == 7), right,
                                num_hashes=16, bands=1)
    assert sorted(tuple(r) for r in joined.collect()) == [(7, 1, 1.0), (7, 2, 1.0)]


def test_signatures_of_null_and_empty_shingle_arrays_are_null(spark):
    arrs = spark.createDataFrame([(1, None), (2, []), (3, ["x y z"])],
                                 "id long, sh array<string>")
    sig = {r["id"]: r["sig"] for r in D._signatures(arrs, "id", "sh", 4).collect()}
    assert sig[1] == sig[2] == [None] * 4
    assert None not in sig[3]


def test_minhash_lsh_rejects_bands_outside_num_hashes(spark, docs):
    """bands must be in [1, num_hashes]: zero bands emit no candidates;
    more bands than hashes leave zero rows per band, i.e. one constant
    Spark key (every pair a candidate) and an empty ``()`` DuckDB band
    predicate.  Both engines, self and cross join, raise ValueError."""
    for bands in (0, 17):
        for call in (lambda: D.minhash_lsh_pairs(docs, num_hashes=16, bands=bands),
                     lambda: D.minhash_lsh_join(docs, docs, num_hashes=16, bands=bands),
                     lambda: D.minhash_lsh_sql(num_hashes=16, bands=bands),
                     lambda: D.minhash_lsh_join_sql(num_hashes=16, bands=bands)):
            with pytest.raises(ValueError):
                call()
