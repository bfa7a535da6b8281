"""Round-5 training-pipeline operators: DSIR importance weights,
Gopher repetition stats, corpus mixing, SemDeDup.

Value parity with the DuckDB twins is gated end-to-end by
tools/check_oracles.py (gates dsir_weights_docs,
repetition_stats_docs, mix_allocation_docs, mix_select_docs,
semantic_dedup_embeddings); these tests pin the semantics on hand
fixtures and the edge cases the sf tables don't exercise.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from pandarus_spark.operators import curation as C
from pandarus_spark.operators import similarity as S
from pandarus_spark.operators import textstats as T


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


# ---------------------------------------------------------------------------
# dsir_weights
# ---------------------------------------------------------------------------

def test_dsir_target_likeness_orders_weights(spark):
    # target talks about cats; a cat-doc must outweigh a dog-doc
    rows = [(0, "cat cat feline cat", "tgt"),
            (1, "cat feline cat cat", "tgt"),
            (2, "dog dog canine dog", "raw"),
            (3, "cat feline cat dog", "raw")]
    out = T.dsir_weights(_docs(spark, rows), F.col("source") == "tgt",
                         n_buckets=32).collect()
    w = {r.doc_id: r.dsir_micro for r in out}
    assert len(w) == 4
    assert w[3] > w[2]          # more cat-like => more target-like
    assert w[0] > w[2]
    assert all(r.n_tokens == 4 for r in out)


def test_dsir_empty_target_is_uniform_smoothing(spark):
    # no doc matches the predicate: target dist is pure add-one
    # smoothing; weights still computed, no error, exact vs DuckDB
    rows = [(0, "a b", "x"), (1, "a a", "x")]
    out = (T.dsir_weights(_docs(spark, rows), F.lit(False), n_buckets=8)
           .orderBy("doc_id").collect())
    assert [r.n_tokens for r in out] == [2, 2]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                "(0, 'a b', 'x'), (1, 'a a', 'x')) t(doc_id, text, source)")
    orows = con.execute(T.dsir_weights_sql("FALSE", n_buckets=8)
                        + " ORDER BY doc_id").fetchall()
    assert [(r.doc_id, r.n_tokens, r.dsir_micro) for r in out] == orows


def test_dsir_single_bucket_weights_are_zero(spark):
    # one bucket: target and raw distributions are both the point mass,
    # so ln p_t(b) - ln p_r(b) = 0 for every token
    rows = [(0, "x y z", "t"), (1, "w w w w", "r")]
    out = T.dsir_weights(_docs(spark, rows), F.col("source") == "t",
                         n_buckets=1).collect()
    assert all(r.dsir_micro == 0 for r in out)


def test_dsir_rejects_bad_buckets(spark):
    with pytest.raises(ValueError):
        T.dsir_weights(_docs(spark, [(0, "a", "s")]), F.lit(True), n_buckets=0)


# ---------------------------------------------------------------------------
# repetition_stats
# ---------------------------------------------------------------------------

def test_repetition_line_counts_by_hand(spark):
    text = "aa bb\ncc dd\naa bb\naa bb"      # 'aa bb' x3, 'cc dd' x1
    out = T.repetition_stats(_docs(spark, [(0, text, "s")])).collect()[0]
    assert out.n_lines == 4
    assert out.dup_lines == 2                 # two beyond-first occurrences
    assert out.dup_line_chars == 2 * len("aa bb")
    assert out.total_chars == len(text)


def test_repetition_top_gram_by_hand(spark):
    # words() is the suite's space split (newlines stay inside tokens),
    # so the gram fixture is single-line
    out = T.repetition_stats(
        _docs(spark, [(0, "aa bb cc aa bb dd aa bb", "s")])).collect()[0]
    assert out.top_2gram == "aa bb"
    assert out.top_2gram_count == 3


def test_repetition_no_newline_single_line(spark):
    out = T.repetition_stats(_docs(spark, [(0, "x y x y x", "s")])).collect()[0]
    assert out.n_lines == 1 and out.dup_lines == 0 and out.dup_line_chars == 0
    assert out.top_2gram == "x y" and out.top_2gram_count == 2


def test_repetition_short_and_empty_docs(spark):
    # clamped shingling: a 1-word doc yields one truncated gram; an
    # empty text tokenizes to [''] and still emits a row
    out = {r.doc_id: r for r in
           T.repetition_stats(_docs(spark, [(0, "solo", "s"),
                                            (1, "", "s")])).collect()}
    assert out[0].top_2gram == "solo" and out[0].top_2gram_count == 1
    assert out[1].n_lines == 1 and out[1].total_chars == 0
    assert out[1].top_2gram == "" and out[1].top_2gram_count == 1


def test_repetition_tie_breaks_to_smallest_gram(spark):
    out = T.repetition_stats(_docs(spark, [(0, "b a b a", "s")])).collect()[0]
    # grams: 'b a' x2, 'a b' x1 -> no tie; now force one:
    out2 = T.repetition_stats(_docs(spark, [(0, "b a b", "s")])).collect()[0]
    # grams: 'b a' x1, 'a b' x1 -> lexicographically smallest wins
    assert out.top_2gram == "b a" and out.top_2gram_count == 2
    assert out2.top_2gram == "a b" and out2.top_2gram_count == 1


# ---------------------------------------------------------------------------
# mix_allocation / mix_select
# ---------------------------------------------------------------------------

def _mix_docs(spark, counts):
    rows = []
    i = 0
    for src, n in counts.items():
        for _ in range(n):
            rows.append((i, f"doc {i}", src))
            i += 1
    return _docs(spark, rows)


def test_mix_allocation_largest_remainder_by_hand(spark):
    # counts 3 / 1, alpha=2: weights 9 / 1, W=10, n=5:
    # base = 4 / 0, rem = 5 / 5 (tie -> source 'a' first), extras = 1
    docs = _mix_docs(spark, {"a": 3, "b": 1})
    out = {r.source: r for r in C.mix_allocation(docs, 5, alpha=2).collect()}
    assert out["a"].weight == 9 and out["b"].weight == 1
    # a: base 4 + extra 1 = 5, capped at n_docs 3; b: base 0
    assert out["a"].alloc == 3 and out["b"].alloc == 0


def test_mix_allocation_alpha1_proportional(spark):
    docs = _mix_docs(spark, {"a": 6, "b": 2})
    out = {r.source: r.alloc for r in
           C.mix_allocation(docs, 4, alpha=1).collect()}
    assert out == {"a": 3, "b": 1}


def test_mix_allocation_rejects_bad_alpha(spark):
    with pytest.raises(ValueError):
        C.mix_allocation(_mix_docs(spark, {"a": 1}), 1, alpha=0)


def test_mix_select_equals_naive_rank_and_bucket_invariant(spark):
    import hashlib

    docs = _mix_docs(spark, {"a": 40, "b": 25, "c": 5})
    sel64 = sorted((r.doc_id, r.source) for r in
                   C.mix_select(docs, 30, alpha=2, n_buckets=64).collect())
    sel256 = sorted((r.doc_id, r.source) for r in
                    C.mix_select(docs, 30, alpha=2, n_buckets=256).collect())
    assert sel64 == sel256                     # histogram width is invisible
    # python reference: alloc per source, then k-smallest md5 ranks
    alloc = {r.source: r.alloc for r in
             C.mix_allocation(docs, 30, alpha=2).collect()}
    assert sum(alloc.values()) == len(sel64)
    rows = docs.select("doc_id", "source").collect()
    def h(doc_id):
        return int(hashlib.md5(f"mix:{doc_id}".encode()).hexdigest()[:15], 16)
    ref = []
    for src in alloc:
        members = sorted(((h(r.doc_id), r.doc_id) for r in rows
                          if r.source == src))
        ref += [(d, src) for _, d in members[:alloc[src]]]
    assert sel64 == sorted(ref)


def test_mix_select_rejects_non_power_of_two(spark):
    with pytest.raises(ValueError):
        C.mix_select(_mix_docs(spark, {"a": 2}), 1, n_buckets=100)


# ---------------------------------------------------------------------------
# semantic_dedup
# ---------------------------------------------------------------------------

def _emb_df(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semdedup_marks_within_cluster_duplicates(spark):
    # two tight groups on orthogonal axes; ids 0/1 are the seed
    # centroids for n_clusters=2
    vecs = [[1.0, 0.0], [0.0, 1.0],
            [0.9, 0.01], [0.91, 0.008],      # near-dups of each other & 0
            [0.01, 0.8]]                     # near-dup of 1
    out = {r.vec_id: r for r in
           S.semantic_dedup(_emb_df(spark, vecs), n_clusters=2,
                            threshold=0.95).collect()}
    assert len(out) == 5                      # one row per vector
    assert out[0].cluster == 0 and out[1].cluster == 1
    assert out[2].cluster == 0 and out[4].cluster == 1
    assert not out[0].is_dup and out[0].dup_of is None
    assert out[2].is_dup and out[2].dup_of == 0   # smallest qualifying id
    assert out[3].is_dup and out[3].dup_of == 0
    assert out[4].is_dup and out[4].dup_of == 1


def test_semdedup_threshold_1_requires_parallel_vectors(spark):
    vecs = [[1.0, 0.0], [0.0, 1.0], [2.0, 0.0], [0.6, 0.1]]
    out = {r.vec_id: r for r in
           S.semantic_dedup(_emb_df(spark, vecs), n_clusters=2,
                            threshold=1.0).collect()}
    assert out[2].is_dup and out[2].dup_of == 0   # scaled copy: cos == 1
    assert not out[3].is_dup


def test_semdedup_explicit_centroids(spark):
    vecs = [[0.5, 0.5], [0.9, 0.1], [0.1, 0.9]]
    cents = _emb_df(spark, [[1.0, 0.0], [0.0, 1.0]])
    out = {r.vec_id: r.cluster for r in
           S.semantic_dedup(_emb_df(spark, vecs), threshold=0.99,
                            centroids=cents).collect()}
    # 0 ties both centroids at cos=0.7071.. -> smallest centroid id (0)
    assert out[0] == 0 and out[1] == 0 and out[2] == 1


def test_semdedup_big_codebook_udf_path_matches_literal(spark, monkeypatch):
    """More than _CENTROID_LITERAL_MAX centroids assigns through the
    broadcast-codebook matmul UDF; on random data (no near-ties) it
    must give the same rows as the literal path."""
    import numpy as np
    rng = np.random.default_rng(19)
    base = rng.standard_normal((300, 8))
    # a few scaled/jittered copies so the within-cluster pass finds dups
    vecs = np.vstack([base, 2.0 * base[:10],
                      base[10:20] + 1e-3 * rng.standard_normal((10, 8))])
    emb = _emb_df(spark, vecs)
    udf = sorted(map(tuple, S.semantic_dedup(emb, n_clusters=80,
                                             threshold=0.99).collect()))
    monkeypatch.setattr(S, "_CENTROID_LITERAL_MAX", 80)
    lit = sorted(map(tuple, S.semantic_dedup(emb, n_clusters=80,
                                             threshold=0.99).collect()))
    assert udf == lit and len(udf) == len(vecs)
    assert sum(r[2] for r in udf) >= 20
    assert len({r[1] for r in udf}) > 64

# ---------------------------------------------------------------------------
# bigram_logprob
# ---------------------------------------------------------------------------

def test_bigram_logprob_by_hand(spark):
    import math
    docs = _docs(spark, [(0, "a b a b", "s"), (1, "c c", "s")])
    out = {r.doc_id: r for r in T.bigram_logprob(docs).collect()}
    # counts: c2('a b')=2, c2('b a')=1, c2('c c')=1; c1: a=2,b=2,c=2; V=3
    nll_ab = round(math.log(5 / 3) * 1e6)          # ln((2+3)/(2+1))
    nll_ba = round(math.log(5 / 2) * 1e6)
    nll_cc = round(math.log(5 / 2) * 1e6)          # ln((2+3)/(1+1))
    assert out[0].n_bigrams == 3
    assert out[0].nll2_micro == (2 * (2 * nll_ab + nll_ba) + 3) // 6
    assert out[1].n_bigrams == 1
    assert out[1].nll2_micro == nll_cc


def test_bigram_logprob_single_word_doc_scores_zero(spark):
    # one 1-word doc: truncated gram 'solo', c2=1, c1=1, V=1 -> ln(1)=0
    out = T.bigram_logprob(_docs(spark, [(0, "solo", "s")])).collect()[0]
    assert out.n_bigrams == 1 and out.nll2_micro == 0


def test_bigram_logprob_duckdb_parity(spark):
    docs = _docs(spark, [(0, "a b a b c", "s"), (1, "b a b", "s"),
                         (2, "", "s"), (3, None, "s"), (4, "solo", "s")])
    srows = sorted(tuple(r) for r in T.bigram_logprob(docs).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(0, 'a b a b c'), (1, 'b a b'), (2, ''), (3, NULL), (4, 'solo')"
        ") t(doc_id, text)")
    orows = sorted(tuple(r) for r in
                   con.execute(T.bigram_logprob_sql()).fetchall())
    assert srows == orows


# ---------------------------------------------------------------------------
# blocklist_filter
# ---------------------------------------------------------------------------

def test_blocklist_blocks_subdomains_via_registrable_domain(spark):
    pages = spark.createDataFrame(
        [(0, "https://a.b.spam.test/x"),
         (1, "https://WWW.spam.test:443/y"),
         (2, "https://ok.test/z"),
         (3, "http://keep.me/w")],
        "doc_id long, url string")
    blocked = spark.createDataFrame([("spam.test",), ("spam.test",)],
                                    "domain string")
    out = C.blocklist_filter(pages, blocked).collect()
    assert sorted(r.doc_id for r in out) == [2, 3]
    assert {r.domain for r in out} == {"ok.test", "keep.me"}
    # input columns survive
    assert {"doc_id", "url", "domain"} <= set(out[0].asDict())

# ---------------------------------------------------------------------------
# spatial_clusters
# ---------------------------------------------------------------------------

def test_spatial_clusters_chain_and_singletons(spark):
    from pandarus_spark.operators.distance import spatial_clusters
    # ~111 km between adjacent equator points: a 200 km eps links the
    # chain 0-1-2 transitively (0 and 2 are ~222 km apart — only
    # connectivity, not pairwise proximity, puts them together)
    pts = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 1.0, 0.0), (2, 2.0, 0.0), (3, 10.0, 10.0)],
        "pid long, lon double, lat double")
    out = {r.pid: r.cluster_id for r in
           spatial_clusters(pts, 200_000.0).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 3}


def test_normalize_url_sql_no_query_parity(spark):
    # r5 regression: DuckDB array_to_string([]) is NULL — without the
    # coalesce in normalize_url_sql, no-query URLs (or all-tracker
    # query strings) normalized to NULL in the oracle while Spark
    # produced the URL
    urls = ["https://WWW.Host.Example/p/x",
            "https://a.b/p?utm_source=x&gclid=1",   # all params tracked
            "http://plain.test"]
    pages = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                                  "i long, url string")
    srows = sorted((r.i, r.n) for r in pages.select(
        "i", C.normalize_url(F.col("url")).alias("n")).collect())
    con = duckdb.connect()
    vals = ", ".join(f"({i}, '{u}')" for i, u in enumerate(urls))
    con.execute(f"CREATE TABLE t AS SELECT * FROM (VALUES {vals}) v(i, url)")
    orows = sorted(tuple(r) for r in con.execute(
        f"SELECT i, {C.normalize_url_sql('url')} AS n FROM t").fetchall())
    assert srows == orows
    assert all(n is not None for _, n in srows)

# ---------------------------------------------------------------------------
# HLL sketch
# ---------------------------------------------------------------------------

def test_hll_registers_merge_by_max(spark):
    from pandarus_spark.operators import sketch as K
    a = _docs(spark, [(i, f"d{i}", "s") for i in range(200)])
    b = _docs(spark, [(i, f"d{i}", "s") for i in range(150, 400)])
    ra = {r.bucket: r.reg for r in K.hll_registers(a, "doc_id").collect()}
    rb = {r.bucket: r.reg for r in K.hll_registers(b, "doc_id").collect()}
    u = {r.bucket: r.reg for r in
         K.hll_registers(a.unionByName(b), "doc_id").collect()}
    assert u == {k: max(ra[k], rb[k]) for k in ra}   # mergeable sketch


def test_hll_estimate_accuracy_and_linear_branch(spark):
    from pandarus_spark.operators import sketch as K
    import duckdb as dd
    # 2000 distinct keys at p=8: ~6.5% standard error
    big = _docs(spark, [(i, f"k{i}", "s") for i in range(2000)])
    est = K.hll_estimate(big, "doc_id", p=8).collect()[0]
    assert abs(est.estimate_micro / 1e6 - 2000) / 2000 < 0.2
    # 3 distinct keys: zeros > 0 and E small -> detmath linear counting
    small = _docs(spark, [(0, "a", "s"), (1, "b", "s"), (2, "c", "s"),
                          (3, None, "s")])
    est2 = K.hll_estimate(small, "text", p=8).collect()[0]
    assert est2.n_zero >= 250                       # NULL key skipped
    assert abs(est2.estimate_micro / 1e6 - 3) < 0.1
    con = dd.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                "(0,'a'),(1,'b'),(2,'c'),(3,NULL)) t(doc_id, text)")
    orow = con.execute(K.hll_estimate_sql("text", 8)).fetchall()[0]
    assert tuple(est2) == orow


def test_hll_p_bounds(spark):
    from pandarus_spark.operators import sketch as K
    docs = _docs(spark, [(0, "a", "s")])
    with pytest.raises(ValueError):
        K.hll_registers(docs, "doc_id", p=3)
    with pytest.raises(ValueError):
        K.hll_estimate(docs, "doc_id", p=16)


def test_hll_estimate_by_matches_global_per_group(spark):
    # grouped estimate == the global estimate run on each group alone
    # (the algebraic empty-bucket sums must reproduce the grid path)
    from pandarus_spark.operators import sketch as K
    rows = ([(i, f"k{i % 37}", "a") for i in range(300)]
            + [(i + 1000, f"q{i % 211}", "b") for i in range(600)])
    docs = _docs(spark, rows)
    by = {r.grp: (r.m, r.n_zero, r.int_sum, r.estimate_micro)
          for r in K.hll_estimate_by(docs, "text", "source", p=8).collect()}
    for g in ("a", "b"):
        solo = K.hll_estimate(docs.filter(F.col("source") == g),
                              "text", p=8).collect()[0]
        assert by[g] == tuple(solo)


def test_cms_upper_bound_and_merge(spark):
    # est >= true count for every key, even at w=8 where collisions are
    # guaranteed; grids merge by SUM (sketch of union == sum of sketches)
    from pandarus_spark.operators import sketch as K
    rows = [(i, f"k{i % 13}", "s") for i in range(400)]
    docs = _docs(spark, rows)
    grid = K.cms_counters(docs, "text", d=3, w=8)
    probes = docs.select("text").distinct()
    est = {r.text: r.est for r in
           K.cms_lookup(grid, probes, "text", d=3, w=8).collect()}
    true = {r.text: r["count"] for r in
            docs.groupBy("text").count().collect()}
    assert set(est) == set(true)
    assert all(est[k] >= true[k] for k in true)
    # mergeability
    a, b = docs.filter(F.col("doc_id") < 200), docs.filter(F.col("doc_id") >= 200)
    ga = {(r.row, r.col): r.cnt for r in K.cms_counters(a, "text", d=3, w=8).collect()}
    gb = {(r.row, r.col): r.cnt for r in K.cms_counters(b, "text", d=3, w=8).collect()}
    gu = {(r.row, r.col): r.cnt for r in grid.collect()}
    assert gu == {k: ga[k] + gb[k] for k in ga}


def test_sketch_guards(spark):
    # review findings: grouped HLL must reject the same p range the
    # global path does; the CMS grid guard must stop un-broadcastable
    # sketches; bottom-k must skip NULL keys identically in both engines
    from pandarus_spark.operators import sketch as K
    from pandarus_spark.operators.curation import bottomk_sample
    docs = _docs(spark, [(0, "a", "s"), (1, "b", "s"), (2, None, "s")])
    with pytest.raises(ValueError):
        K.hll_estimate_by(docs, "text", "source", p=3)
    with pytest.raises(ValueError):
        K.cms_counters(docs, "text", d=8, w=1 << 20)   # d*w > 2^22
    with pytest.raises(ValueError):
        K.cms_lookup(None, docs, "text", d=8, w=1 << 20)
    out = bottomk_sample(docs, k=3, key_col="text").collect()
    assert sorted(r.text for r in out) == ["a", "b"]   # NULL skipped


def test_cms_weighted_and_duckdb_parity(spark):
    from pandarus_spark.operators import sketch as K
    import duckdb as dd
    rows = [(0, "a", "s"), (1, "a", "s"), (2, "b", "s"), (3, None, "s")]
    docs = _docs(spark, rows)
    # weighted: each occurrence of text t adds doc_id+10
    grid = K.cms_counters(docs, "text", d=2, w=16,
                          weight=F.col("doc_id") + 10)
    sp = sorted(tuple(r) for r in grid.collect())
    con = dd.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                "(0,'a'),(1,'a'),(2,'b'),(3,NULL)) t(doc_id, text)")
    ora = sorted(tuple(r) for r in con.execute(K.cms_counters_sql(
        "text", d=2, w=16, weight_expr="doc_id + 10")).fetchall())
    assert sp == ora
    assert sum(c for _, _, c in sp) == 2 * (0 + 10 + 1 + 10 + 2 + 10)
    with pytest.raises(ValueError):
        K.cms_counters(docs, "text", d=0, w=16)

# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------

def test_pagerank_matches_python_circuit(spark):
    from collections import defaultdict
    from pandarus_spark.operators.graph import MICRO, pagerank

    edges = [(0, 1), (1, 2), (2, 0), (3, 0), (0, 1)]   # parallel edge
    e = spark.createDataFrame(edges, "src long, dst long")
    srows = sorted(tuple(r) for r in pagerank(e, n_iters=4).collect())
    deg = defaultdict(int)
    for a, _ in edges:
        deg[a] += 1
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    r = {n: MICRO for n in nodes}
    for _ in range(4):
        inflow = defaultdict(int)
        for a, b in edges:
            inflow[b] += (r[a] * 17) // (20 * deg[a])
        r = {n: 150000 + inflow[n] for n in nodes}
    assert srows == sorted((n, r[n]) for n in nodes)
    # dangling node 3 (no out-edges... it has one; node 2->0; the sink
    # check: a node with only outflow ends at teleport + nothing extra)
    out = dict(srows)
    assert out[3] == 150000                      # nobody links to 3


def test_pagerank_rejects_bad_iters(spark):
    from pandarus_spark.operators.graph import pagerank
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(e, n_iters=0)

# ---------------------------------------------------------------------------
# hits
# ---------------------------------------------------------------------------

def _hits_python(edges, n_iters):
    """The hits() arithmetic circuit in pure Python (exact ints)."""
    from collections import defaultdict
    from pandarus_spark.operators.graph import MICRO
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})

    def half(score, flip):
        raw = defaultdict(int)
        for a, b in edges:
            if flip:
                raw[a] += score[b]
            else:
                raw[b] += score[a]
        mx = max([raw[n] for n in nodes] or [0]) or 1
        return {n: (raw[n] * MICRO) // mx for n in nodes}

    h = {n: MICRO for n in nodes}
    a = {}
    for _ in range(n_iters):
        a = half(h, flip=False)
        h = half(a, flip=True)
    return sorted((n, h[n], a[n]) for n in nodes)


def test_hits_matches_python_circuit(spark):
    from pandarus_spark.operators.graph import MICRO, hits
    # hub 0 points at everything; 3 is the shared authority; a
    # parallel edge (1,3)x2 and a dst-only node 4 (hub must be 0)
    edges = [(0, 1), (0, 2), (0, 3), (1, 3), (1, 3), (2, 3), (2, 4)]
    e = spark.createDataFrame(edges, "src long, dst long")
    srows = sorted(tuple(r) for r in hits(e, n_iters=3).collect())
    assert srows == _hits_python(edges, 3)
    out = {n: (h, a) for n, h, a in srows}
    assert out[3][1] == MICRO          # top authority normalized to 1e6
    assert out[1][0] == MICRO          # top hub: the parallel edge wins
    assert 0 < out[0][0] < MICRO       # fan-out hub, short of the double edge
    assert out[4][0] == 0              # dst-only node: no hub mass
    assert out[0][1] == 0              # src-only node: no authority


def test_hits_duckdb_parity(spark):
    from pandarus_spark.operators.graph import hits, hits_sql
    edges = [(i, (i * 3 + 1) % 7) for i in range(7)] + [(2, 5), (2, 5)]
    e = spark.createDataFrame(edges, "src long, dst long")
    srows = sorted(tuple(r) for r in hits(e, n_iters=4).collect())
    con = duckdb.connect()
    vals = ", ".join(f"({a}, {b})" for a, b in edges)
    sql = hits_sql(f"SELECT * FROM (VALUES {vals}) t(src, dst)", n_iters=4)
    orows = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert srows == orows


def test_hits_rejects_bad_iters(spark):
    from pandarus_spark.operators.graph import hits
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        hits(e, n_iters=0)

# ---------------------------------------------------------------------------
# hist_quantiles
# ---------------------------------------------------------------------------

def test_hist_quantiles_hand_computed(spark):
    # values 1..10, one row each: q-quantile (lower/disc) of n=10 is
    # the ceil(q*10/1000)-th value
    rows = [(i, "g") for i in range(1, 11)]
    df = spark.createDataFrame(rows, "v long, g string")
    out = {r.q_milli: (r.value, r.n)
           for r in C.hist_quantiles(df, "v",
                                     qs_milli=(1, 100, 250, 500, 501,
                                               900, 999, 1000)).collect()}
    assert out == {1: (1, 10), 100: (1, 10), 250: (3, 10), 500: (5, 10),
                   501: (6, 10), 900: (9, 10), 999: (10, 10),
                   1000: (10, 10)}


def test_hist_quantiles_grouped_with_ties_and_nulls(spark):
    # group a: [2,2,2,7]; group b: [5]; one NULL skipped
    rows = [("a", 2), ("a", 2), ("a", 2), ("a", 7), ("b", 5), ("b", None)]
    df = spark.createDataFrame(rows, "lang string, v long")
    out = sorted(tuple(r) for r in
                 C.hist_quantiles(df, "v", qs_milli=(500, 750, 1000),
                                  group_col="lang").collect())
    assert out == [("a", 500, 2, 4), ("a", 750, 2, 4), ("a", 1000, 7, 4),
                   ("b", 500, 5, 1), ("b", 750, 5, 1), ("b", 1000, 5, 1)]


def test_hist_quantiles_duckdb_parity(spark):
    rows = [(i, f"l{i % 3}", (i * i) % 23) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, v long")
    srows = sorted(tuple(r) for r in
                   C.hist_quantiles(df, "v", group_col="lang").collect())
    con = duckdb.connect()
    vals = ", ".join(f"({i}, '{l}', {v})" for i, l, v in rows)
    con.execute(f"CREATE TABLE documents AS SELECT * FROM (VALUES {vals}) "
                "t(doc_id, lang, v)")
    orows = sorted(tuple(r) for r in con.execute(
        C.hist_quantiles_sql("v", group_expr="lang")).fetchall())
    assert srows == orows


# ---------------------------------------------------------------------------
# cluster_keepers
# ---------------------------------------------------------------------------

def test_cluster_keepers_argmax_and_ties(spark):
    from pandarus_spark.operators.dedup import cluster_keepers
    members = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 4)],
        "doc_id long, cluster_id long")
    # cluster 0: doc 1 wins on score; cluster 4: tie -> min id (4)
    scores = spark.createDataFrame(
        [(0, 10), (1, 99), (2, 50), (3, 1), (4, 7), (5, 7)],
        "doc_id long, score long")
    out = {r.doc_id: r.keep
           for r in cluster_keepers(members, scores).collect()}
    assert out == {0: False, 1: True, 2: False, 3: True,
                   4: True, 5: False}


def test_cluster_keepers_drops_unscored_members(spark):
    from pandarus_spark.operators.dedup import cluster_keepers
    members = spark.createDataFrame([(0, 0), (1, 0)],
                                    "doc_id long, cluster_id long")
    scores = spark.createDataFrame([(1, 5)], "doc_id long, score long")
    rows = cluster_keepers(members, scores).collect()
    assert [(r.doc_id, r.keep) for r in rows] == [(1, True)]


def test_cluster_keepers_duckdb_parity(spark):
    from pandarus_spark.operators.dedup import (cluster_keepers,
                                                cluster_keepers_sql)
    mem = [(i, i % 5) for i in range(25)]
    sc = [(i, (i * 13) % 9) for i in range(25)]       # repeated scores
    members = spark.createDataFrame(mem, "doc_id long, cluster_id long")
    scores = spark.createDataFrame(sc, "doc_id long, score long")
    srows = sorted(tuple(r)
                   for r in cluster_keepers(members, scores).collect())
    con = duckdb.connect()
    mv = ", ".join(f"({a}, {b})" for a, b in mem)
    sv = ", ".join(f"({a}, {b})" for a, b in sc)
    sql = cluster_keepers_sql(
        f"SELECT * FROM (VALUES {mv}) t(doc_id, cluster_id)",
        f"SELECT * FROM (VALUES {sv}) t(doc_id, score)")
    orows = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert srows == orows


def test_hist_quantiles_rejects_bad_qs(spark):
    df = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError):
        C.hist_quantiles(df, "v", qs_milli=(0, 500))
    with pytest.raises(ValueError):
        C.hist_quantiles(df, "v", qs_milli=())
    with pytest.raises(ValueError):
        C.hist_quantiles_sql("v", qs_milli=(1001,))

# ---------------------------------------------------------------------------
# ccnet_split
# ---------------------------------------------------------------------------

def test_ccnet_split_fractions_and_ordering(spark):
    # 10 docs in one language: fluent docs repeat common tokens (low
    # mean NLL), noisy docs are all-hapax (high) — head must be the
    # 3 most fluent, tail the worst 4
    common = "the cat sat on the mat the end"
    rows = [(i, common, "en") for i in range(3)]            # fluent
    rows += [(i, common + f" extra{i}", "en") for i in range(3, 6)]
    rows += [(i, f"zz{i} qq{i} ww{i} vv{i}", "en") for i in range(6, 10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r.split for r in T.ccnet_split(df).collect()}
    assert len(out) == 10
    assert sum(1 for s in out.values() if s == "head") == 3
    assert sum(1 for s in out.values() if s == "middle") == 3
    assert sum(1 for s in out.values() if s == "tail") == 4
    assert all(out[i] == "head" for i in range(3))
    assert all(out[i] == "tail" for i in range(6, 10))


def test_ccnet_split_duckdb_parity_multilang(spark):
    rows = ([(i, f"a b c d{i % 3}", "en") for i in range(7)]
            + [(10 + i, f"x y z w{i % 2}", "de") for i in range(5)]
            + [(20, "", "de"), (21, None, "en")])
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    srows = sorted(tuple(r) for r in T.ccnet_split(df).collect())
    con = duckdb.connect()
    vals = ", ".join(
        "(%d, %s, '%s')" % (i, "NULL" if t is None else f"'{t}'", l)
        for i, t, l in rows)
    con.execute(f"CREATE TABLE documents AS SELECT * FROM (VALUES {vals}) "
                "t(doc_id, text, lang)")
    orows = sorted(tuple(r) for r in con.execute(T.ccnet_split_sql()).fetchall())
    assert srows == orows


def test_ccnet_split_rejects_bad_fractions(spark):
    df = spark.createDataFrame([(0, "a", "en")],
                               "doc_id long, text string, lang string")
    with pytest.raises(ValueError):
        T.ccnet_split(df, head=6, middle=5)

# ---------------------------------------------------------------------------
# pmi_collocations
# ---------------------------------------------------------------------------

def test_pmi_ranks_true_collocations_first(spark):
    import math
    # 'new york' always co-occurs; 'the cat'/'the dog' share 'the'
    rows = [(i, "new york is big and the cat saw the dog", "s")
            for i in range(5)]
    out = T.pmi_collocations(_docs(spark, rows), k=10, min_count=5).collect()
    # every singleton-unigram adjacent pair ties at PMI = ln(5*50/25)
    # = ln(10); ties break lexicographically, and 'new york' is one of
    # them with the exact detmath value
    expect = (round(math.log(5) * 1e6) + round(math.log(50) * 1e6)
              - 2 * round(math.log(5) * 1e6))
    by_gram = {r.gram: r for r in out}
    assert by_gram["new york"].pmi_micro == expect
    assert out[0].pmi_micro == expect and out[0].gram == "big and"
    # 'the cat' (ca = c('the') = 10) scores ln(5) lower and ranks after
    # every full-PMI pair
    assert by_gram["the cat"].pmi_micro == expect - round(math.log(2) * 1e6)
    assert by_gram["the cat"].rank > by_gram["new york"].rank


def test_pmi_duckdb_parity_and_min_count(spark):
    rows = [(0, "a b a b c d", "s"), (1, "a b x y", "s"),
            (2, "", "s"), (3, "solo", "s")]
    srows = sorted(tuple(r) for r in
                   T.pmi_collocations(_docs(spark, rows), k=10,
                                      min_count=2).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                "(0,'a b a b c d'),(1,'a b x y'),(2,''),(3,'solo')"
                ") t(doc_id, text)")
    orows = sorted(tuple(r) for r in con.execute(
        T.pmi_collocations_sql(k=10, min_count=2)).fetchall())
    assert srows == orows
    # truncated single-word grams never rank (contains ' ' filter)
    assert all(" " in g for g, *_ in srows)


# ---------------------------------------------------------------------------
# triangles
# ---------------------------------------------------------------------------

def _tri_brute(edges):
    import itertools
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = sorted({x for p in und for x in p})
    cnt = {n: 0 for n in nodes}
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in und and (b, c) in und and (a, c) in und:
            for x in (a, b, c):
                cnt[x] += 1
    return sorted(cnt.items())


def test_triangles_matches_brute_force(spark):
    from pandarus_spark.operators.graph import triangles
    # two shared-edge triangles + a pendant + an isolated pair, plus
    # direction flips, parallel edges, and a self-loop-only node
    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 2),
             (5, 5), (1, 0), (0, 1), (6, 7), (4, 8)]
    e = spark.createDataFrame(edges, "src long, dst long")
    out = sorted((r.node, r.n_tri) for r in triangles(e).collect())
    assert out == _tri_brute(edges)
    # node 5 (self-loop only) is not in the simple graph
    assert 5 not in {n for n, _ in out}
    # zero-filled: pendant/isolated nodes present with 0
    d = dict(out)
    assert d[8] == 0 and d[6] == 0 and d[7] == 0


def test_triangles_duckdb_parity_skewed_hub(spark):
    from pandarus_spark.operators.graph import triangles, triangles_sql
    # hub 0 connected to everyone + a ring: many triangles at the hub;
    # degree-ordered orientation must still count each exactly once
    n = 12
    edges = [(0, i) for i in range(1, n)] + \
            [(i, i % (n - 1) + 1) for i in range(1, n)]
    e = spark.createDataFrame(edges, "src long, dst long")
    srows = sorted(tuple(r) for r in triangles(e).collect())
    con = duckdb.connect()
    vals = ", ".join(f"({a}, {b})" for a, b in edges)
    sql = triangles_sql(f"SELECT * FROM (VALUES {vals}) t(src, dst)")
    orows = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert srows == orows == _tri_brute(edges)


def test_triangles_empty_and_triangle_free(spark):
    from pandarus_spark.operators.graph import triangles
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    out = {r.node: r.n_tri for r in triangles(e).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 0}   # path graph: no triangles
    empty = spark.createDataFrame([], "src long, dst long")
    assert triangles(empty).count() == 0


# ---------------------------------------------------------------------------
# bm25_topk
# ---------------------------------------------------------------------------

def test_bm25_semantics(spark):
    from pandarus_spark.operators.textstats import bm25_topk
    rows = [(0, "spark join table the fast", "a"),
            (1, "spark spark spark", "a"),
            (2, "window agg row", "a"),
            (3, None, "a"),
            (4, "join the JOIN Spark", "a"),
            (5, "table " * 30 + "spark", "a")]
    out = bm25_topk(_docs(spark, rows), ("spark", "join"), k=10).collect()
    got = {r.doc_id: (r.n_hit, r.score_micro) for r in out}
    # doc 2 and the NULL doc match nothing -> absent from the ranking
    assert 2 not in got and 3 not in got
    # case-insensitive: doc 4 hits both terms
    assert got[4][0] == 2
    # both-term docs outrank the single-term docs
    assert got[4][1] > got[1][1] and got[0][1] > got[1][1]
    # long doc with one hit scores below short doc with one hit
    assert got[5][1] < got[1][1]
    # k cap + deterministic order (score desc, id asc)
    top2 = bm25_topk(_docs(spark, rows), ("spark", "join"), k=2).collect()
    full = sorted(out, key=lambda r: (-r.score_micro, r.doc_id))
    assert [r.doc_id for r in top2] == [r.doc_id for r in full[:2]]


def test_bm25_duckdb_parity(spark):
    from pandarus_spark.operators.textstats import bm25_topk, bm25_topk_sql
    rows = [(i, " ".join(["spark"] * (i % 4) + ["join"] * (i % 3) +
                         ["pad"] * (i % 7)), "s") for i in range(25)]
    srows = [tuple(r) for r in
             bm25_topk(_docs(spark, rows), ("spark", "join"), k=8).collect()]
    con = duckdb.connect()
    vals = ", ".join("(%d, '%s')" % (i, t) for i, t, _ in rows)
    con.execute(f"CREATE TABLE documents AS "
                f"SELECT * FROM (VALUES {vals}) t(doc_id, text)")
    orows = con.execute(bm25_topk_sql(("spark", "join"), k=8)).fetchall()
    assert srows == orows


def test_bm25_guards(spark):
    from pandarus_spark.operators.textstats import bm25_topk, bm25_topk_sql
    d = _docs(spark, [(0, "x", "s")])
    with pytest.raises(ValueError):
        bm25_topk(d, ())
    with pytest.raises(ValueError):
        bm25_topk(d, ("x",), k=0)
    with pytest.raises(ValueError):
        bm25_topk_sql(())


# ---------------------------------------------------------------------------
# winnow_fingerprints
# ---------------------------------------------------------------------------

def _winnow_ref(arr, w):
    """Pure-Python basic winnowing over given shingle-id arrays:
    per window, min hash, rightmost on ties."""
    ref = set()
    for did, ids in arr.items():
        n = len(ids)
        for i in range(0, max(n - w + 1, 1)):
            best = None
            for j in range(i, min(i + w, n)):
                cand = (ids[j], -(j + 1))
                if best is None or cand < best:
                    best = cand
            ref.add((did, -best[1], best[0]))
    return sorted(ref)


def test_winnow_three_way_parity(spark):
    from pandarus_spark.operators.dedup import (
        winnow_fingerprints, winnow_fingerprints_sql, _shingle_id_fold)
    rows = [(0, "a b c d e f g h i j", "s"),
            (1, "x y a b c d e f q r s", "s"),   # shares 6 words with 0
            (2, "z", "s"),                        # shorter than k
            (3, None, "s"),
            (4, "m n", "s"),                      # shorter than the window
            (5, "t t t t t t t t", "s")]          # identical shingles: ties
    d = _docs(spark, rows)
    K, W = 3, 4
    out = sorted(tuple(r) for r in
                 winnow_fingerprints(d, k=K, w=W).collect())
    con = duckdb.connect()
    vals = ", ".join("(%d, %s)" % (i, "NULL" if t is None else "'" + t + "'")
                     for i, t, _ in rows)
    con.execute(f"CREATE TABLE documents AS "
                f"SELECT * FROM (VALUES {vals}) t(doc_id, text)")
    orc = sorted(con.execute(winnow_fingerprints_sql(k=K, w=W)).fetchall())
    lanes, fold = _shingle_id_fold(d, K, "text", ["doc_id"])
    arr = {r.doc_id: r._ids for r in
           lanes.select("doc_id", fold.alias("_ids")).collect()}
    assert out == orc == _winnow_ref(arr, W)
    # every doc contributes at least one fingerprint (truncated window)
    assert {i for i, _, _ in out} == {0, 1, 2, 3, 4, 5}
    # tie storm: doc 5's identical shingles still dedupe to one fp value
    assert len({fp for i, _, fp in out if i == 5}) == 1


def test_winnow_guarantee_shared_substring(spark):
    from pandarus_spark.operators.dedup import winnow_fingerprints
    # docs share a substring of w + k - 1 = 6 words -> the winnowing
    # guarantee promises at least one common fingerprint VALUE
    rows = [(0, "p q r shared one two three four five six tail0", "s"),
            (1, "a b c d shared one two three four five six z w", "s"),
            (2, "totally different words here apple pear plum", "s")]
    out = winnow_fingerprints(_docs(spark, rows), k=3, w=4).collect()
    fps = {}
    for r in out:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[0] & fps[1]
    assert not (fps[0] & fps[2])


def test_winnow_guards(spark):
    from pandarus_spark.operators.dedup import (
        winnow_fingerprints, winnow_fingerprints_sql)
    d = _docs(spark, [(0, "x", "s")])
    with pytest.raises(ValueError):
        winnow_fingerprints(d, k=0)
    with pytest.raises(ValueError):
        winnow_fingerprints(d, w=0)
    with pytest.raises(ValueError):
        winnow_fingerprints_sql(w=0)


# ---------------------------------------------------------------------------
# winnow_overlap_pairs
# ---------------------------------------------------------------------------

def test_winnow_overlap_guarantee_and_parity(spark):
    from pandarus_spark.operators.dedup import (
        winnow_overlap_pairs, winnow_overlap_pairs_sql)
    rows = [(0, "p q r shared one two three four five six tail0", "s"),
            (1, "a b c d shared one two three four five six z w", "s"),
            (2, "totally different words here apple pear plum", "s"),
            (3, "shared one two three four five six", "s"),
            (4, None, "s"),
            (5, "p q r shared one two three four five six tail0", "s")]
    d = _docs(spark, rows)
    con = duckdb.connect()
    vals = ", ".join("(%d, %s)" % (i, "NULL" if t is None else "'" + t + "'")
                     for i, t, _ in rows)
    con.execute(f"CREATE TABLE documents AS "
                f"SELECT * FROM (VALUES {vals}) t(doc_id, text)")
    for kw in ({"k": 3, "w": 4}, {"k": 3, "w": 4, "min_shared": 2},
               {"k": 3, "w": 4, "max_df": 3}):
        out = sorted(tuple(r) for r in
                     winnow_overlap_pairs(d, **kw).collect())
        orc = sorted(con.execute(winnow_overlap_pairs_sql(**kw)).fetchall())
        assert out == orc, kw
    # guarantee: every pair sharing the >= w+k-1 = 6-word run is found
    got = {(a, b) for a, b, _ in winnow_overlap_pairs(d, k=3, w=4).collect()}
    for p in [(0, 1), (0, 3), (1, 3), (0, 5), (1, 5), (3, 5)]:
        assert p in got, p
    # disjoint / NULL docs never pair
    assert not any(2 in p or 4 in p for p in got)
    # max_df drops the boilerplate-run fps (df=4 > 3): only the exact
    # dup (0,5) survives on its unique-tail fingerprints
    capped = {(a, b) for a, b, _ in
              winnow_overlap_pairs(d, k=3, w=4, max_df=3).collect()}
    assert capped == {(0, 5)}


def test_winnow_overlap_guards(spark):
    from pandarus_spark.operators.dedup import (
        winnow_overlap_pairs, winnow_overlap_pairs_sql)
    d = _docs(spark, [(0, "x", "s")])
    with pytest.raises(ValueError):
        winnow_overlap_pairs(d, min_shared=0)
    with pytest.raises(ValueError):
        winnow_overlap_pairs(d, max_df=1)
    with pytest.raises(ValueError):
        winnow_overlap_pairs_sql(max_df=1)


# ---------------------------------------------------------------------------
# token_spectrum / link_reciprocity
# ---------------------------------------------------------------------------

def test_token_spectrum_hand_computed_and_parity(spark):
    from pandarus_spark.operators.textstats import (
        token_spectrum, token_spectrum_sql)
    rows = [(0, "a b a c", "s"), (1, "a b", "s"),
            (2, None, "s"), (3, "d d d", "s")]
    out = sorted(tuple(r) for r in token_spectrum(_docs(spark, rows)).collect())
    # tokens: a:3 b:2 c:1 d:3 '':1  ->  f1:2 types, f2:1, f3:2
    assert out == [(1, 2), (2, 1), (3, 2)]
    con = duckdb.connect()
    vals = ", ".join("(%d, %s)" % (i, "NULL" if t is None else "'" + t + "'")
                     for i, t, _ in rows)
    con.execute(f"CREATE TABLE documents AS "
                f"SELECT * FROM (VALUES {vals}) t(doc_id, text)")
    assert sorted(con.execute(token_spectrum_sql()).fetchall()) == out
    # identity: sum(freq * n_types) == total token count (4+2+1+3 = 10)
    assert sum(f * n for f, n in out) == 10


def test_link_reciprocity_semantics_and_parity(spark):
    from pandarus_spark.operators.graph import (
        link_reciprocity, link_reciprocity_sql)
    edges = [(0, 1), (1, 0), (1, 2), (2, 3), (3, 2), (4, 4), (0, 1), (2, 0)]
    e = spark.createDataFrame(edges, "src long, dst long")
    out = sorted(tuple(r) for r in link_reciprocity(e).collect())
    # distinct non-loop edges; parallel (0,1) collapses; loop (4,4) drops
    assert out == [(0, 1, 1), (1, 2, 1), (2, 2, 1), (3, 1, 1)]
    con = duckdb.connect()
    ve = ", ".join(f"({a},{b})" for a, b in edges)
    orc = sorted(con.execute(link_reciprocity_sql(
        f"SELECT * FROM (VALUES {ve}) t(src, dst)")).fetchall())
    assert out == orc
    # one-way-only graph: reciprocity all zero
    one = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    assert sorted(tuple(r) for r in link_reciprocity(one).collect()) == \
        [(0, 1, 0), (1, 1, 0)]


# ---------------------------------------------------------------------------
# containment_pairs
# ---------------------------------------------------------------------------

def test_containment_detects_quote_jaccard_misses(spark):
    from pandarus_spark.operators.dedup import (
        containment_pairs, containment_pairs_sql, ngram_jaccard_pairs)
    long_doc = ("intro words here quote one two three four five "
                + "and a very long tail " * 5)
    rows = [(0, "quote one two three four five", "s"),
            (1, long_doc, "s"),
            (2, "unrelated totally different text entirely", "s"),
            (3, None, "s")]
    d = _docs(spark, rows)
    out = {(r.doc_a, r.doc_b): (r.cont_a_micro, r.cont_b_micro)
           for r in containment_pairs(d, k=3, threshold_micro=900_000)
           .collect()}
    # full quote: containment(A->B) exactly 1.0, reverse small
    assert out[(0, 1)][0] == 1_000_000 and out[(0, 1)][1] < 500_000
    # Jaccard at the same bar misses the pair entirely
    jac = ngram_jaccard_pairs(d, k=3, threshold=0.9).collect()
    assert not any(r.doc_a == 0 and r.doc_b == 1 for r in jac)
    # DuckDB parity, with and without the df valve
    con = duckdb.connect()
    vals = ", ".join("(%d, %s)" % (i, "NULL" if t is None else "'" + t + "'")
                     for i, t, _ in rows)
    con.execute(f"CREATE TABLE documents AS "
                f"SELECT * FROM (VALUES {vals}) t(doc_id, text)")
    for kw in ({"k": 3, "threshold_micro": 900_000},
               {"k": 3, "threshold_micro": 100_000, "max_df": 3}):
        got = sorted(tuple(r) for r in containment_pairs(d, **kw).collect())
        assert got == sorted(con.execute(
            containment_pairs_sql(**kw)).fetchall()), kw


def test_containment_guards(spark):
    from pandarus_spark.operators.dedup import (
        containment_pairs, containment_pairs_sql)
    d = _docs(spark, [(0, "x", "s")])
    with pytest.raises(ValueError):
        containment_pairs(d, threshold_micro=0)
    with pytest.raises(ValueError):
        containment_pairs(d, max_df=1)
    with pytest.raises(ValueError):
        containment_pairs_sql(threshold_micro=2_000_000)


# ---------------------------------------------------------------------------
# trigram_backoff_logprob
# ---------------------------------------------------------------------------

def test_trigram_backoff_duckdb_parity_messy(spark):
    rows = [(0, "the cat sat on the mat", "s"),
            (1, "the cat sat on the hat", "s"),
            (2, "", "s"),                      # empty -> one '' token
            (3, "cat", "s"),                   # unigram-only doc
            (4, "on the", "s"),                # bigram-max doc
            (5, "a b a b a b a", "s"),
            (6, "mat the cat sat on the mat the cat", "s")]
    out = (T.trigram_backoff_logprob(_docs(spark, rows))
           .orderBy("doc_id").collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES " +
                ", ".join(f"({i}, '{t}', 's')" for i, t, _ in rows) +
                ") t(doc_id, text, source)")
    orows = con.execute(T.trigram_backoff_logprob_sql()
                        + " ORDER BY doc_id").fetchall()
    assert [(r.doc_id, r.n_tokens, r.nll3_micro) for r in out] == orows


def test_trigram_backoff_fluent_scores_lower(spark):
    # a document whose trigrams recur in the corpus must out-score
    # (lower mean NLL) a same-length bag of the same words in an
    # order the corpus never exhibits
    fluent = "the cat sat on the mat"
    salad = "mat the on sat cat the"
    rows = [(i, fluent, "s") for i in range(5)] + [(5, salad, "s")]
    out = {r.doc_id: r.nll3_micro
           for r in T.trigram_backoff_logprob(_docs(spark, rows)).collect()}
    assert out[0] < out[5]
    assert all(out[i] == out[0] for i in range(1, 5))  # identical docs tie


def test_trigram_backoff_position_semantics(spark):
    # doc-initial positions start at the highest order the context
    # allows with NO backoff penalty: two one-word docs of the same
    # word score identically regardless of the other doc's structure,
    # and n_tokens counts every position (clamped-empty included)
    rows = [(0, "cat", "s"), (1, "cat", "s"),
            (2, "cat sat cat sat", "s"), (3, "", "s")]
    out = {r.doc_id: r for r in
           T.trigram_backoff_logprob(_docs(spark, rows)).collect()}
    assert out[0].nll3_micro == out[1].nll3_micro
    assert out[0].n_tokens == 1 and out[2].n_tokens == 4
    assert out[3].n_tokens == 1                # '' token is scored too


# ---------------------------------------------------------------------------
# ppjoin_pairs
# ---------------------------------------------------------------------------

def _pp_corpus():
    return [(0, "the cat sat on the mat today", "s"),
            (1, "the cat sat on the mat tonight", "s"),
            (2, "the cat sat on the red mat today", "s"),
            (3, "a completely different document body here", "s"),
            (4, "the cat sat on the mat today", "s"),     # dup of 0
            (5, "cat", "s"), (6, "", "s"),
            (7, "a completely different document body now", "s")]


def test_ppjoin_equals_brute_force_all_thresholds(spark):
    from pandarus_spark.operators.dedup import ppjoin_pairs, ppjoin_pairs_sql
    rows = _pp_corpus()
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES " +
                ", ".join(f"({i}, '{t}', 's')" for i, t, _ in rows) +
                ") t(doc_id, text, source)")
    for tm in (100_000, 300_000, 500_000, 1_000_000):
        out = sorted(tuple(r) for r in
                     ppjoin_pairs(_docs(spark, rows),
                                  threshold_micro=tm).collect())
        o = sorted(tuple(r) for r in
                   con.execute(ppjoin_pairs_sql(threshold_micro=tm))
                      .fetchall())
        assert out == o, tm
    # the exact-dup pair scores exactly 1e6 and survives tau = 1
    top = ppjoin_pairs(_docs(spark, rows),
                       threshold_micro=1_000_000).collect()
    assert [(r.doc_a, r.doc_b, r.jacc_micro) for r in top] == [(0, 4, 1_000_000)]


def test_ppjoin_boundary_pair_is_kept(spark):
    # two 4-shingle docs sharing exactly 2 shingles: J = 2/6 = 1/3;
    # at tau = 1/3 the keep-test (s*1e6) div (na+nb-s) >= 333334 must
    # round DOWN to 333333 and drop it, at 333333 it must keep it —
    # the integer threshold is exact, no float tie possible
    from pandarus_spark.operators.dedup import ppjoin_pairs
    rows = [(0, "a b c d e f", "s"), (1, "c d e f g h", "s")]
    keep = ppjoin_pairs(_docs(spark, rows), threshold_micro=333_333).collect()
    assert [(r.doc_a, r.doc_b) for r in keep] == [(0, 1)]
    drop = ppjoin_pairs(_docs(spark, rows), threshold_micro=333_334).collect()
    assert drop == []


def test_ppjoin_prefix_is_a_strict_valve(spark):
    # on a corpus where every doc shares a stopword shingle, the
    # prefix table must be strictly smaller than the inverted index —
    # the high-df shingle is ordered LAST and falls out of prefixes
    from pyspark.sql import Window
    from pandarus_spark.operators.dedup import word_shingles
    rows = [(i, "the quick brown fox " + w, "s")
            for i, w in enumerate(["alpha", "beta", "gamma", "delta"])]
    docs = _docs(spark, rows)
    sh = docs.select(F.col("doc_id").alias("_id"),
                     word_shingles(F.col("text"), 3).alias("_sh"))
    inv = sh.select("_id", F.size("_sh").alias("_n"),
                    F.explode("_sh").alias("g"))
    dfq = inv.groupBy("g").agg(F.count("*").alias("_df"))
    w = Window.partitionBy("_id").orderBy(F.asc("_df"), F.asc("g"))
    tm = 500_000
    pref = (inv.join(dfq, "g")
               .withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") <= F.col("_n")
                       - F.expr(f"({tm} * _n + 999999) DIV 1000000") + 1))
    n_inv, n_pref = inv.count(), pref.count()
    assert n_pref < n_inv
    # and the shared stopword shingle is in no prefix at tau=0.5
    assert pref.filter(F.col("g") == "the quick brown").count() == 0


def test_ppjoin_guards(spark):
    from pandarus_spark.operators.dedup import ppjoin_pairs, ppjoin_pairs_sql
    with pytest.raises(ValueError):
        ppjoin_pairs(_docs(spark, [(0, "a", "s")]), threshold_micro=0)
    with pytest.raises(ValueError):
        ppjoin_pairs_sql(threshold_micro=1_000_001)


# ---------------------------------------------------------------------------
# label_propagation
# ---------------------------------------------------------------------------

def test_label_prop_communities_and_parity(spark):
    from pandarus_spark.operators.graph import (label_propagation,
                                                label_propagation_sql)
    # two triangles joined by one bridge edge, plus a pendant pair:
    # LPA must give each triangle its own label (unlike connected
    # components) and the self-vote must settle the pendant pair
    edges = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10),
             (2, 10), (20, 21)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = sorted(tuple(r) for r in
                 label_propagation(df, n_iters=5).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE edg AS SELECT * FROM (VALUES " +
                ", ".join(f"({u}, {v})" for u, v in edges) +
                ") t(src, dst)")
    orows = sorted(tuple(r) for r in con.execute(
        label_propagation_sql("SELECT src, dst FROM edg",
                              n_iters=5)).fetchall())
    assert out == orows
    lab = dict(out)
    assert lab[0] == lab[1] == lab[2]
    assert lab[10] == lab[11] == lab[12]
    assert lab[0] != lab[10]               # bridge does NOT merge them
    assert lab[20] == lab[21]              # self-vote kills the swap


def test_label_prop_directed_input_is_symmetrized(spark):
    from pandarus_spark.operators.graph import label_propagation
    # one-directional edges still propagate both ways
    df = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    out = dict((r.node, r.label) for r in
               label_propagation(df, n_iters=4).collect())
    assert out == {0: 0, 1: 0, 2: 0}


def test_label_prop_guards(spark):
    from pandarus_spark.operators.graph import (label_propagation,
                                                label_propagation_sql)
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        label_propagation(df, n_iters=0)
    with pytest.raises(ValueError):
        label_propagation_sql("SELECT 1 AS src, 2 AS dst", n_iters=0)


# ---------------------------------------------------------------------------
# zorder layout
# ---------------------------------------------------------------------------

def _pts(spark, n=64):
    rows = [(i, float((i * 37) % 360) - 180.0 + 0.25,
             float((i * 7) % 180) - 90.0 + 0.25) for i in range(n)]
    rows += [(n, -180.0, -90.0), (n + 1, 179.9999, 89.9999),
             (n + 2, 180.0, 90.0), (n + 3, -180.5, 91.0)]  # clamp cases
    return spark.createDataFrame(rows, "doc_id long, lon double, lat double")


def test_zorder_buckets_duckdb_parity_with_clamps(spark):
    from pandarus_spark.operators.layout import (zorder_buckets_exact,
                                                 zorder_buckets_sql)
    df = _pts(spark)
    out = sorted(tuple(r) for r in
                 zorder_buckets_exact(df, bits=16, n_buckets=8).collect())
    con = duckdb.connect()
    con.register("pts", df.toPandas())
    orows = sorted(tuple(r) for r in con.execute(
        zorder_buckets_sql("lon", "lat", source="pts",
                           bits=16, n_buckets=8)).fetchall())
    assert out == orows


def test_zorder_decode_roundtrip(spark):
    # de-interleaving the Morton key recovers the quantized indices
    # exactly (bits=8 keeps the stacked test expression inside one
    # codegen method)
    from pandarus_spark.operators.layout import (_quant_sql,
                                                 deinterleave_sql,
                                                 with_zorder_key)
    dec = (with_zorder_key(_pts(spark), "lon", "lat", 8, "z")
           .withColumn("ix", F.expr(_quant_sql("lon", -180.0, 360.0, 8)))
           .withColumn("iy", F.expr(_quant_sql("lat", -90.0, 180.0, 8)))
           .withColumn("dx", F.expr(deinterleave_sql("z", 8, 0, "spark")))
           .withColumn("dy", F.expr(deinterleave_sql("z", 8, 1, "spark"))))
    assert dec.filter((F.col("dx") != F.col("ix")) |
                      (F.col("dy") != F.col("iy"))).count() == 0


def test_zorder_layout_file_ranges_disjoint(spark):
    # the production repartitionByRange path: per-partition zkey
    # [min, max] ranges must not overlap — tight file statistics
    from pandarus_spark.operators.layout import zorder_layout
    part = (zorder_layout(_pts(spark, 256), n_files=4)
            .withColumn("pid", F.spark_partition_id())
            .groupBy("pid").agg(F.min("zkey").alias("lo"),
                                F.max("zkey").alias("hi"))
            .orderBy("lo").collect())
    rngs = [(r.lo, r.hi) for r in part]
    assert all(rngs[i][1] <= rngs[i + 1][0] for i in range(len(rngs) - 1))


def test_zorder_locality_beats_row_order(spark):
    # the point of the layout: sorting by zkey collapses the spatial
    # spread inside each file.  Per-4-file lon/lat bounding boxes must
    # cover (sum of areas) strictly less under zkey order than under
    # doc_id order for the striped synthetic points
    from pandarus_spark.operators.layout import with_zorder_key
    df = with_zorder_key(_pts(spark, 256), "lon", "lat", 16)

    def span_sum(order_col):
        from pyspark.sql import Window
        w = Window.orderBy(order_col)
        g = (df.withColumn("f", ((F.row_number().over(w) - 1) / 65)
                                 .cast("int"))
               .groupBy("f")
               .agg(((F.max("lon") - F.min("lon")) *
                     (F.max("lat") - F.min("lat"))).alias("a")))
        return g.agg(F.sum("a")).collect()[0][0]

    assert span_sum("zkey") < span_sum("doc_id")


def test_zorder_guards(spark):
    from pandarus_spark.operators.layout import (interleave_sql,
                                                 zorder_buckets_sql,
                                                 zorder_layout)
    with pytest.raises(ValueError):
        interleave_sql("a", "b", 31, "spark")
    with pytest.raises(ValueError):
        zorder_buckets_sql("lon", "lat", n_buckets=0)
    with pytest.raises(ValueError):
        zorder_layout(_pts(spark), n_files=0)


# ---------------------------------------------------------------------------
# dissolve_measure
# ---------------------------------------------------------------------------

def _box_feats(spark, boxes, key="all"):
    from pandarus_spark.geometry import geom as G
    rows = []
    for i, (x0, y0, x1, y1) in enumerate(boxes):
        g = {"type": "Polygon",
             "coordinates": [[[x0, y0], [x1, y0], [x1, y1],
                              [x0, y1], [x0, y0]]]}
        rows.append((i, f"f{i}", bytearray(G.wkb_dumps(g)), "polygon", key))
    return spark.createDataFrame(
        rows, "feature_id long, label string, geom_wkb binary, "
              "kind string, k string")


def _sweep_union_area(boxes):
    # independent reference: vertical sweep + interval union (no
    # engine kernels involved)
    import numpy as np
    xs = np.unique(np.concatenate([[b[0], b[2]] for b in boxes]))
    total = 0.0
    for a, b in zip(xs[:-1], xs[1:]):
        mid = 0.5 * (a + b)
        ivs = sorted((y0, y1) for (x0, y0, x1, y1) in boxes
                     if x0 <= mid <= x1)
        if not ivs:
            continue
        cov, (lo, hi) = 0.0, ivs[0]
        for c, d in ivs[1:]:
            if c > hi:
                cov += hi - lo
                lo, hi = c, d
            else:
                hi = max(hi, d)
        total += (cov + hi - lo) * (b - a)
    return total


def test_dissolve_matches_independent_sweep_on_random_overlaps(spark):
    import numpy as np
    from pandarus_spark.operators.dissolve import dissolve_measure
    rng = np.random.default_rng(7)
    boxes = []
    for _ in range(25):
        x0, y0 = rng.uniform(-5, 5, 2)
        w, h = rng.uniform(0.1, 3, 2)
        boxes.append((x0, y0, x0 + w, y0 + h))
    out = dissolve_measure(_box_feats(spark, boxes), key_col="k",
                           slab_width=2.0, project=False).collect()[0]
    assert abs(out.area_m2 - _sweep_union_area(boxes) * 1e6) <= 2


def test_dissolve_partial_overlap_and_slab_invariance(spark):
    from pandarus_spark.operators.dissolve import dissolve_measure
    boxes = [(0.0, 0.0, 2.0, 2.0), (1.0, 1.0, 3.0, 3.0)]   # union = 7
    for width in (0.5, 2.0, 100.0):
        out = dissolve_measure(_box_feats(spark, boxes), key_col="k",
                               slab_width=width,
                               project=False).collect()[0]
        assert out.area_m2 == 7_000_000, (width, out.area_m2)


def test_dissolve_hole_excluded(spark):
    from pandarus_spark.geometry import geom as G
    from pandarus_spark.operators.dissolve import dissolve_measure
    g = {"type": "Polygon",
         "coordinates": [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]],
                         [[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]]]}
    feats = spark.createDataFrame(
        [(0, "f0", bytearray(G.wkb_dumps(g)), "polygon", "all")],
        "feature_id long, label string, geom_wkb binary, kind string, "
        "k string")
    out = dissolve_measure(feats, key_col="k",
                           project=False).collect()[0]
    assert out.area_m2 == 12_000_000            # 16 - 4


def test_dissolve_guards(spark):
    from pandarus_spark.geometry import geom as G
    from pandarus_spark.operators.dissolve import dissolve_measure
    line = {"type": "LineString", "coordinates": [[0, 0], [1, 1]]}
    feats = spark.createDataFrame(
        [(0, "f0", bytearray(G.wkb_dumps(line)), "line", "all")],
        "feature_id long, label string, geom_wkb binary, kind string, "
        "k string")
    with pytest.raises(Exception, match="needs polygon"):
        dissolve_measure(feats, key_col="k").collect()
    with pytest.raises(ValueError):
        dissolve_measure(feats, key_col="k", slab_width=0)


# ---------------------------------------------------------------------------
# BPE merges + tokenize
# ---------------------------------------------------------------------------

def test_bpe_merges_hand_and_parity(spark):
    from pandarus_spark.operators.bpe import bpe_merges, bpe_merges_sql
    rows = [(0, "banana banana", "s")]
    out = [(r.step, r.lhs, r.rhs, r.pair_count) for r in
           bpe_merges(_docs(spark, rows), n_merges=3)
           .orderBy("step").collect()]
    # banana x2: a-n and n-a tie at 4 -> lex picks (a, n); then
    # b/an/an/a: all pairs tie at 2 -> lex picks (an, a); then
    # b/an/ana: (an, ana) vs (b, an) tie -> lex picks (an, ana)
    assert out == [(1, "a", "n", 4), (2, "an", "a", 2),
                   (3, "an", "ana", 2)]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT 0 AS doc_id, "
                "'banana banana' AS text")
    assert out == con.execute(bpe_merges_sql(3)
                              + " ORDER BY step").fetchall()


def test_bpe_merges_duckdb_parity_messy(spark):
    from pandarus_spark.operators.bpe import bpe_merges, bpe_merges_sql
    rows = [(0, "the cat sat on the mat", "s"),
            (1, "the cats sat on the hats", "s"),
            (2, "that theme is the same theme", "s"),
            (3, "", "s"), (4, "a  b", "s"), (5, "banana bandana", "s")]
    out = [(r.step, r.lhs, r.rhs, r.pair_count) for r in
           bpe_merges(_docs(spark, rows), n_merges=6)
           .orderBy("step").collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES " +
                ", ".join(f"({i}, '{t}', 's')" for i, t, _ in rows) +
                ") t(doc_id, text, source)")
    assert out == con.execute(bpe_merges_sql(6)
                              + " ORDER BY step").fetchall()


def test_bpe_tokenize_semantics_and_parity(spark):
    from pandarus_spark.operators.bpe import (bpe_tokenize,
                                              bpe_tokenize_sql)
    from pandarus_spark.operators.bpe import bpe_merges
    rows = [(0, "banana banana", "s"), (1, "ban", "s"), (2, "", "s")]
    # hand-chosen merges: one replace pass per merge, in order —
    # exactly how training applied them
    out = {r.doc_id: (r.n_tokens, r.n_chars) for r in
           bpe_tokenize(_docs(spark, rows),
                        [("a", "n"), ("an", "a")]).collect()}
    assert out[0] == (6, 12)      # per word: [b, an, ana]
    assert out[1] == (2, 3)       # [b, an]
    assert out[2] == (0, 0)
    # the SQL twin LEARNS its merges from the same table — on this
    # corpus round 2 picks (b, an) — so the Spark side must learn
    # them too for the comparison
    learned = [(r.lhs, r.rhs) for r in
               bpe_merges(_docs(spark, rows), n_merges=2)
               .orderBy("step").collect()]
    assert learned == [("a", "n"), ("b", "an")]
    out2 = sorted((r.doc_id, r.n_tokens, r.n_chars) for r in
                  bpe_tokenize(_docs(spark, rows), learned).collect())
    assert out2[1][1] == 1        # 'ban' collapses to ONE token
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                "(0, 'banana banana', 's'), (1, 'ban', 's'), "
                "(2, '', 's')) t(doc_id, text, source)")
    orows = con.execute(bpe_tokenize_sql(2)
                        + " ORDER BY doc_id").fetchall()
    assert out2 == orows


def test_bpe_guards_and_exhaustion(spark):
    from pandarus_spark.operators.bpe import (bpe_merges,
                                              bpe_merges_sql)
    with pytest.raises(ValueError):
        bpe_merges(_docs(spark, [(0, "ab", "s")]), n_merges=0)
    with pytest.raises(ValueError):
        bpe_merges_sql(0)
    with pytest.raises(ValueError, match="exhausted"):
        bpe_merges(_docs(spark, [(0, "ab", "s")]), n_merges=5)


# ---------------------------------------------------------------------------
# dissolve_length / dissolve_points
# ---------------------------------------------------------------------------

def _line_feats(spark, rows):
    from pandarus_spark.geometry import geom as G
    out = []
    for i, (x0, y0, x1, y1, k) in enumerate(rows):
        g = {"type": "LineString", "coordinates": [[x0, y0], [x1, y1]]}
        out.append((i, f"f{i}", bytearray(G.wkb_dumps(g)), "line", k))
    return spark.createDataFrame(
        out, "feature_id long, label string, geom_wkb binary, "
             "kind string, k string")


def test_dissolve_length_merges_overlaps_dups_crossings(spark):
    import numpy as np
    from pandarus_spark.operators.dissolve import dissolve_length
    rows = [(0, 0, 2, 0, "a"), (1, 0, 4, 0, "a"),   # overlap -> [0,4]
            (0, 0, 2, 0, "a"),                       # exact duplicate
            (0, -1, 0, 1, "a"),                      # crossing vertical
            (10, 10, 11, 11, "b"), (10, 10, 11, 11, "b")]
    out = {r.key: r.length_mm for r in
           dissolve_length(_line_feats(spark, rows), key_col="k",
                           project=False).collect()}
    assert out["a"] == 6_000_000                     # 4 + 2
    assert abs(out["b"] - round(np.sqrt(2) * 1e6)) <= 1


def test_dissolve_length_touching_segments_merge(spark):
    from pandarus_spark.operators.dissolve import dissolve_length
    rows = [(0, 0, 1, 0, "a"), (1, 0, 2, 0, "a")]    # touch at x=1
    out = dissolve_length(_line_feats(spark, rows), key_col="k",
                          project=False).collect()
    assert out[0].length_mm == 2_000_000


def test_dissolve_points_and_guards(spark):
    from pandarus_spark.geometry import geom as G
    from pandarus_spark.operators.dissolve import (dissolve_length,
                                                   dissolve_points)
    rows = []
    for i, (x, y, k) in enumerate([(0, 0, "a"), (0, 0, "a"),
                                   (1, 1, "a"), (2, 2, "b")]):
        g = {"type": "Point", "coordinates": [x, y]}
        rows.append((i, f"f{i}", bytearray(G.wkb_dumps(g)), "point", k))
    feats = spark.createDataFrame(
        rows, "feature_id long, label string, geom_wkb binary, "
              "kind string, k string")
    out = {r.key: r.n_points for r in
           dissolve_points(feats, key_col="k").collect()}
    assert out == {"a": 2, "b": 1}
    # kind validation is per-batch inside the Arrow map (no eager
    # full-input pre-scan), so the error surfaces at action time
    with pytest.raises(Exception, match="needs line"):
        dissolve_length(feats, key_col="k").collect()
    with pytest.raises(Exception, match="needs point"):
        dissolve_points(_line_feats(spark, [(0, 0, 1, 0, "a")]),
                        key_col="k").collect()


# ---------------------------------------------------------------------------
# centroids
# ---------------------------------------------------------------------------

def test_centroids_by_hand_all_kinds(spark):
    from pandarus_spark.geometry import geom as G
    from pandarus_spark.operators.dissolve import centroids
    shapes = [
        ("box", {"type": "Polygon",
                 "coordinates": [[[0, 0], [2, 0], [2, 4], [0, 4],
                                  [0, 0]]]}, "polygon", (1.0, 2.0)),
        # 4x4 square minus a unit hole at (0.5..1.5)^2:
        # (16*2 - 1*1)/15 in both axes
        ("hole", {"type": "Polygon",
                  "coordinates": [[[0, 0], [4, 0], [4, 4], [0, 4],
                                   [0, 0]],
                                  [[0.5, 0.5], [1.5, 0.5], [1.5, 1.5],
                                   [0.5, 1.5], [0.5, 0.5]]]},
         "polygon", (31 / 15, 31 / 15)),
        # L-shape: two unit-ish rects, area-weighted
        ("L", {"type": "Polygon",
               "coordinates": [[[0, 0], [2, 0], [2, 1], [1, 1], [1, 2],
                                [0, 2], [0, 0]]]}, "polygon",
         (2.5 / 3, 2.5 / 3)),
        ("line", {"type": "LineString",
                  "coordinates": [[0, 0], [2, 0], [2, 2]]}, "line",
         (1.5, 0.5)),
        ("pt", {"type": "MultiPoint",
                "coordinates": [[0, 0], [2, 2]]}, "point", (1.0, 1.0)),
    ]
    rows = [(i, lab, bytearray(G.wkb_dumps(g)), k)
            for i, (lab, g, k, _) in enumerate(shapes)]
    df = spark.createDataFrame(
        rows, "feature_id long, label string, geom_wkb binary, "
              "kind string")
    out = {r.label: (r.cx_mm, r.cy_mm)
           for r in centroids(df, project=False).collect()}
    for lab, _, _, exp in shapes:
        want = (round(exp[0] * 1e6), round(exp[1] * 1e6))
        assert all(abs(a - b) <= 1 for a, b in zip(out[lab], want)), \
            (lab, out[lab], want)


def test_centroids_orientation_invariant(spark):
    # reversed ring orientation must give the same centroid (the
    # region decomposition is orientation-free)
    from pandarus_spark.geometry import geom as G
    from pandarus_spark.operators.dissolve import centroids
    cw = {"type": "Polygon",
          "coordinates": [[[0, 0], [0, 4], [2, 4], [2, 0], [0, 0]]]}
    rows = [(0, "cw", bytearray(G.wkb_dumps(cw)), "polygon")]
    df = spark.createDataFrame(
        rows, "feature_id long, label string, geom_wkb binary, "
              "kind string")
    r = centroids(df, project=False).collect()[0]
    assert (r.cx_mm, r.cy_mm) == (1_000_000, 2_000_000)


# ---------------------------------------------------------------------------
# simplify_lines (Douglas–Peucker)
# ---------------------------------------------------------------------------

def test_simplify_dp_semantics_and_geometry(spark):
    from pandarus_spark.geometry import geom as G
    from pandarus_spark.operators.simplify import (dp_keep_indices,
                                                   simplify_lines)
    # kernel: collinear collapses to endpoints; step keeps its corner
    assert dp_keep_indices([(0, 0), (1, 0), (2, 0), (3, 0)], 0.1) == [0, 3]
    pts = [(float(j), 3.0 if j >= 2 else 0.0) for j in range(4)]
    assert dp_keep_indices(pts, 0.25) == [0, 1, 2, 3]
    # operator: zigzag below eps collapses, above eps survives
    rows = []
    for fid, amp in ((0, 0.05), (1, 2.0)):
        coords = [[float(j), (j % 2) * amp] for j in range(8)]
        g = {"type": "LineString", "coordinates": coords}
        rows.append((fid, f"f{fid}", bytearray(G.wkb_dumps(g)), "line"))
    df = spark.createDataFrame(
        rows, "feature_id long, label string, geom_wkb binary, "
              "kind string")
    out = {r.feature_id: r for r in
           simplify_lines(df, eps=0.25, project=False).collect()}
    assert out[0].n_kept == 2 and out[0].n_points == 8
    assert out[1].n_kept == 8
    # the simplified geometry round-trips and keeps the endpoints
    import numpy as np
    gs = G.wkb_loads(bytes(out[0].geom_wkb))
    assert np.allclose(np.asarray(gs["coordinates"], dtype=float),
                       [[0.0, 0.0], [7.0, 0.05]], atol=0)


def test_simplify_matches_python_reference_random(spark):
    import numpy as np
    from pandarus_spark.geometry import geom as G
    from pandarus_spark.operators.simplify import (dp_keep_indices,
                                                   simplify_lines)
    rng = np.random.default_rng(3)
    rows, refs = [], {}
    for fid in range(20):
        coords = [[float(j), float(v)] for j, v in
                  enumerate(rng.normal(0, 1, 15))]
        refs[fid] = dp_keep_indices([tuple(c) for c in coords], 0.8)
        g = {"type": "LineString", "coordinates": coords}
        rows.append((fid, f"f{fid}", bytearray(G.wkb_dumps(g)), "line"))
    df = spark.createDataFrame(
        rows, "feature_id long, label string, geom_wkb binary, "
              "kind string")
    out = {r.feature_id: r for r in
           simplify_lines(df, eps=0.8, project=False).collect()}
    for fid, keep in refs.items():
        r = out[fid]
        assert (r.n_kept, r.idx_sum, r.idx_sq_sum) == \
            (len(keep), sum(keep), sum(i * i for i in keep))


def test_simplify_guards(spark):
    from pandarus_spark.geometry import geom as G
    from pandarus_spark.operators.simplify import simplify_lines
    g = {"type": "Point", "coordinates": [0, 0]}
    df = spark.createDataFrame(
        [(0, "p", bytearray(G.wkb_dumps(g)), "point")],
        "feature_id long, label string, geom_wkb binary, kind string")
    with pytest.raises(Exception, match="needs line"):
        simplify_lines(df, eps=0.1).collect()
    with pytest.raises(ValueError):
        simplify_lines(df, eps=-1)


# ---------------------------------------------------------------------------
# convex_hull_stats
# ---------------------------------------------------------------------------

def test_hull_kernel_and_operator(spark):
    from pandarus_spark.operators.hull import (convex_hull_stats,
                                               monotone_chain)
    # strict hull: square + center + collinear edge midpoint -> 4
    h = monotone_chain([(0, 0), (2, 0), (2, 2), (0, 2), (1, 1),
                        (1, 0), (0, 0)])
    assert sorted(h) == [(0, 0), (0, 2), (2, 0), (2, 2)]
    rows = [("a", 0, 0), ("a", 4, 0), ("a", 4, 4), ("a", 0, 4),
            ("a", 2, 2), ("a", 2, 0),          # interior + edge-mid
            ("b", 0, 0), ("b", 1, 1),          # 2-point key
            ("c", 5, 5)]                       # 1-point key
    df = spark.createDataFrame(rows, "key string, x long, y long")
    out = {r.key: (r.n_hull, r.hull_2area)
           for r in convex_hull_stats(df).collect()}
    assert out == {"a": (4, 32), "b": (2, 0), "c": (1, 0)}


def test_hull_keeps_the_null_key_group(spark):
    # null keys form one group, as in a Spark groupBy, even when the
    # group's points are spread over several partitions
    from pandarus_spark.operators.hull import convex_hull_stats
    rows = [(None, 0, 0), (None, 6, 0), (None, 0, 6), (None, 1, 1),
            ("a", 0, 0), ("a", 2, 0), ("a", 0, 2)]
    df = spark.createDataFrame(rows, "key string, x long, y long")
    for parts in (1, 3):
        out = {r.key: (r.n_hull, r.hull_2area)
               for r in convex_hull_stats(df.repartition(parts)).collect()}
        assert out == {None: (3, 36), "a": (3, 4)}


def test_hull_two_stage_matches_single_stage(spark):
    # hull(hull(A) U hull(B)) == hull(A U B): repartitioning must not
    # change the result
    import numpy as np
    from pandarus_spark.operators.hull import (convex_hull_stats,
                                               monotone_chain)
    rng = np.random.default_rng(11)
    pts = [("k", int(x), int(y))
           for x, y in rng.integers(-50, 50, size=(400, 2))]
    df1 = spark.createDataFrame(pts, "key string, x long, y long")
    out1 = convex_hull_stats(df1.repartition(1)).collect()[0]
    out16 = convex_hull_stats(df1.repartition(16)).collect()[0]
    assert (out1.n_hull, out1.hull_2area) == (out16.n_hull,
                                              out16.hull_2area)
    hull = monotone_chain([(float(x), float(y)) for _, x, y in pts])
    a2 = 0
    for i in range(len(hull)):
        p, q = hull[i], hull[(i + 1) % len(hull)]
        a2 += p[0] * q[1] - q[0] * p[1]
    assert out1.n_hull == len(hull)
    assert out1.hull_2area == int(abs(a2))


def test_bpe_handles_newline_bearing_tokens(spark):
    # words() splits on ' ' only, so tokens can carry \n — the (?s)
    # DOTALL wrap must cover them or the merge loop silently returns
    # the same unapplicable merge every round (review finding)
    from pandarus_spark.operators.bpe import bpe_merges, bpe_merges_sql
    rows = [(0, "ab\ncd ab\ncd ab\ncd xy xy", "s")]
    out = [(r.step, r.lhs, r.rhs, r.pair_count) for r in
           bpe_merges(_docs(spark, rows), n_merges=3)
           .orderBy("step").collect()]
    # merges must PROGRESS (no repeated no-op rows)
    assert len({(l, r) for _, l, r, _ in out}) == 3
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT 0 AS doc_id, "
                "'ab' || chr(10) || 'cd ab' || chr(10) || 'cd ab' "
                "|| chr(10) || 'cd xy xy' AS text")
    assert out == con.execute(bpe_merges_sql(3)
                              + " ORDER BY step").fetchall()


def test_bpe_quote_and_backslash_symbols(spark):
    # data-derived symbols must not break the Spark SQL literals the
    # merge application embeds them in (review finding)
    from pandarus_spark.operators.bpe import bpe_merges
    rows = [(0, "a'b a'b a\\b a\\b", "s")]
    out = [(r.lhs, r.rhs) for r in
           bpe_merges(_docs(spark, rows), n_merges=2)
           .orderBy("step").collect()]
    assert len(out) == 2                      # no ParseException


# ---------------------------------------------------------------------------
# focal_statistics
# ---------------------------------------------------------------------------

def test_focal_hand_computed_partial_windows(spark):
    from pandarus_spark.operators.raster_stats import focal_statistics
    # 2x2 full grid: every cell sees all 4 cells (partial windows)
    rows = [(0, 0, 1.0), (0, 1, 2.0), (1, 0, 3.0), (1, 1, 4.0)]
    df = spark.createDataFrame(rows, "row long, col long, value double")
    out = {(r.row, r.col): r for r in
           focal_statistics(df, radius=1).collect()}
    for rc in [(0, 0), (0, 1), (1, 0), (1, 1)]:
        assert out[rc].n_nbrs == 4 and out[rc].sum_val == 10.0
        assert (out[rc].min_val, out[rc].max_val) == (1.0, 4.0)
    # radius 2 covers everything too
    out2 = focal_statistics(df, radius=2).collect()
    assert all(r.n_nbrs == 4 for r in out2)


def test_focal_holes_and_duckdb_parity(spark):
    from pandarus_spark.operators.raster_stats import (
        focal_statistics, focal_statistics_sql)
    rows = [(r, c, float((r * 31 + c * 17) % 97))
            for r in range(8) for c in range(10) if (r + c) % 7 != 3]
    df = spark.createDataFrame(rows, "row long, col long, value double")
    out = sorted(tuple(x) for x in
                 focal_statistics(df, radius=1).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE cells AS SELECT * FROM (VALUES " +
                ", ".join(f"({r}, {c}, {v})" for r, c, v in rows) +
                ") t(row, col, value)")
    orows = sorted(tuple(x) for x in
                   con.execute(focal_statistics_sql(1)).fetchall())
    assert out == orows
    # absent cells don't appear as outputs and don't contribute
    keys = {(r, c) for r, c, _ in rows}
    assert {(r[0], r[1]) for r in out} == keys
    with pytest.raises(ValueError):
        focal_statistics(df, radius=0)


def test_horn_gradient_plane_and_parity(spark):
    import numpy as np
    from pandarus_spark.operators.raster_stats import (horn_gradient,
                                                       horn_gradient_sql)
    # plane z = 3*col + 5*row: gx = 8*3, gy = 8*5 at every interior
    rows = [(r, c, float(3 * c + 5 * r))
            for r in range(6) for c in range(7)]
    df = spark.createDataFrame(rows, "row long, col long, value double")
    out = {(x.row, x.col): (x.gx_num, x.gy_num)
           for x in horn_gradient(df).collect()}
    assert all(v == (24, 40) for v in out.values())
    assert len(out) == 4 * 5                 # interior only
    # random integer surface: DuckDB parity + a numpy stencil check
    rng = np.random.default_rng(5)
    Z = rng.integers(0, 50, (8, 9)).astype(float)
    rows2 = [(r, c, float(Z[r, c])) for r in range(8) for c in range(9)]
    df2 = spark.createDataFrame(rows2,
                                "row long, col long, value double")
    out2 = {(x.row, x.col): (x.gx_num, x.gy_num)
            for x in horn_gradient(df2).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE cells AS SELECT * FROM (VALUES " +
                ", ".join(f"({r}, {c}, {v})" for r, c, v in rows2) +
                ") t(row, col, value)")
    o2 = {(r, c): (gx, gy) for r, c, gx, gy in
          con.execute(horn_gradient_sql()).fetchall()}
    assert out2 == o2
    r, c = 3, 4
    a, b, cc = Z[r-1, c-1], Z[r-1, c], Z[r-1, c+1]
    d, f = Z[r, c-1], Z[r, c+1]
    g, h, i = Z[r+1, c-1], Z[r+1, c], Z[r+1, c+1]
    assert out2[(3, 4)] == (int((cc + 2*f + i) - (a + 2*d + g)),
                            int((g + 2*h + i) - (a + 2*b + cc)))


def test_horn_gradient_half_valued_dem_rounds_half_away_in_both_engines(spark):
    """Fractional numerators round half away from zero on both sides:
    a truncating cast gives -3 for -3.5 and a half-to-even cast gives
    2 for 2.5, so the two engines only agree when both round."""
    import numpy as np
    from pandarus_spark.operators.raster_stats import (horn_gradient,
                                                       horn_gradient_sql)
    Z = np.random.default_rng(7).integers(-20, 20, (9, 10)) / 2.0
    rows = [(r, c, float(Z[r, c])) for r in range(9) for c in range(10)]
    df = spark.createDataFrame(rows, "row long, col long, value double")
    got = {(x.row, x.col): (x.gx_num, x.gy_num)
           for x in horn_gradient(df).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE cells AS SELECT * FROM (VALUES " +
                ", ".join(f"({r}, {c}, {v})" for r, c, v in rows) +
                ") t(row, col, value)")
    want = {(r, c): (gx, gy) for r, c, gx, gy in
            con.execute(horn_gradient_sql()).fetchall()}
    assert got == want and len(got) == 7 * 8

    def half_away(x):
        return int(np.sign(x) * np.floor(abs(x) + 0.5))

    raw = []
    for r in range(1, 8):
        for c in range(1, 9):
            a, b, cc = Z[r-1, c-1], Z[r-1, c], Z[r-1, c+1]
            d, f = Z[r, c-1], Z[r, c+1]
            g, h, i = Z[r+1, c-1], Z[r+1, c], Z[r+1, c+1]
            gx = (cc + 2*f + i) - (a + 2*d + g)
            gy = (g + 2*h + i) - (a + 2*b + cc)
            raw += [gx, gy]
            assert got[(r, c)] == (half_away(gx), half_away(gy))
    # the DEM exercises both failure modes: negative and even-floor .5s
    halves = [x for x in raw if x % 1 == 0.5]
    assert any(x < 0 for x in halves)
    assert any(x > 0 and int(x) % 2 == 0 for x in halves)


# ---------------------------------------------------------------------------
# clustering_coefficient + kcore
# ---------------------------------------------------------------------------

def test_clustering_coefficient_hand_and_parity(spark):
    from pandarus_spark.operators.graph import (
        clustering_coefficient, clustering_coefficient_sql)
    # triangle 0-1-2 plus pendant 3 on node 0
    edges = [(0, 1), (1, 2), (2, 0), (0, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: (r.deg, r.n_tri, r.cc_micro)
           for r in clustering_coefficient(df).collect()}
    assert out == {0: (3, 1, 333333), 1: (2, 1, 1_000_000),
                   2: (2, 1, 1_000_000), 3: (1, 0, 0)}
    con = duckdb.connect()
    con.execute("CREATE TABLE edg AS SELECT * FROM (VALUES "
                "(0,1),(1,2),(2,0),(0,3)) t(src, dst)")
    o = {n: (d, t, c) for n, d, t, c in con.execute(
        clustering_coefficient_sql("SELECT src, dst FROM edg"))
        .fetchall()}
    assert o == out


def test_kcore_peeling_and_convergence(spark):
    from pandarus_spark.operators.graph import kcore, kcore_sql
    # triangle (the 2-core) + a 3-node tail that peels over 2 rounds
    edges = [(0, 1), (1, 2), (2, 0), (0, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = sorted(tuple(r) for r in kcore(df, k=2, n_rounds=4).collect())
    assert out == [(0, 2), (1, 2), (2, 2)]
    # converged: one more round changes nothing
    out5 = sorted(tuple(r) for r in
                  kcore(df, k=2, n_rounds=5).collect())
    assert out5 == out
    con = duckdb.connect()
    con.execute("CREATE TABLE edg AS SELECT * FROM (VALUES "
                "(0,1),(1,2),(2,0),(0,3),(3,4),(4,5)) t(src, dst)")
    o = sorted(tuple(r) for r in con.execute(
        kcore_sql("SELECT src, dst FROM edg", k=2,
                  n_rounds=4)).fetchall())
    assert o == out
    # k=3: the triangle is not a 3-core; empty result
    assert kcore(df, k=3, n_rounds=4).count() == 0
    with pytest.raises(ValueError):
        kcore(df, k=0)
    with pytest.raises(ValueError):
        kcore_sql("SELECT 1 AS src, 2 AS dst", n_rounds=0)


def test_map_algebra_ops_and_nodata_join(spark):
    from pandarus_spark.operators.raster_stats import (map_algebra,
                                                       map_algebra_sql)
    ra = [(r, c, float(r * 10 + c)) for r in range(5) for c in range(6)
          if (r + c) % 4 != 1]
    rb = [(r, c, float(r + c * 2)) for r in range(5) for c in range(6)
          if (r * c) % 5 != 2]
    da = spark.createDataFrame(ra, "row long, col long, value double")
    db = spark.createDataFrame(rb, "row long, col long, value double")
    con = duckdb.connect()
    con.execute("CREATE TABLE cells_a AS SELECT * FROM (VALUES " +
                ", ".join(f"({r},{c},{v})" for r, c, v in ra) +
                ") t(row, col, value)")
    con.execute("CREATE TABLE cells_b AS SELECT * FROM (VALUES " +
                ", ".join(f"({r},{c},{v})" for r, c, v in rb) +
                ") t(row, col, value)")
    keys_a = {(r, c) for r, c, _ in ra}
    keys_b = {(r, c) for r, c, _ in rb}
    for op in ("add", "sub", "mul", "min", "max"):
        out = sorted(tuple(x) for x in map_algebra(da, db, op).collect())
        o = sorted(tuple(x) for x in
                   con.execute(map_algebra_sql(op)).fetchall())
        assert out == o, op
        # nodata propagation: output keys == intersection of inputs
        assert {(r, c) for r, c, _ in out} == keys_a & keys_b
    with pytest.raises(ValueError):
        map_algebra(da, db, "div")
    with pytest.raises(ValueError):
        map_algebra_sql("pow")


# ---------------------------------------------------------------------------
# editdist1_pairs
# ---------------------------------------------------------------------------

def test_editdist1_all_edit_kinds_equal_brute_force(spark):
    from pandarus_spark.operators.dedup import (editdist1_pairs,
                                                editdist1_pairs_sql)
    rows = [(0, "spark", "s"), (1, "spark", "s"),   # equal (dist 0)
            (2, "sparks", "s"),                     # insert
            (3, "spak", "s"),                       # delete
            (4, "spork", "s"),                      # substitute
            (5, "sprka", "s"),                      # transposition = 2
            (6, "", "s"), (7, "s", "s"), (8, "x", "s")]
    out = sorted(tuple(r) for r in
                 editdist1_pairs(_docs(spark, rows)).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES " +
                ", ".join(f"({i}, '{t}', 's')" for i, t, _ in rows) +
                ") t(doc_id, text, source)")
    orows = sorted(tuple(r) for r in
                   con.execute(editdist1_pairs_sql()).fetchall())
    assert out == orows
    pairs = {(a, b): d for a, b, d in out}
    assert pairs[(0, 1)] == 0                       # exact dup kept
    assert pairs[(0, 2)] == pairs[(0, 3)] == pairs[(0, 4)] == 1
    assert (0, 5) not in pairs                      # distance 2 excluded
    assert pairs[(6, 7)] == 1                       # '' vs single char


def test_editdist1_random_brute_force_sweep(spark):
    import numpy as np
    from pandarus_spark.operators.dedup import (editdist1_pairs,
                                                editdist1_pairs_sql)
    rng = np.random.default_rng(13)
    alph = "abc"
    rows = [(i, "".join(rng.choice(list(alph),
                                   size=rng.integers(0, 5))), "s")
            for i in range(60)]
    out = sorted(tuple(r) for r in
                 editdist1_pairs(_docs(spark, rows)).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES " +
                ", ".join(f"({i}, '{t}', 's')" for i, t, _ in rows) +
                ") t(doc_id, text, source)")
    orows = sorted(tuple(r) for r in
                   con.execute(editdist1_pairs_sql()).fetchall())
    assert out == orows                    # recall-1 theorem, measured
