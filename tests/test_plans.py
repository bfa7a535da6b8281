"""Physical-plan regression tests: the performance properties PLANS.md
documents, asserted structurally so a code change that silently
reintroduces a shuffle / Python stage / full sort fails CI.

These inspect ``explain('formatted')`` text — stable operator names
(Exchange, MapInPandas, SortMergeJoin, WindowGroupLimit) rather than
exact trees, so they survive cosmetic planner changes.
"""

import io
import contextlib

import pytest
from pyspark.sql import functions as F

import pandarus_spark as ps
from pandarus_spark.sources.pages import extract_features, pages_df


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_overlay_plan_has_no_shuffle_at_fixture_scale(spark):
    """Broadcast-sized feature tables: candidate generation, owner-cell
    dedup-as-predicate, refine, and agg must compile to one pipeline
    with no shuffle exchange and no dropDuplicates aggregation
    (PLANS.md items 1-2)."""
    grid = extract_features(pages_df(spark, "grid"))
    square = extract_features(pages_df(spark, "square"))
    plan = plan_of(ps.intersect(square, grid, ids="fast"))
    assert "hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_intersect_defaults_are_scale_safe(spark):
    """Round-2 regression: the *default* intersect plan must contain no
    single-partition Window (ids='fast' is the default, not the global
    row_number sort) and no forced broadcast of the feature tables —
    Catalyst decides the join-back strategy from sizes."""
    grid = extract_features(pages_df(spark, "grid"))
    square = extract_features(pages_df(spark, "square"))
    plan = plan_of(ps.intersect(square, grid))
    # ids="fast": no window at all, hence no Exchange SinglePartition
    assert "Window" not in plan
    assert "SinglePartition" not in plan
    # at fixture scale Catalyst may legitimately auto-broadcast; assert
    # the *explicit* sorted path is the one that adds the global sort
    sorted_plan = plan_of(ps.intersect(square, grid, ids="sorted"))
    assert "Window" in sorted_plan


def test_intersect_no_forced_broadcast_above_threshold(spark):
    """With auto-broadcast disabled, default intersect must not
    force-broadcast the feature tables (round-1 defect: None resolved
    to True → guaranteed OOM at scale); broadcast_features=True still
    forces it."""
    grid = extract_features(pages_df(spark, "grid"))
    square = extract_features(pages_df(spark, "square"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(ps.intersect(square, grid))
        assert "BroadcastHashJoin" not in plan
        forced = plan_of(ps.intersect(square, grid, broadcast_features=True))
        assert "BroadcastHashJoin" in forced
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ivf_plan_is_pure_jvm_with_mapside_topk(spark):
    """IVF ANN: no Python stage anywhere (centroid math is Catalyst
    literals), and Spark 4's rank-filter pushdown must apply map-side
    top-k (WindowGroupLimit) before the window exchange."""
    from pandarus_spark.operators import similarity as S
    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0]) for i in range(40)],
        "vec_id long, embedding array<float>")
    q = emb.limit(2).select(F.col("vec_id").alias("query_id"),
                            F.col("embedding").alias("qvec"))
    plan = plan_of(S.ivf_topk(emb, q, k=3, n_centroids=4, nprobe=2))
    assert "MapInPandas" not in plan and "ArrowEval" not in plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_big_codebook_plan_stays_bounded(spark):
    """1024 centroids: the broadcast-codebook path must keep the plan
    O(1) in codebook size (round-1 defect: per-centroid literals)."""
    import numpy as np

    from pandarus_spark.operators import similarity as S
    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0]) for i in range(40)],
        "vec_id long, embedding array<float>")
    q = emb.limit(2).select(F.col("vec_id").alias("query_id"),
                            F.col("embedding").alias("qvec"))
    cents = np.random.default_rng(1).standard_normal((1024, 3))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    plan = plan_of(S.ivf_topk(emb, q, k=3, nprobe=4, centroids=cents))
    small = plan_of(S.ivf_topk(emb, q, k=3, nprobe=4, centroids=cents[:4]))
    # bounded: the 1024-centroid plan text is not meaningfully larger
    # than the 4-centroid literal plan (vs ~256x with literals)
    assert len(plan) < 3 * len(small)
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan


def test_lsh_big_dim_plan_stays_bounded(spark, monkeypatch):
    """dim 1024 with 8x8 tables/planes: the broadcast-planes path must
    keep the plan O(1) in n_tables*n_planes*dim (round-2 verdict #1:
    per-coefficient literals put ~65k constants in one projection)."""
    import numpy as np

    from pandarus_spark.operators import similarity as S
    rng = np.random.default_rng(41)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(1024)]) for i in range(8)],
        "vec_id long, embedding array<float>")
    e = emb.select(F.col("vec_id").alias("id"),
                   F.col("embedding").cast("array<double>").alias("v"))
    big = plan_of(S._lsh_hashed(e, 1024, 8, 8, seed=7))
    with monkeypatch.context() as m:
        m.setattr(S, "_SRP_LITERAL_MAX", 0)
        small = plan_of(S._lsh_hashed(e, 1024, 2, 2, seed=7))
    # bounded: the 8x8 signature plan text is not meaningfully larger
    # than the 2x2 plan (vs ~16x with literals), and it runs through
    # Arrow; the downstream candidate join sees only the checkpointed
    # (id, t, bucket) table either way
    assert len(big) < 3 * len(small)
    assert "ArrowEvalPython" in big or "PythonUDF" in big
    q = emb.limit(1).select(F.col("vec_id").alias("query_id"),
                            F.col("embedding").alias("qvec"))
    topk = plan_of(S.ann_lsh_topk(emb, q, k=2, n_tables=1, n_planes=8,
                                  dim=1024))
    with monkeypatch.context() as m:
        m.setattr(S, "_SRP_LITERAL_MAX", 0)
        topk_small = plan_of(S.ann_lsh_topk(emb, q, k=2, n_tables=1,
                                            n_planes=2, dim=1024))
    assert "ArrowEvalPython" in topk or "PythonUDF" in topk
    # O(1) in plane count: 8-plane plan ~= 2-plane plan (vs 4x literals)
    assert len(topk) < 1.5 * len(topk_small)


def test_knn_rect_path_has_no_python_stage(spark):
    """All-rect features: distances must stay in whole-stage codegen —
    the Arrow kernel branch must be empty (knn rect fast path)."""
    from pandarus_spark.operators.knn import _rect_distance_expr, _split_distances
    grid = extract_features(pages_df(spark, "grid"))
    q = spark.createDataFrame([(1, 0.3, 0.4)], "query_id long, qx double, qy double")
    cand = (q.crossJoin(grid.select("feature_id", "geom_wkb", "is_rect",
                                    "minx", "miny", "maxx", "maxy")))
    rect_only = cand.filter(F.col("is_rect")) \
        .select("query_id", "feature_id", _rect_distance_expr().alias("dist"))
    # the ingest itself is one Arrow pass; the distance computation must
    # add NO Python stage on top of it
    assert plan_of(rect_only).count("MapInPandas") == plan_of(cand).count("MapInPandas")
    # the split path routes every rect row through the JVM branch
    out = _split_distances(cand)
    assert out.filter(F.col("dist").isNotNull()).count() == 4


def test_scan_pruning_on_documents(spark):
    """Column pruning + predicate pushdown must reach the parquet scan
    (a 2-column projection that reads all columns is wrong)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = docs.filter(F.col("doc_id") < 100).select("doc_id", "text")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "url" not in read_schema and "lang" not in read_schema


def test_pricing_summary_partial_agg(spark):
    """Grouped agg must run partial (map-side) aggregation before its
    single exchange."""
    import __spark_entry__ as E
    df = E.queries()["pricing_summary"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert plan.count("- Exchange") == 1
    assert plan.count("- HashAggregate") >= 2  # partial + final


def test_top_tokens_plan_is_partial_topk(spark):
    """The global top-k over the vocabulary must compile to
    TakeOrderedAndProject(limit=k) BELOW the rank window (Catalyst's
    rank-filter rewrite): each partition forwards only its local
    top-k, so the final ordering touches O(k * partitions) rows, not
    the vocabulary."""
    from pandarus_spark.operators.textstats import top_tokens

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = top_tokens(docs, k=50)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject(limit=50" in plan, plan
    # and no full-vocabulary single-partition sort feeding the window
    assert "Exchange SinglePartition" not in plan, plan


def test_bucketed_cover_join_no_shuffle(spark, tmp_path):
    """Covers persisted bucketed-by-cell must equi-join on cell with
    ZERO Exchange on the bucketed sides (the reference-basemap
    pattern: the per-run candidate shuffle disappears), while the same
    join on plain parquet shuffles both sides."""
    import pandarus_spark as ps
    from pandarus_spark.sources.bucketed import read_bucketed, write_bucketed_covers
    from pandarus_spark.sources.pages import extract_features, pages_df

    grid = extract_features(pages_df(spark, "grid"))
    square = extract_features(pages_df(spark, "square"))
    ca = ps.cover_features(grid, res=8, max_cells=64).select("feature_id", "cell")
    cb = ps.cover_features(square, res=8, max_cells=64).select(
        F.col("feature_id").alias("fb"), "cell")

    spark.sql("DROP TABLE IF EXISTS cov_a")
    spark.sql("DROP TABLE IF EXISTS cov_b")
    write_bucketed_covers(ca, "cov_a", n_buckets=8)
    write_bucketed_covers(cb.withColumnRenamed("fb", "feature_id"), "cov_b",
                          n_buckets=8)
    try:
        with_buckets = (read_bucketed(spark, "cov_a")
                        .join(read_bucketed(spark, "cov_b"), "cell"))
        plain_a, plain_b = str(tmp_path / "a"), str(tmp_path / "b")
        ca.write.parquet(plain_a)
        cb.withColumnRenamed("fb", "feature_id").write.parquet(plain_b)
        plain = spark.read.parquet(plain_a).join(spark.read.parquet(plain_b), "cell")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bucketed_plan = with_buckets._jdf.queryExecution().executedPlan().toString()
            plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "Exchange" not in bucketed_plan, bucketed_plan
        assert plain_plan.count("Exchange hashpartitioning") == 2, plain_plan
        # identical join results through both paths
        assert sorted(map(tuple, with_buckets.collect())) == \
               sorted(map(tuple, plain.collect()))
    finally:
        spark.sql("DROP TABLE IF EXISTS cov_a")
        spark.sql("DROP TABLE IF EXISTS cov_b")


def test_distance_join_plan_single_equijoin(spark):
    """distance_join must compile to ONE hash equi-join on the cell key
    with the haversine residual inside the join condition — never a
    nested-loop/cartesian theta join, never a Python stage, and no
    post-join dedup aggregation (COVERAGE.md distance-join row)."""
    from pandarus_spark.operators.distance import distance_join

    pts = spark.range(500).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 7919 % 3600) / 10.0 - 180.0).alias("lon"),
        ((F.col("id") * 104729 % 1600) / 10.0 - 80.0).alias("lat"))
    df = distance_join(pts.withColumnRenamed("pid", "a"),
                       pts.withColumnRenamed("pid", "b"), 300_000.0)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Join") >= 1
    # residual filter fused into the join, not a separate post-join stage
    assert "Join condition: ((ASIN" in plan or "Join condition: (ASIN" in plan

    # above the broadcast threshold the same plan degrades to a shuffled
    # equi-join on the cell key — still no nested loop
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan2 = plan_of(distance_join(pts.withColumnRenamed("pid", "a"),
                                      pts.withColumnRenamed("pid", "b"),
                                      300_000.0))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastNestedLoopJoin" not in plan2
    assert "CartesianProduct" not in plan2
    assert ("SortMergeJoin" in plan2) or ("ShuffledHashJoin" in plan2)


def test_knn_ring_pass_has_one_python_node(spark):
    """A kNN ring pass builds its k-ring in Catalyst: the one Python
    node left is the exact-distance ``mapInPandas`` (a cell UDF would
    add an ArrowEvalPython per pass)."""
    import re

    from pandarus_spark.geometry import geom as G
    from pandarus_spark.operators.intersect import cover_features
    from pandarus_spark.operators.knn import _feature_geoms, _ring_pass

    ring = [[0.0, 0.0], [1.0, 0.2], [0.8, 1.0], [0.0, 0.0]]
    wkb = G.wkb_dumps({"type": "Polygon", "coordinates": [ring]})
    feats = spark.createDataFrame(
        [(1, "a", wkb, "polygon", 0.0, 0.0, 1.0, 1.0, False)],
        "feature_id long, label string, geom_wkb binary, kind string, "
        "minx double, miny double, maxx double, maxy double, is_rect boolean")
    q = spark.createDataFrame([(1, 0.5, 0.5)], "query_id long, qx double, qy double")
    dists = _ring_pass(q, cover_features(feats, 6, max_cells=256), _feature_geoms(feats), 6, 2)
    plan = dists._jdf.queryExecution().executedPlan().toString()
    python_nodes = re.findall(r"\b(MapInPandas|\w*EvalPython\w*|\w*InArrow\w*)\b", plan)
    assert python_nodes == ["MapInPandas"]
    assert sorted(map(tuple, dists.collect())) == [(1, 1, 0.0)]


def test_tile_rollup_plan_partial_agg_one_shuffle(spark):
    """Multi-level rollup: map-side partial aggregation collapses the
    exploded (row × levels) stream before ONE hash-partition exchange;
    zero joins, zero Python (rollup.py docstring)."""
    from pandarus_spark.operators.rollup import tile_rollup_levels
    from pandarus_spark.tiling.cells import cell_id

    cells = spark.createDataFrame(
        [(cell_id(8, i % 256, (i * 7) % 256),) for i in range(400)], "cell long")
    plan = plan_of(tile_rollup_levels(cells, [2, 4, 6]))
    assert "partial_count" in plan
    assert plan.count("hashpartitioning") == 1
    assert "Join" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_line_dedup_plan_two_shuffles_no_join(spark):
    """line_dedup's 100 TB shape: occurrence count and rank share one
    window shuffle on the line hash, one groupBy shuffle rebuilds the
    documents — exactly two exchanges, NO join anywhere (dedup.py
    line_dedup docstring)."""
    from pandarus_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame([(i, "a\nb\nc") for i in range(50)],
                                 "doc_id long, text string")
    plan = plan_of(line_dedup(docs))
    assert plan.count("hashpartitioning") == 2
    assert "Join" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Window") >= 1


def test_decontam_plan_broadcast_bench_partial_agg(spark):
    """Contamination join: the (small) benchmark shingle set must
    broadcast — the corpus side is never shuffled on content, and the
    per-doc hit count partial-aggregates map-side before the single
    doc-keyed exchange (decontam.py docstring)."""
    from pandarus_spark.operators.decontam import contamination_stats

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), (F.col("id") % 17).cast("string"),
                 F.lit(" x y z w"), (F.col("id") % 5).cast("string")).alias("text"))
    bench = docs.filter(F.col("doc_id") % 37 == 0) \
                .select(F.col("doc_id").alias("bid"), "text")
    plan = plan_of(contamination_stats(docs, bench, k=3))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_unigram_logprob_plan_jvm_partial_agg(spark):
    """Unigram LM scoring stays fully JVM-side with partial aggregation
    at every groupBy (textstats.py unigram_logprob docstring)."""
    from pandarus_spark.operators.textstats import unigram_logprob

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), (F.col("id") % 13).cast("string"),
                 F.lit(" common tail"),
                 (F.col("id") % 3).cast("string")).alias("text"))
    plan = plan_of(unigram_logprob(docs))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan  # the scalar total broadcasts


def test_shingle_id_rows_plan_no_exchange(spark):
    """The rolling-hash shingle pipeline is a pure Project->Generate
    chain: zero Exchanges, zero Python (PLANS.md round-4 audit).  The
    projection stack also guards the round-4 regression: as one nested
    Column the md5 transform re-inlines into every slice reference
    (~2k md5 passes/row, measured 12x slower)."""
    from pandarus_spark.operators.dedup import shingle_id_rows
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), (F.col("id") % 7).cast("string"),
                 F.lit(" a b c d e f g h i")).alias("text"))
    plan = plan_of(shingle_id_rows(docs, k=8))
    assert "Exchange" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    # the hash-lane arrays must be attributes of a lower project, not
    # re-inlined md5 chains: the fold projection references _h1/_h2.
    # Also guards the InferFiltersFromGenerate regression (explode over
    # an intermediate _ids projection pushes a size()>0 filter through
    # it, inlining 32 md5 evaluations per row into the predicate).
    assert plan.count("md5") <= 4, "hash lanes re-inlined into the fold"

    from pandarus_spark.operators.dedup import shingle_id_arrays
    aplan = plan_of(shingle_id_arrays(docs, k=8, keep=["doc_id"]))
    assert "Exchange" not in aplan
    assert aplan.count("md5") <= 4, "array form re-inlined the lanes"


def test_session_rows_plan_single_exchange(spark):
    """Window + groupBy share the user hash partitioning: exactly one
    Exchange, no Join (PLANS.md round-4 audit)."""
    from pandarus_spark.operators.windows import session_rows
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("user_id", "ts")
    df = session_rows(ev)
    df.count()  # finalize AQE
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_dup_span_plan_two_shuffles_no_python(spark):
    """Skew-proof shape: partial-aggregated groupBy(shingle) for the
    singleton set (map-side combine collapses hot boilerplate shingles
    before the shuffle — no window, which would ship every occurrence
    of a hot shingle to one task) + union with the map-only per-doc
    totals into ONE doc rollup.  Exactly two Exchanges, no Join, hash
    lanes not re-inlined (round-4b audit)."""
    from pandarus_spark.operators.dedup import dup_span_stats
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), (F.col("id") % 7).cast("string"),
                 F.lit(" a b c d e f g h i")).alias("text"))
    plan = plan_of(dup_span_stats(docs, k=5))
    assert plan.count("- Exchange") == 2, plan
    assert "Join" not in plan, plan
    assert "InPandas" not in plan and "Python" not in plan
    assert plan.count("md5") <= 4, "hash lanes re-inlined"


def test_quantize_int8_plan_map_only(spark):
    """int8 quantization is row-local Catalyst: zero Exchanges, zero
    Python, and the staged _v/_s/_q projections keep the code vector
    an attribute instead of re-inlining the transform per consumer."""
    from pandarus_spark.operators.similarity import quantize_int8
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = plan_of(quantize_int8(emb))
    assert "Exchange" not in plan, plan
    assert "InPandas" not in plan and "Python" not in plan


def test_dup_span_intervals_plan_shape(spark):
    """Maximal-span merge stays on remove_dup_spans' scale shape: the
    checkpointed positional ids feed ONE shuffle Exchange (the
    partial-aggregated groupBy(shingle) duplicate decision — map-side
    combine collapses hot boilerplate shingles); the dup join-back and
    the word-count clamp join broadcast at fixture scale; the
    neighbour-merge itself is row-local HOFs — no Python anywhere, no
    extra shuffle for the merge (r4 verdict #6's 'one extra
    partition-local pass' requirement, verified in the physical
    plan)."""
    from pandarus_spark.operators.dedup import dup_span_intervals
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), (F.col("id") % 7).cast("string"),
                 F.lit(" a b c d e f g h i")).alias("text"))
    plan = plan_of(dup_span_intervals(docs, k=5))
    # "- Exchange" (shuffle) vs "- BroadcastExchange": exactly one
    # data shuffle; doc-keyed agg + joins coalesce/broadcast here
    assert plan.count("- Exchange") == 1, plan
    assert "InPandas" not in plan and "Python" not in plan


def test_hll_by_plan_two_exchanges_no_join(spark):
    """Grouped HLL: (grp,bucket) partial max + grp agg — and NO grid
    join (empty buckets are algebra, late-r5 PLANS.md)."""
    from pandarus_spark.operators import sketch as K
    docs = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("g"))
    plan = K.hll_estimate_by(docs, "k", "g", p=8)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan


def test_cms_plan_one_exchange_broadcast_grid(spark):
    """CMS build: partial agg collapses to <= d*w cells before the ONE
    shuffle; the zero-fill grid join must broadcast."""
    from pandarus_spark.operators import sketch as K
    docs = spark.range(500).select(F.col("id").alias("k"))
    plan = K.cms_counters(docs, "k", d=4, w=64)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan


def test_bottomk_plan_mapside_group_limit(spark):
    """Bottom-k: WindowGroupLimit must run below the Exchange (map-side
    per-salt top-k) and stage 2 must compile to TakeOrderedAndProject —
    never a global sort of the input."""
    from pandarus_spark.operators.curation import bottomk_sample
    docs = spark.range(5000).withColumnRenamed("id", "doc_id")
    plan = bottomk_sample(docs, k=10, n_salts=8)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") == 2          # partial + final
    assert "TakeOrderedAndProject" in plan
    pre, post = plan.split("Exchange hashpartitioning", 1)
    assert "WindowGroupLimit" in post                   # one below the shuffle


def test_hist_quantiles_plan_histogram_before_window(spark):
    """Exact quantiles: the ONLY full-data Exchange is the (grp, v)
    histogram partial agg (map-side combine — 'partial_count' below
    the shuffle); the cumulative window re-shuffles the bounded
    histogram only.  No Python anywhere."""
    from pandarus_spark.operators.curation import hist_quantiles
    docs = spark.range(5000).select((F.col("id") % 3).cast("string")
                                    .alias("g"), (F.col("id") % 97).alias("v"))
    plan = hist_quantiles(docs, "v", group_col="g")._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial_count" in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_cluster_keepers_plan_aggregates_not_window(spark):
    """Keeper selection must be the skew-proof argmax AGGREGATION
    (partial max collapses mega-clusters map-side), never a
    row_number window sort over the cluster partition."""
    from pandarus_spark.operators.dedup import cluster_keepers
    members = spark.range(5000).select(F.col("id").alias("doc_id"),
                                       (F.col("id") % 7).alias("cluster_id"))
    scores = spark.range(5000).select(F.col("id").alias("doc_id"),
                                      (F.col("id") % 11).alias("score"))
    plan = cluster_keepers(members, scores)._jdf \
        .queryExecution().executedPlan().toString()
    assert "partial_max" in plan
    assert "Window" not in plan, plan


def test_extract_links_plan_zero_shuffle(spark):
    """Outlink extraction is a narrow map: no Exchange, no Python."""
    from pandarus_spark.operators.curation import extract_links
    pages = spark.range(100).select(
        F.col("id").cast("string").alias("url"),
        F.encode(F.lit('<a href="x">y</a>'), "utf-8").alias("html"))
    plan = extract_links(pages)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_bm25_plan_filtered_candidates_topk_no_sort(spark):
    """BM25: the query-term filter must run BEFORE the first Exchange
    (only candidate (doc, term) rows shuffle — corpus rows without a
    query term exit at the scan), the |terms|-row idf table and the
    one-row stats must broadcast, and the final top-k must be
    TakeOrderedAndProject, never a global Sort.  No Python anywhere."""
    from pandarus_spark.operators.textstats import bm25_topk
    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("spark join pad"),
                 (F.col("id") % 5).cast("string")).alias("text"))
    plan = bm25_topk(docs, ("spark", "join"), k=10)._jdf \
        .queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    # the explode is over filter(__w, ...) — pre-shuffle candidate cut
    assert "array_filter" in plan or "filter(" in plan, plan


def test_triangles_plan_equi_joins_only(spark):
    """Triangle counting: every join must be an equi-join (hash or
    broadcast) — no CartesianProduct / BroadcastNestedLoopJoin
    anywhere — and the closure probe must be a join keyed on the
    (p, q) edge pair, not an all-pairs check.  No Python anywhere."""
    from pandarus_spark.operators.graph import triangles
    e = spark.range(2000).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 1) % 500).alias("dst"))
    plan = triangles(e)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_winnow_plan_one_exchange_no_inlined_fold(spark):
    """Winnowing: exactly ONE full-data Exchange (the doc-keyed window
    shuffle) — the collect_set dedupe must REUSE the window's
    partitioning — and the checkpoint must keep the md5 rolling-hash
    fold out of any synthesized Filter (the InferFiltersFromGenerate
    trap shingle_id_rows documents).  No Python anywhere."""
    from pandarus_spark.operators.dedup import winnow_fingerprints
    rows = [(i, "w x y z a b c d e f%d" % (i % 7)) for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plan = winnow_fingerprints(docs, k=3, w=4)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for line in plan.splitlines():
        if "Filter" in line:
            assert "md5" not in line and "zip_with" not in line, line
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_winnow_overlap_plan_checkpointed_fp_table(spark):
    """Overlap pairs: the (doc, fp) table must be checkpointed before
    the self-join — the md5 winnowing pipeline runs ONCE, never once
    per join side — leaving only id-keyed exchanges (fp x2 for the
    self-join, pair partial agg) in the final plan."""
    from pandarus_spark.operators.dedup import winnow_overlap_pairs
    rows = [(i, "w x y z a b c d e f%d" % (i % 7)) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plan = winnow_overlap_pairs(docs, k=3, w=4)._jdf \
        .queryExecution().executedPlan().toString()
    assert "md5" not in plan, "winnow pipeline re-inlined into the join"
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_anchor_terms_plan_mapside_group_limit(spark):
    """Anchor profiles: the (dst, token) partial agg must combine
    map-side before its Exchange, and the rank<=k cut must compile to
    WindowGroupLimit below the window exchange (the bottomk_sample
    shape) — never a full per-destination sort of the anchor stream."""
    from pandarus_spark.operators.curation import anchor_terms
    rows = [("s%d" % i, "d%d" % (i % 9), "click here now %d" % (i % 5))
            for i in range(2000)]
    e = spark.createDataFrame(
        rows, "src_url string, dst_url string, anchor string")
    plan = anchor_terms(e, k=3)._jdf \
        .queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert "partial_count" in plan, plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_trigram_backoff_plan_no_window_no_text_shuffle(spark):
    """Trigram stupid backoff: positions come from an array transform,
    not a lag window; all count tables are vocab-level regroups of the
    checkpointed occ table; raw text never enters an Exchange; no
    Python anywhere (ln is the detmath Catalyst expression)."""
    from pandarus_spark.operators.textstats import trigram_backoff_logprob
    rows = [(i, "w x y z a b c d e f%d" % (i % 7)) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plan = trigram_backoff_logprob(docs)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    assert not [l for l in plan.splitlines()
                if "Exchange" in l and "text#" in l], "text shuffled"


def test_ppjoin_plan_no_cartesian_no_reinlined_shingles(spark):
    """PPJoin: the prefix self-join must be an equi-join on the
    shingle (never a cartesian fallback), the checkpointed shingle
    table must keep the zip_with fold out of the join plan, and raw
    text never enters an Exchange."""
    from pandarus_spark.operators.dedup import ppjoin_pairs
    rows = [(i, "w x y z a b c d e f%d" % (i % 7)) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plan = ppjoin_pairs(docs)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "zip_with" not in plan, "shingle fold re-inlined"
    assert not [l for l in plan.splitlines()
                if "Exchange" in l and "text#" in l], "text shuffled"
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_label_prop_plan_constant_in_iterations(spark):
    """LPA: the per-round localCheckpoint must truncate lineage so the
    final plan is O(1) in the iteration count (the pagerank hygiene) —
    identical Exchange counts at 2 and 6 rounds."""
    from pandarus_spark.operators.graph import label_propagation
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 0)],
                              "src long, dst long")
    p2 = label_propagation(e, n_iters=2)._jdf \
        .queryExecution().executedPlan().toString()
    p6 = label_propagation(e, n_iters=6)._jdf \
        .queryExecution().executedPlan().toString()
    assert (p2.count("Exchange hashpartitioning")
            == p6.count("Exchange hashpartitioning"))
    assert abs(len(p6) - len(p2)) < max(len(p2), 200), \
        "plan grows with iteration count"


def test_zorder_plan_staged_quantization_range_partition(spark):
    """Z-order layout: the staged projection must survive optimization
    — the floor quantization compiles ONCE per lane (2 total), not
    once per interleave term (64 at bits=16) — and the layout shuffle
    is RANGE partitioning on the key."""
    from pandarus_spark.operators.layout import zorder_layout
    pts = spark.createDataFrame(
        [(i, float(i % 360) - 180.0, float(i % 180) - 90.0)
         for i in range(100)], "doc_id long, lon double, lat double")
    plan = zorder_layout(pts, n_files=4)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("FLOOR(") + plan.count("floor(") == 2, \
        "quantization re-inlined into the interleave terms"
    assert "rangepartitioning" in plan.lower()


def test_dissolve_plan_two_exchanges_no_wkb_shuffle(spark):
    """Dissolve: exactly two Exchanges — the (key, bucket) trapezoid
    shuffle and the per-key area agg — with the union stage as grouped
    Arrow; geometry WKB is consumed map-side and never shuffles."""
    from pandarus_spark.geometry import geom as G
    from pandarus_spark.operators.dissolve import dissolve_measure
    g = {"type": "Polygon",
         "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]}
    rows = [(i, "f%d" % i, bytearray(G.wkb_dumps(g)), "polygon",
             "k%d" % (i % 3)) for i in range(20)]
    feats = spark.createDataFrame(
        rows, "feature_id long, label string, geom_wkb binary, "
              "kind string, k string")
    plan = dissolve_measure(feats, key_col="k",
                            project=False)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "FlatMapGroupsInPandas" in plan
    assert not [l for l in plan.splitlines()
                if "Exchange" in l and "geom_wkb" in l], "WKB shuffled"


def test_bpe_tokenize_plan_zero_shuffle(spark):
    """BPE tokenization: the learned merges apply as chained replace
    calls in one narrow map — zero Exchanges, no Python."""
    from pandarus_spark.operators.bpe import bpe_tokenize
    docs = spark.createDataFrame([(0, "banana band")],
                                 "doc_id long, text string")
    plan = bpe_tokenize(docs, [("a", "n"), ("b", "an")])._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_focal_plan_scatter_gather_mapside_combine(spark):
    """Focal stats: offset scatter + ONE partial agg (map-side
    combine pinned) + the existing-cell semi-join; no window, no
    self-join of the full cell table, no Python."""
    from pandarus_spark.operators.raster_stats import focal_statistics
    cells = spark.range(200).select(
        (F.col("id") % 20).alias("row"), (F.col("id") / 20)
        .cast("long").alias("col"), F.col("id").cast("double")
        .alias("value"))
    plan = focal_statistics(cells, radius=1)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "partial_count" in plan
    assert "Window" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
