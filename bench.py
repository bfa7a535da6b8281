"""Benchmark harness for pandarus_spark (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` (default 32)
and prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"overlay_intersect": sec, ...}, "sf": 0.1, ...}

The headline metric follows BASELINE.json: intersection rows + tile
(cell) assignments per second, measured on the overlay-join pipeline
(documents parquet -> synthetic pages -> extract -> cell join ->
refine -> measure) plus the tiling pass.

Modes
-----
``python bench.py``                   — full headline suite at sf dir.
``python bench.py --job overlay_scale --n 250000``
    — the single scale job used for the N-vs-4N parallelism sweep
      (tools/scaling_bench.py): synthetic documents of size n**,
      same job at two ``SPARK_GRAFT_CPUS`` values on identical input.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from pandarus_spark.session import build_session  # noqa: E402


def _force(df) -> int:
    """Fully materialize a DataFrame without collecting to the driver.

    ``noop`` write computes every column (no pruning shortcut the way a
    bare count could take for narrow plans); returns -1 (unknown rows).
    """
    df.write.format("noop").mode("overwrite").save()
    return -1


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


# ---------------------------------------------------------------------------
# headline jobs
# ---------------------------------------------------------------------------

def overlay_features(spark, sf_dir: str):
    from pandarus_spark.sources.pages import extract_features, pages_from_documents
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = extract_features(pages_from_documents(docs, "base"), validate_unique=False)
    probe = extract_features(pages_from_documents(docs, "probe"), validate_unique=False)
    return base, probe


def job_overlay_intersect(spark, sf_dir: str):
    import pandarus_spark as ps
    base, probe = overlay_features(spark, sf_dir)
    return ps.intersect(probe, base, broadcast_features=False)


def job_tile_assignments(spark, sf_dir: str):
    import pandarus_spark as ps
    base, _ = overlay_features(spark, sf_dir)
    return ps.cover_features(base, res=8, max_cells=64)


def job_exact_dedup(spark, sf_dir: str):
    from pandarus_spark.operators import dedup as D
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.exact_dedup(docs)


def job_minhash_lsh(spark, sf_dir: str):
    from pandarus_spark.operators import dedup as D
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.minhash_lsh_pairs(docs, num_hashes=16, bands=8, threshold=0.2)


def job_simhash(spark, sf_dir: str):
    from pandarus_spark.operators import dedup as D
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.simhash(docs)


def job_text_stats(spark, sf_dir: str):
    from pandarus_spark.operators import textstats as T
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return T.text_stats(docs)


def job_cosine_topk(spark, sf_dir: str):
    from pandarus_spark.operators import similarity as S
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    return S.cosine_topk(emb, q, k=10)


def job_round_raster(spark, sf_dir: str):
    from pandarus_spark.operators.raster_transform import round_raster
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .select("l_orderkey", "l_linenumber", F.col("l_extendedprice").alias("value"))
    return round_raster(li, sig_digits=3)


def job_knn(spark, sf_dir: str):
    import pandarus_spark as ps
    from pandarus_spark.sources.pages import CELL_DEG, GRID_COLS, GRID_X0, GRID_Y0
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base, _ = overlay_features(spark, sf_dir)
    q = docs.select(
        F.col("doc_id").alias("query_id"),
        (F.lit(GRID_X0) + (F.col("doc_id") % GRID_COLS + 0.75) * CELL_DEG).alias("qx"),
        (F.lit(GRID_Y0) + (F.floor(F.col("doc_id") / GRID_COLS) + 0.75) * CELL_DEG).alias("qy"))
    # res 12 ≈ 0.09° cells vs 0.05° features: ~couple dozen candidates
    # per query from the ring join instead of a near-cross-join
    return ps.knn_nearest_feature(q, base, k=3, res=12, ring=1)


def _cpu_steal():
    """(total_jiffies, steal_jiffies) from /proc/stat — objective
    evidence of host-neighbor CPU steal during the timed section
    (this shared VM's noise source; see BASELINE.md protocol)."""
    try:
        vals = list(map(int, open("/proc/stat").readline().split()[1:]))
        # fields 0-7 only: guest/guest_nice (8-9) are already counted
        # inside user/nice, so including them would understate steal
        return sum(vals[:8]), vals[7]
    except Exception:
        return None


def _burn_worker(deadline: float) -> int:
    x = 1
    while time.monotonic() < deadline:
        x = (x * 1103515245 + 12345) % (1 << 62)
    return x


def _burn_steal_calibration(n_procs: int, seconds: float = 1.5):
    """Steal% while THIS process saturates ``n_procs`` CPUs with pure
    Python arithmetic — distinguishes ambient co-tenant noise (steal
    present at idle) from LOAD-INDUCED throttling (steal appears only
    under one's own wide load; this session's host shows 4-6% under a
    16-32-wide burn at 0% idle steal — a CPU quota, not a neighbor).
    A bench whose host_steal_pct ≈ this calibration is seeing the
    machine, not the code."""
    import multiprocessing as mp

    st0 = _cpu_steal()
    deadline = time.monotonic() + seconds
    try:
        # fork + Process: the target is inherited, never pickled (a
        # Pool would pickle _burn_worker by qualified name, which
        # breaks when bench.py is importlib-loaded under another name)
        ctx = mp.get_context("fork")
        procs = [ctx.Process(target=_burn_worker, args=(deadline,))
                 for _ in range(n_procs)]
        for p in procs:
            p.start()
        for p in procs:
            p.join()
    except Exception:
        return None
    st1 = _cpu_steal()
    if not (st0 and st1 and st1[0] > st0[0]):
        return None
    return round(100.0 * (st1[1] - st0[1]) / (st1[0] - st0[0]), 2)


def _warmup(spark) -> None:
    """Steady-state warmup (untimed): spin up the Python worker pool,
    JIT the md5/conv/higher-order-function codegen paths, and trigger
    one Arrow exchange, so the timed queries measure throughput rather
    than first-call compile cost (cold-vs-warm is 3-5x on this VM)."""
    df = spark.range(0, 200_000, 1, 32).select(
        F.col("id"),
        F.conv(F.substring(F.md5(F.encode(F.col("id").cast("string"), "utf-8")), 1, 15),
               16, 10).cast("long").alias("h"))
    df.groupBy(F.col("h") % 97).count().write.format("noop").mode("overwrite").save()

    def gen(batches):
        for pdf in batches:
            yield pdf
    spark.range(0, 10_000, 1, 32).mapInPandas(gen, schema="id long") \
        .write.format("noop").mode("overwrite").save()


def _warmup_queries(spark, sf_dir: str) -> None:
    """Per-query JIT warmup (untimed): the wide Catalyst expression
    trees (16 minhash permutations over shingle transforms, 32 simhash
    bit-votes, the text-stats aggregate battery) each generate their
    own codegen classes, and C2 needs 1-2 invocations before they run
    at steady state — measured 15-26 s on the first two minhash_lsh
    calls vs 6.5-7 s settled, which is exactly the min-of-2 window the
    timed loop reports.  Tiny inputs hit the same codegen cache entries
    at negligible cost."""
    from pandarus_spark.operators import dedup as D, textstats as T
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300) \
        .localCheckpoint(eager=True)
    for _ in range(2):
        D.minhash_lsh_pairs(docs, num_hashes=16, bands=8, threshold=0.2).count()
    _force(D.simhash(docs))
    _force(T.text_stats(docs))


HEADLINE = {
    "overlay_intersect": job_overlay_intersect,
    "tile_assignments": job_tile_assignments,
    "knn": job_knn,
    "exact_dedup": job_exact_dedup,
    "minhash_lsh": job_minhash_lsh,
    "simhash": job_simhash,
    "text_stats": job_text_stats,
    "cosine_topk": job_cosine_topk,
    "round_raster": job_round_raster,
}


# ---------------------------------------------------------------------------
# scale job (identical input, swept over SPARK_GRAFT_CPUS)
# ---------------------------------------------------------------------------

def synthetic_documents(spark, n: int, partitions: int = 64):
    """documents-shaped input of n rows, deterministic, no external data."""
    return spark.range(0, n, 1, partitions).select(F.col("id").alias("doc_id"))


def job_overlay_scale(spark, n: int, phases: dict | None = None) -> tuple[int, int]:
    """The north-rule job: overlay intersect + tiling over n synthetic
    pages per side.  Returns (intersection_rows, tile_assignments)."""
    import pandarus_spark as ps
    from pandarus_spark.sources.pages import features_from_documents

    def mark(key, t0):
        if phases is not None:
            phases[key] = round(time.perf_counter() - t0, 3)
        return time.perf_counter()

    docs = synthetic_documents(spark, n)
    t = time.perf_counter()
    # fused synth+extract: one Arrow pass per side (equivalence with the
    # two-step pages path is pinned by tests/test_pages.py)
    base = features_from_documents(docs, "base")
    probe = features_from_documents(docs, "probe")
    base.persist().count()
    probe.persist().count()
    t = mark("extract", t)
    # ids="fast": the reference-parity global id sort is a deliberate
    # single-partition stage for small report outputs — at bench scale it
    # would serialize the whole job.  broadcast_features=None lets the
    # planner broadcast the feature tables while they fit (the plan Spark
    # itself would pick; SMJ fallback beyond the threshold).
    inter_rows = ps.intersect(probe, base, ids="fast").count()
    t = mark("intersect", t)
    tile_rows = ps.cover_features(base, res=8, max_cells=64).count()
    mark("tiles", t)
    return inter_rows, tile_rows


def zipf_corpus(spark, n: int, tokens_per_doc: int = 20,
                vocab: int = 500_000, partitions: int = 64):
    """Stopword-skewed synthetic corpus, pure Catalyst (no Python row
    path): each token slot is the stopword ``t1`` with probability 1/2,
    else uniform over a ``vocab``-sized tail — the degenerate head of a
    Zipf law isolated into ONE key.  Every document contains t1, so its
    posting list is the whole corpus (n rows) while a tail token's is
    ~n·tokens/vocab — the exact adversarial doc_freq profile the r4
    verdict's skew leg asks for ("a 10^8-doc stopword"): under a
    single token-keyed window, ONE reducer owns n rows; the salted
    two-stage top-k splits it n_salts ways.  (A 1/r Zipf head was
    tried first and self-balances: ranks 1-15 are all corpus-wide and
    hash to DIFFERENT reducers — many hot keys even out; the single
    dominant key is the shape that actually breaks a reducer.)"""
    def slot(i):
        u = F.pmod(F.xxhash64(F.col("id"), i), F.lit(2 * vocab))
        return F.when(u < vocab, F.lit("t1")).otherwise(
            F.concat(F.lit("t"), (u - vocab + 2).cast("string")))
    toks = F.transform(F.sequence(F.lit(1), F.lit(tokens_per_doc)), slot)
    return spark.range(0, n, 1, partitions).select(
        F.col("id").alias("doc_id"),
        F.array_join(toks, " ").alias("text"))


def _max_stage_id(spark) -> int:
    """Highest completed stage id so far (scopes _task_skew to the
    stages a specific timed section submits)."""
    import urllib.request
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return -1
    app = spark.sparkContext.applicationId
    try:
        stages = json.loads(urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages", timeout=10).read())
        return max((s["stageId"] for s in stages), default=-1)
    except Exception:
        return -1


def _task_skew(spark, stage_min_tasks: int = 8, after_stage: int = -1,
               min_median_ms: float = 200.0, reduce_only: bool = False):
    """Reducer balance evidence from the Spark UI REST API: for every
    completed stage with >= stage_min_tasks tasks submitted AFTER
    ``after_stage``, the max/median task DURATION ratio (taskSummary
    quantiles).  Stages whose median is under ``min_median_ms`` are
    skipped — at sub-100ms task sizes the ratio measures scheduling
    jitter, not data skew.  Returns the worst stage's (ratio, max_ms,
    median_ms, stage_id, n_tasks) — the number the skew legs pin
    (<= 2x median means no reducer drags the wave).  None when the UI
    is disabled or no stage qualifies."""
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    app = spark.sparkContext.applicationId
    try:
        stages = json.loads(urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages?status=complete",
            timeout=10).read())
    except Exception:
        return None
    worst = None
    for st in stages:
        if st.get("numCompleteTasks", 0) < stage_min_tasks:
            continue
        if st["stageId"] <= after_stage:
            continue
        if reduce_only and not st.get("shuffleReadBytes", 0):
            continue  # map stages: task jitter, not key skew
        sid, att = st["stageId"], st["attemptId"]
        try:
            q = json.loads(urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages/{sid}/{att}/"
                f"taskSummary?quantiles=0.0,0.5,1.0", timeout=10).read())
        except Exception:
            continue
        dur = q.get("duration") or []
        if len(dur) != 3 or dur[1] < min_median_ms:
            continue
        ratio = dur[2] / dur[1]
        if worst is None or ratio > worst[0]:
            worst = (round(ratio, 2), dur[2], dur[1], sid,
                     st["numCompleteTasks"])
    return worst


def job_postings_skew(spark, n: int, tokens_per_doc: int = 20,
                      n_salts: int = 32) -> dict:
    """r4 verdict #7: the postings build against a corpus whose top
    token IS a corpus-wide stopword (posting list = n rows).  Times
    the salted two-stage top-k vs n_salts=1 (single window per token)
    and pins reducer balance via the max/median task-duration ratio
    over each run's stages.

    The timed section runs with AQE partition COALESCING DISABLED —
    deliberately.  On local[8], parallelismFirst coalescing packs the
    reduce side into ~one wave of fat tasks, and a 10^5-row stopword
    list is then SMALLER than a healthy task's share (measured: the
    hot key vanishes into the average and salting reads as pure
    overhead).  At cluster width the opposite holds: 1000 executors ×
    narrow tasks make the hot key many multiples of a healthy share —
    which is what the verdict's "10^8-doc stopword" scenario means.
    Keeping reducers at initialPartitionNum width is the sandbox
    analogue of that regime.  ``n_salts`` is sized to the regime the
    same way production would: n_salts >= hot_rows / healthy_task_rows
    so the hot key's slices melt into the median."""
    from pandarus_spark.operators import textstats as T

    docs = zipf_corpus(spark, n, tokens_per_doc)
    docs = docs.persist()
    docs.count()
    # untimed warmup: codegen for the window/agg classes on a slice
    _force(T.postings_sample(docs.limit(2000), p=3, n_salts=n_salts))

    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    width_key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(coalesce_key, "true")
    prev_w = spark.conf.get(width_key)
    # 256 NARROW reducers, no coalescing: the 1000-executor analogue
    # (healthy task share << hot key's posting list) — at local[8]'s
    # native 8 fat reducers a 2M-row stopword is UNDER the 2.75M-row
    # average share and nothing skews (measured; see BASELINE.md)
    spark.conf.set(coalesce_key, "false")
    spark.conf.set(width_key, "256")
    def leg(label, **kw):
        mark = _max_stage_id(spark)
        t0 = time.perf_counter()
        _force(T.postings_sample(docs, p=3, **kw))
        dt = round(time.perf_counter() - t0, 3)
        sk = _task_skew(spark, after_stage=mark, min_median_ms=40.0,
                        reduce_only=True)
        o = {f"{label}_sec": dt}
        if sk:
            o.update({f"{label}_max_over_median_task": sk[0],
                      f"{label}_max_task_ms": sk[1],
                      f"{label}_median_task_ms": sk[2]})
        return dt, o

    out = {"docs": n, "tokens": n * tokens_per_doc, "n_salts": n_salts}
    try:
        t_un, o = leg("unsalted", n_salts=1)
        out.update(o)
        t_uni, o = leg("uniform_salted", n_salts=n_salts)
        out.update(o)
        # hot-only: threshold at 4x the healthy per-reducer share
        thresh = max(1000, (n * tokens_per_doc) // 64)
        t_hot, o = leg("hot_salted", n_salts=n_salts,
                       salt_threshold=thresh)
        out.update(o)
    finally:
        spark.conf.set(coalesce_key, prev)
        spark.conf.set(width_key, prev_w)
    out["hot_over_unsalted_speedup"] = round(t_un / t_hot, 2)
    docs.unpersist()
    return out


def job_zonal_scale(spark, n_features: int, raster_side: int = 2000) -> dict:
    """Cluster-scale zonal stats: a raster_side² synthetic raster (cells
    generated distributively, pure Catalyst) against n_features page
    features, candidates via the cell-key 'tiles' strategy (the
    broadcast theta-join would be O(cells × features) here)."""
    from pandarus_spark.operators.raster_stats import (
        RasterSpec, raster_cells_range, raster_statistics,
    )
    from pandarus_spark.sources.pages import features_from_documents

    docs = synthetic_documents(spark, n_features)
    feats = features_from_documents(docs, "base")
    # raster covering the doc-grid region (x -60..-8, y -31..-28)
    spec = RasterSpec(raster_side, raster_side,
                      (52.0 / raster_side, 0, -60.0, 0, 3.0 / raster_side, -31.0))
    cells = raster_cells_range(spark, spec)
    t0 = time.perf_counter()
    out = raster_statistics(feats, cells, method="centers", strategy="tiles")
    n = out.count()
    return {"sec": round(time.perf_counter() - t0, 3), "features_with_stats": n,
            "raster_cells": raster_side * raster_side}


def clustered_features(spark, n: int, side: str, x0: float = 10.0, y0: float = 10.0,
                       partitions: int = 32):
    """n nearly-coincident rectangles — a synthetic 'dense urban cluster'
    that lands every feature in the same few cells (the north-rule skew
    shape the reference has no answer to)."""
    from pandarus_spark.geometry import geom as G
    from pandarus_spark.sources.pages import FEATURES_SCHEMA, _box

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            out = {k: [] for k in ("feature_id", "label", "geom_wkb", "kind",
                                   "minx", "miny", "maxx", "maxy", "is_rect")}
            for i in pdf["id"].tolist():
                d = int(i)
                # jitter ~1e-6 deg: all boxes overlap pairwise, same cell
                ox = (d % 97) * 1e-8
                oy = (d % 89) * 1e-8
                geom = _box(x0 + ox, y0 + oy, x0 + 0.01 + ox, y0 + 0.01 + oy)
                mnx, mny, mxx, mxy = G.bounds(geom)
                out["feature_id"].append((2_000_000 if side == "probe" else 1_000_000) + d)
                out["label"].append(f"{side}-cluster {d}")
                out["geom_wkb"].append(G.wkb_dumps(geom))
                out["kind"].append("polygon")
                out["minx"].append(mnx); out["miny"].append(mny)
                out["maxx"].append(mxx); out["maxy"].append(mxy)
                out["is_rect"].append(True)
            yield pd.DataFrame(out)

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=FEATURES_SCHEMA)


def job_overlay_skew(spark, n_uniform: int, n_cluster: int) -> dict:
    """Skew study: uniform workload + one hot cell holding n_cluster
    features on BOTH sides (n_cluster² real intersections in one join
    key).  Runs unsalted vs salted on identical input; returns timings.

    AQE skew-join can't split a broadcast-join stream, so the hot cell
    rides one task unsalted; salting shards it across salt_buckets."""
    import pandarus_spark as ps
    from pandarus_spark.sources.pages import features_from_documents

    docs = synthetic_documents(spark, n_uniform)
    base = features_from_documents(docs, "base") \
        .unionByName(clustered_features(spark, n_cluster, "base"))
    probe = features_from_documents(docs, "probe") \
        .unionByName(clustered_features(spark, n_cluster, "probe"))
    base.persist().count(); probe.persist().count()

    # The skew pathology lives in the shuffle-join path (the only option
    # at 10^12 scale): cell-hash partitioning sends BOTH sides of the hot
    # cell to one reducer, whose join-output amplification (n_cluster²
    # pairs) AQE cannot see — skew detection keys on shuffle-INPUT size.
    # (A broadcast cell join spreads the hot key across probe partitions
    # naturally, which is why the broadcast plan is kept for dim-sized
    # sides.)  Force the shuffle plan for the study:
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = {}
        for tag, salt in (("unsalted", 0), ("salted", 16)):
            t0 = time.perf_counter()
            rows = ps.intersect(probe, base, ids="fast", salt_buckets=salt,
                                salt_threshold=max(1000, n_cluster // 4)).count()
            out[tag] = round(time.perf_counter() - t0, 3)
            out[f"{tag}_rows"] = rows
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert out["unsalted_rows"] == out["salted_rows"], "salting changed results"
    return out


def hexagon_features(spark, n: int, side: str, partitions: int = 64):
    """Hexagonal (non-rect) features at the same doc-grid positions as
    features_from_documents — exercises the batched convex-cover
    refine (one piece per ring) instead of the rect fast path.  Fully vectorized synth
    (batch WKB encoder)."""
    import numpy as np

    from pandarus_spark.geometry import batch as B
    from pandarus_spark.sources.pages import CELL_DEG, FEATURES_SCHEMA, GRID_COLS, GRID_X0, GRID_Y0

    probe = side == "probe"
    off = 0.5 * CELL_DEG if probe else 0.0
    ang = np.pi / 180.0 * (60.0 * np.arange(6) + 7.0)  # rotated: never axis-aligned
    ux, uy = np.cos(ang), np.sin(ang)
    r = 0.55 * CELL_DEG

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            d = pdf["id"].to_numpy(dtype="int64")
            cx = GRID_X0 + (d % GRID_COLS) * CELL_DEG + off + 0.5 * CELL_DEG
            cy = GRID_Y0 + (d // GRID_COLS) * CELL_DEG + off + 0.5 * CELL_DEG
            pts = np.empty((len(d), 6, 2))
            pts[..., 0] = cx[:, None] + r * ux[None, :]
            pts[..., 1] = cy[:, None] + r * uy[None, :]
            wkbs = B.multipolygon_wkb_batch(pts, np.full(len(d), 6, dtype=np.int64))
            yield pd.DataFrame({
                "feature_id": pd.Series((2_000_000 if probe else 1_000_000) + d, dtype="int64"),
                "label": [f"{side}hex {x}" for x in d],
                "geom_wkb": wkbs,
                "kind": ["polygon"] * len(d),
                "minx": pts[..., 0].min(axis=1), "miny": pts[..., 1].min(axis=1),
                "maxx": pts[..., 0].max(axis=1), "maxy": pts[..., 1].max(axis=1),
                "is_rect": [False] * len(d)})

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=FEATURES_SCHEMA)


def lshape_features(spark, n: int, side: str, partitions: int = 64):
    """Concave (L-shaped) features at the doc-grid positions —
    exercises the batched convex-cover refine with multi-piece covers
    (round-2 verdict #4; previously the per-row scalar loop)."""
    import numpy as np

    from pandarus_spark.geometry import batch as B
    from pandarus_spark.sources.pages import CELL_DEG, FEATURES_SCHEMA, GRID_COLS, GRID_X0, GRID_Y0

    probe = side == "probe"
    off = 0.5 * CELL_DEG if probe else 0.0
    s = 1.1 * CELL_DEG
    rel = np.array([[0, 0], [s, 0], [s, s / 2], [s / 2, s / 2], [s / 2, s], [0, s]])

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            d = pdf["id"].to_numpy(dtype="int64")
            x0 = GRID_X0 + (d % GRID_COLS) * CELL_DEG + off
            y0 = GRID_Y0 + (d // GRID_COLS) * CELL_DEG + off
            pts = np.empty((len(d), 6, 2))
            pts[..., 0] = x0[:, None] + rel[None, :, 0]
            pts[..., 1] = y0[:, None] + rel[None, :, 1]
            wkbs = B.multipolygon_wkb_batch(pts, np.full(len(d), 6, dtype=np.int64))
            yield pd.DataFrame({
                "feature_id": pd.Series((4_000_000 if probe else 3_000_000) + d, dtype="int64"),
                "label": [f"{side}L {x}" for x in d],
                "geom_wkb": wkbs,
                "kind": ["polygon"] * len(d),
                "minx": pts[..., 0].min(axis=1), "miny": pts[..., 1].min(axis=1),
                "maxx": pts[..., 0].max(axis=1), "maxy": pts[..., 1].max(axis=1),
                "is_rect": [False] * len(d)})

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=FEATURES_SCHEMA)


def job_refine_shapes(spark, n: int) -> dict:
    """Rect vs non-rect refine comparison (round-2 verdict #3 / round-3
    verdict #4 'Done' criteria): the hexagon overlay AND the concave
    L-shape overlay (both the convex-cover tier) must sit within a few x of the
    rect overlay at equal candidate volume — batched Arrow paths, not
    the ~100x per-row scalar loop."""
    import pandarus_spark as ps
    from pandarus_spark.sources.pages import features_from_documents

    docs = synthetic_documents(spark, n)
    rect_base = features_from_documents(docs, "base")
    rect_probe = features_from_documents(docs, "probe")
    hex_base = hexagon_features(spark, n, "base")
    hex_probe = hexagon_features(spark, n, "probe")
    l_base = lshape_features(spark, n, "base")
    l_probe = lshape_features(spark, n, "probe")
    for df in (rect_base, rect_probe, hex_base, hex_probe, l_base, l_probe):
        df.persist().count()
    out = {}
    # two timed runs per leg, min reported — first-call codegen/JIT and
    # the 3-4x VM noise otherwise dominate the rect/hex comparison
    for tag, (p, b) in (("rect", (rect_probe, rect_base)),
                        ("hex", (hex_probe, hex_base)),
                        ("lshape", (l_probe, l_base))):
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            rows = ps.intersect(p, b, ids="fast").count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[tag] = round(best, 3)
        out[f"{tag}_rows"] = rows
    out["ratio"] = round(out["hex"] / out["rect"], 2)
    out["lshape_ratio"] = round(out["lshape"] / out["rect"], 2)
    return out


def synthetic_corpus(spark, n: int, partitions: int = 64):
    """Deterministic web-corpus-shaped documents: ~30% exact duplicates
    (doc_id mod 10 in {7,8,9} repeats an earlier text verbatim) and
    ~10% near-duplicates (one word substituted), the dup structure
    minhash_lsh_pairs' exact-dup collapse is built for."""
    def doc_words(seed: int, n_words: int = 30) -> list[str]:
        # xorshift-style word stream: distinct docs share almost no
        # shingles, so LSH candidates come from the dup structure, not
        # from boilerplate (boilerplate-heavy corpora are the skew
        # study's territory)
        x = seed * 6364136223846793005 + 1442695040888963407
        out = []
        for _ in range(n_words):
            x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 7
            x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
            out.append(f"w{x % 50021}")
        return out

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            ids, texts = [], []
            for i in pdf["id"].tolist():
                d = int(i)
                group, slot = d // 10, d % 10
                if slot >= 7:          # exact dup of the group's slot-0 doc
                    words = doc_words(group * 10 + 1)
                elif slot == 6:        # near dup: one word substituted
                    words = doc_words(group * 10 + 1)
                    words[11] = "swapped"
                else:
                    words = doc_words(d + 1)
                ids.append(d); texts.append(" ".join(words))
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "text": texts})

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema="doc_id long, text string")


def job_dedup_scale(spark, n: int) -> dict:
    """Training-pipeline dedup at scale: LSH near-dup pairs + duplicate
    clustering over a corpus with 30% exact dups (deterministic)."""
    from pandarus_spark.operators import dedup as D
    docs = synthetic_corpus(spark, n)
    docs.persist().count()
    t0 = time.perf_counter()
    pairs = D.minhash_lsh_pairs(docs, num_hashes=16, bands=8, threshold=0.5)
    pairs = pairs.persist()
    n_pairs = pairs.count()
    t_pairs = time.perf_counter() - t0
    t0 = time.perf_counter()
    clusters = D.duplicate_clusters(pairs, universe=docs)
    n_clusters = clusters.select("cluster_id").distinct().count()
    t_clusters = time.perf_counter() - t0
    return {"pairs_sec": round(t_pairs, 3), "clusters_sec": round(t_clusters, 3),
            "near_dup_pairs": n_pairs, "clusters": n_clusters, "docs": n}


def job_curation_scale(spark, n: int) -> dict:
    """Curation-layer throughput at scale: deterministic hash-sample →
    token-window chunking (narrow, zero shuffle), PII scan+redact audit,
    and canonical-URL domain stats (one agg shuffle) over the synthetic
    corpus.  Each phase forced independently so its cost is its own."""
    from pyspark.sql import functions as F

    from pandarus_spark.operators import curation as C
    docs = synthetic_corpus(spark, n)
    docs.persist().count()
    out: dict = {"docs": n}

    # timed sections _force (noop write), NOT .count(): count lets
    # Catalyst prune the computed columns away (the pii regexes, the
    # chunk md5s), silently benchmarking a row count instead of the
    # operator.  Row counts for the output metadata run untimed after.
    t0 = time.perf_counter()
    chunks = C.chunk_tokens(C.hash_sample(docs, 0.5), size=16, stride=12)
    _force(chunks)
    out["sample_chunk_sec"] = round(time.perf_counter() - t0, 3)
    out["chunks"] = chunks.count()

    t0 = time.perf_counter()
    pii = C.pii_stats(docs)
    _force(pii)
    out["pii_sec"] = round(time.perf_counter() - t0, 3)
    out["pii_rows"] = pii.count()

    t0 = time.perf_counter()
    # 1000 registrable domains (a crawl is many-domain; a single-domain
    # fixture would funnel the final agg into one reducer task)
    pages = docs.select(F.concat(
        F.lit("https://www.sub"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".site"), (F.col("doc_id") % 1000).cast("string"),
        F.lit(".org/p/"), F.col("doc_id").cast("string"),
        F.lit("?utm_source=x&q="), (F.col("doc_id") % 17).cast("string")).alias("url"))
    ds = C.domain_stats(pages)
    _force(ds)  # count() would prune the countDistinct(url_norm) aggregate
    out["domain_sec"] = round(time.perf_counter() - t0, 3)
    out["domains"] = ds.count()

    docs.unpersist()
    return out


def job_decontam_scale(spark, n: int) -> dict:
    """Decontamination + unigram-LM throughput at scale.  The eval set
    is a tiny deterministic slice of the corpus (~n/997 docs), so its
    shingle set builds small and BROADCASTS; the corpus side explodes
    shingles partition-locally and never shuffles on content (the
    doc-keyed hit agg moves one row per document).  unigram_logprob is
    two partial-agg shuffles (doc-token tf, vocabulary freq) plus one
    broadcast scalar.  Each phase forced with the noop write so the
    regex/shingle/NLL columns cannot be pruned out of the timing."""
    from pyspark.sql import functions as F

    from pandarus_spark.operators import decontam as DC
    from pandarus_spark.operators.textstats import unigram_logprob
    docs = synthetic_corpus(spark, n)
    docs.persist().count()
    bench = docs.filter(F.col("doc_id") % 997 == 3).select("text")
    out: dict = {"docs": n, "bench_docs": bench.count()}

    # persist before forcing so the untimed metadata counts below read
    # the cached result instead of recomputing the whole pipeline
    # (r3 ADVICE: the counts roughly doubled job wall time at large n)
    t0 = time.perf_counter()
    stats = DC.contamination_stats(docs, bench, k=8).persist()
    _force(stats)
    out["decontam_sec"] = round(time.perf_counter() - t0, 3)
    out["contaminated"] = stats.filter(F.col("contaminated")).count()
    stats.unpersist()

    t0 = time.perf_counter()
    lm = unigram_logprob(docs).persist()
    _force(lm)
    out["unigram_sec"] = round(time.perf_counter() - t0, 3)
    out["lm_rows"] = lm.count()
    lm.unpersist()

    # the beyond-broadcast-set path: bit_or-built broadcast bitmap +
    # Arrow probe (superset semantics — no false negatives)
    t0 = time.perf_counter()
    bloom = DC.build_shingle_bloom(bench.select("text"), k=8,
                                   n_bits=1 << 24, n_hashes=7)
    out["bloom_build_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    flagged = DC.bloom_contaminated(docs, bloom, k=8).persist()
    _force(flagged)
    out["bloom_probe_sec"] = round(time.perf_counter() - t0, 3)
    out["bloom_flagged"] = flagged.filter(F.col("contaminated")).count()
    flagged.unpersist()

    docs.unpersist()
    return out


def synthetic_events(spark, n: int, partitions: int = 64):
    """Deterministic synthetic event stream: n rows over 10k users,
    5 event types, monotone-ish timestamps with per-row jitter."""
    from pyspark.sql import functions as F
    df = spark.range(0, n, 1, partitions)
    return df.select(
        F.col("id").alias("event_id"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(10000)).alias("user_id"),
        (F.col("id") * 3.7 + F.pmod(F.xxhash64(F.col("id") + 1), F.lit(1000)) / 250.0)
            .alias("ts"),
        F.element_at(F.array(*[F.lit(t) for t in
                               ("view", "click", "purchase", "error", "signup")]),
                     (F.col("id") % 5 + 1).cast("int")).alias("event_type"),
        (F.pmod(F.xxhash64(F.col("id") + 2), F.lit(10000)) / 100.0).alias("value"))


def job_asof_scale(spark, n: int) -> dict:
    """Temporal-join throughput at scale: as-of join (clicks pick up
    the most recent prior view per user — one window shuffle, no join
    amplification) and the bucket-tiled interval join."""
    from pyspark.sql import functions as F

    from pandarus_spark.operators.windows import asof_join, interval_join
    ev = synthetic_events(spark, n)
    ev.persist().count()
    out: dict = {"events": n}

    t0 = time.perf_counter()
    views = (ev.filter(F.col("event_type") == "view")
             .groupBy("user_id", "ts").agg(F.max("value").alias("view_value")))
    clicks = ev.filter(F.col("event_type") == "click") \
               .select("event_id", "user_id", "ts")
    aj = asof_join(clicks, views, key_col="user_id", ts_col="ts")
    _force(aj)  # count() would prune the carried payload — the operator itself
    out["asof_sec"] = round(time.perf_counter() - t0, 3)
    out["asof_rows"] = aj.count()

    t0 = time.perf_counter()
    purch = (ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") < 300))
             .select(F.col("event_id").alias("purchase_id"),
                     F.col("ts").alias("start"),
                     (F.col("ts") + 60.0).alias("end")))
    pts = ev.filter(F.col("event_type") == "click") \
            .select(F.col("event_id").alias("click_id"), "ts")
    out["interval_pairs"] = interval_join(
        pts, purch, bucket_seconds=60.0).count()
    out["interval_sec"] = round(time.perf_counter() - t0, 3)

    ev.unpersist()
    return out


def synthetic_embeddings(spark, n: int, dim: int = 64, partitions: int = 64):
    """Deterministic synthetic embedding table (vec_id, float array):
    lane values from an integer hash mapped into [-1, 1] — generated
    distributed, no driver-side data."""
    from pyspark.sql import functions as F
    v = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: ((F.pmod(F.xxhash64(F.col("vec_id"), i), F.lit(2000001))
                    / 1000000.0) - 1.0).cast("float"))
    return (spark.range(0, n, 1, partitions)
            .select(F.col("id").alias("vec_id"))
            .select("vec_id", v.alias("embedding")))


def job_pipeline4_scale(spark, n: int) -> dict:
    """Round-4b operator throughput at scale: cross-document dup-span
    stats (one window shuffle on the shingle id), int8 quantization
    (map-only), and areal interpolation over a synthetic n-row overlay
    (window + values join + rollup).  Results persist before the
    untimed metadata counts (same rule as decontam_scale)."""
    from pyspark.sql import functions as F

    from pandarus_spark.operators.dedup import dup_span_stats
    from pandarus_spark.operators.interp import areal_interpolate
    from pandarus_spark.operators.similarity import quantize_int8

    out: dict = {"docs": n}
    docs = synthetic_corpus(spark, n)
    docs.persist().count()
    t0 = time.perf_counter()
    ds = dup_span_stats(docs, k=5).persist()
    _force(ds)
    out["dup_span_sec"] = round(time.perf_counter() - t0, 3)
    out["dup_docs"] = ds.filter("n_dup > 0").count()
    ds.unpersist()
    docs.unpersist()

    emb = synthetic_embeddings(spark, n)
    emb.persist().count()
    t0 = time.perf_counter()
    qz = quantize_int8(emb).persist()
    _force(qz)
    out["quantize_sec"] = round(time.perf_counter() - t0, 3)
    out["saturated_lanes"] = qz.agg(F.sum("n_sat")).collect()[0][0]
    qz.unpersist()
    emb.unpersist()

    n_src, n_tgt = max(n // 10, 1), max(n // 7, 1)
    inter = (spark.range(0, n, 1, 64)
             .select(F.concat(F.lit("T"), (F.col("id") % n_tgt).cast("string"))
                      .alias("from_label"),
                     F.concat(F.lit("S"), (F.col("id") % n_src).cast("string"))
                      .alias("to_label"),
                     (F.pmod(F.xxhash64("id"), F.lit(100000)) + 1)
                      .cast("double").alias("measure")))
    vals = (spark.range(0, n_src)
            .select(F.concat(F.lit("S"), F.col("id").cast("string"))
                     .alias("to_label"),
                    (F.col("id") % 97 + 1).cast("long").alias("value")))
    inter.persist().count()
    t0 = time.perf_counter()
    ai = areal_interpolate(inter, vals).persist()
    _force(ai)
    out["areal_sec"] = round(time.perf_counter() - t0, 3)
    out["areal_targets"] = ai.count()
    ai.unpersist()
    inter.unpersist()
    return out


def job_pipeline4c_scale(spark, n: int) -> dict:
    """Round-4c operator throughput at scale over the synthetic corpus:
    training-sequence packing (one shard-keyed window shuffle +
    partition-local explode), the Gopher quality-rule battery
    (map-only, zero shuffles), and the inverted-index postings sample
    (salted two-stage per-token top-k).  Same persist-before-untimed-
    counts rule as decontam_scale."""
    from pandarus_spark.operators.curation import pack_sequences
    from pandarus_spark.operators.textstats import gopher_rules, postings_sample

    out: dict = {"docs": n}
    docs = synthetic_corpus(spark, n)
    docs.persist().count()

    t0 = time.perf_counter()
    pk = pack_sequences(docs, seq_len=128, n_shards=64).persist()
    _force(pk)
    out["pack_sec"] = round(time.perf_counter() - t0, 3)
    out["pack_slices"] = pk.count()
    pk.unpersist()

    t0 = time.perf_counter()
    gq = gopher_rules(docs).persist()
    _force(gq)
    out["gopher_sec"] = round(time.perf_counter() - t0, 3)
    out["gopher_kept"] = gq.filter("keep_flag = 1").count()
    gq.unpersist()

    t0 = time.perf_counter()
    po = postings_sample(docs, p=3, n_salts=8).persist()
    _force(po)
    out["postings_sec"] = round(time.perf_counter() - t0, 3)
    out["postings_tokens"] = po.count()
    po.unpersist()

    from pandarus_spark.operators.dedup import remove_dup_spans
    t0 = time.perf_counter()
    rm = remove_dup_spans(docs, k=5).persist()
    _force(rm)
    out["span_removal_sec"] = round(time.perf_counter() - t0, 3)
    out["docs_touched"] = rm.filter("n_removed > 0").count()
    rm.unpersist()

    docs.unpersist()
    return out


def job_temporal_skew(spark, n_uniform: int, n_cluster: int) -> dict:
    """Skew study for the 1-D bucket joins (r3 verdict #8): a
    flash-sale half hour puts n_cluster points in ONE time bucket
    (interval join), and a dense urban cluster puts n_cluster points
    in ONE spatial cell (distance join).  Each leg runs unsalted vs
    salted on identical input and asserts result invariance.

    Like job_overlay_skew, the study forces the shuffle-join path: at
    10^12-row scale neither side broadcasts, cell/bucket hash
    partitioning sends the whole hot key to one reducer, and AQE's
    skew split keys on shuffle-INPUT size so it cannot see the
    join-OUTPUT amplification."""
    from pyspark.sql import functions as F

    from pandarus_spark.operators.distance import distance_join
    from pandarus_spark.operators.windows import interval_join

    out: dict = {"uniform": n_uniform, "cluster": n_cluster}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # --- interval join: flash-sale bucket ---------------------------
        base = spark.range(0, n_uniform, 1, 64).select(
            F.col("id").alias("pid"),
            (F.col("id").cast("double") * 7.3).alias("ts"))
        hot_t0 = float(n_uniform) * 7.3 + 10_000.0
        hot = spark.range(0, n_cluster, 1, 64).select(
            (F.col("id") + n_uniform).alias("pid"),
            (F.lit(hot_t0) + F.pmod(F.xxhash64("id"), F.lit(180_000))
             .cast("double") / 100.0).alias("ts"))
        pts = base.unionByName(hot)
        pts.persist().count()
        ivs = spark.range(0, 64).select(
            F.col("id").alias("iid"),
            F.lit(hot_t0).alias("start"),
            F.lit(hot_t0 + 1800.0).alias("end")).persist()
        ivs.count()
        # count() alone understates the skew (codegen counts ~57M
        # pairs/s even single-task); materialize the pair payload with
        # the noop write, which is what a real consumer forces
        for tag, salt in (("interval_unsalted", 0), ("interval_salted", 16)):
            t0 = time.perf_counter()
            ij = interval_join(pts, ivs, bucket_seconds=1800.0,
                               salt_buckets=salt,
                               salt_threshold=max(1000, n_cluster // 4))
            _force(ij)
            out[tag] = round(time.perf_counter() - t0, 3)
            out[f"{tag}_rows"] = ij.count()
        assert out["interval_unsalted_rows"] == out["interval_salted_rows"]
        pts.unpersist(); ivs.unpersist()

        # --- distance join: dense urban cell ----------------------------
        lb = spark.range(0, n_uniform, 1, 64).select(
            F.col("id").alias("lid"),
            (F.pmod(F.xxhash64("id"), F.lit(360_000)).cast("double") / 1000.0
             - 180.0).alias("lon"),
            (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(160_000)).cast("double")
             / 1000.0 - 80.0).alias("lat"))
        lhot = spark.range(0, n_cluster, 1, 64).select(
            (F.col("id") + n_uniform).alias("lid"),
            (F.lit(2.29) + F.pmod(F.xxhash64("id"), F.lit(1000)).cast("double")
             * 1e-5).alias("lon"),
            (F.lit(48.85) + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1000))
             .cast("double") * 1e-5).alias("lat"))
        left = lb.unionByName(lhot)
        left.persist().count()
        right = spark.range(0, 512).select(
            F.col("id").alias("rid"),
            (F.lit(2.285) + F.col("id").cast("double") * 2e-5).alias("lon"),
            (F.lit(48.845) + F.pmod(F.xxhash64("id"), F.lit(900)).cast("double")
             * 2e-5).alias("lat")).persist()
        right.count()
        for tag, salt in (("distance_unsalted", 0), ("distance_salted", 16)):
            t0 = time.perf_counter()
            n = distance_join(left, right, radius_m=2000.0,
                              salt_buckets=salt,
                              salt_threshold=max(1000, n_cluster // 4)).count()
            out[tag] = round(time.perf_counter() - t0, 3)
            out[f"{tag}_rows"] = n
        assert out["distance_unsalted_rows"] == out["distance_salted_rows"]
        left.unpersist(); right.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return out


def job_round5_scale(spark, n: int) -> dict:
    """Round-5 operator throughput at scale over the synthetic corpus
    (+ a deterministic source column) and synthetic embeddings: DSIR
    importance weights (one corpus shuffle + bucket-table broadcast),
    Gopher repetition stats (two partial-agg shuffles + doc window),
    corpus-mix selection (one narrow scan, histogram threshold), and
    SemDeDup (map-side scoring + one vector shuffle + cluster-keyed
    pairs).  Each phase forced with the noop write; inputs persist
    before timing (same rules as decontam_scale)."""
    from pandarus_spark.operators import curation as Cu
    from pandarus_spark.operators import similarity as Si
    from pandarus_spark.operators import textstats as Tx

    docs = synthetic_corpus(spark, n).withColumn(
        "source", F.concat(F.lit("src"), (F.col("doc_id") % 8).cast("string")))
    docs.persist().count()
    out: dict = {"docs": n}

    t0 = time.perf_counter()
    dw = Tx.dsir_weights(docs, F.col("source") == "src0", n_buckets=4096)
    _force(dw)
    out["dsir_sec"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    rep = Tx.repetition_stats(docs)
    _force(rep)
    out["repetition_sec"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    sel = Cu.mix_select(docs, n // 10, alpha=2, n_buckets=1024)
    _force(sel)
    out["mix_sec"] = round(time.perf_counter() - t0, 3)
    out["mix_rows"] = sel.count()

    emb = synthetic_embeddings(spark, n // 2)
    emb.persist().count()
    # SemDeDup's scale contract: cluster count grows WITH the corpus
    # (~200 vectors/cluster), so within-cluster pairs stay O(n) — a
    # fixed K makes the pair stage quadratic (measured 4.05x for 2x
    # input at K=512, BASELINE.md); the O(n*K) assignment matmul is
    # the accepted price (BLAS-shaped, one broadcast codebook)
    k_c = max(256, (n // 2) // 200)
    t0 = time.perf_counter()
    sd = Si.semantic_dedup(emb, n_clusters=k_c, threshold=0.9)
    _force(sd)
    out["semdedup_sec"] = round(time.perf_counter() - t0, 3)
    out["semdedup_clusters"] = k_c
    out["semdedup_dups"] = sd.filter("is_dup").count()
    docs.unpersist(); emb.unpersist()
    return out


def job_late5_scale(spark, n: int) -> dict:
    """Late-round-5 operator throughput at scale: cross-corpus LSH join
    (1/3 'new crawl' vs 2/3 'corpus' split of the synthetic corpus —
    the dup structure guarantees cross hits), outlink extraction over
    link-laced pages (pure-codegen narrow map), bottom-k sampling
    (map-side WindowGroupLimit), and the CMS token sketch (ONE
    bounded shuffle).  Each phase forced with the noop write; inputs
    persist before timing."""
    from pyspark.sql import functions as F

    from pandarus_spark.operators import curation as Cu
    from pandarus_spark.operators import dedup as De
    from pandarus_spark.operators import sketch as Sk

    docs = synthetic_corpus(spark, n)
    docs.persist().count()
    out: dict = {"docs": n}

    t0 = time.perf_counter()
    left = docs.filter(F.col("doc_id") % 3 == 0)
    right = docs.filter(F.col("doc_id") % 3 != 0)
    pairs = De.minhash_lsh_join(left, right, num_hashes=16, bands=8,
                                threshold=0.5).persist()
    _force(pairs)
    out["lsh_join_sec"] = round(time.perf_counter() - t0, 3)
    out["cross_pairs"] = pairs.count()     # reads the cache, not a re-run
    pairs.unpersist()

    i = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><a href="https://x.example/p/'),
        ((i * 7 + 1) % n).cast("string"), F.lit('">n</a><a href="/r/'),
        ((i * 13 + 2) % n).cast("string"), F.lit('">m</a><pre>'),
        F.col("text"), F.lit("</pre></body></html>"))
    pages = docs.select(
        F.concat(F.lit("https://x.example/p/"), i.cast("string")).alias("url"),
        F.encode(html, "utf-8").alias("html"))
    pages.persist().count()
    t0 = time.perf_counter()
    links = Cu.extract_links(pages).persist()
    _force(links)
    out["links_sec"] = round(time.perf_counter() - t0, 3)
    out["links"] = links.count()
    links.unpersist()
    pages.unpersist()

    t0 = time.perf_counter()
    _force(Cu.bottomk_sample(docs, k=1000, n_salts=32))
    out["bottomk_sec"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    toks = docs.select(F.explode(De.words(F.col("text"))).alias("t"))
    _force(Sk.cms_counters(toks, "t", d=4, w=4096))
    out["cms_sec"] = round(time.perf_counter() - t0, 3)
    docs.unpersist()
    return out


def job_final5_scale(spark, n: int) -> dict:
    """Final-round-5 operator throughput at scale: winnowing
    fingerprints (md5 fold + ONE doc-keyed window shuffle), the
    fingerprint overlap join (checkpointed fp table, dup-group pairs),
    integer-exact BM25 top-k (candidate-filtered explode), per-node
    triangle counts over a 3n-edge graph (degree-ordered orientation),
    and the crawl delta (digest-only full-outer join).  Each phase
    forced with the noop write; inputs persist before timing."""
    from pyspark.sql import functions as F

    from pandarus_spark.operators import curation as Cu
    from pandarus_spark.operators import dedup as De
    from pandarus_spark.operators import textstats as Tx
    from pandarus_spark.operators.graph import triangles

    docs = synthetic_corpus(spark, n)
    docs.persist().count()
    out: dict = {"docs": n}

    t0 = time.perf_counter()
    fps = De.winnow_fingerprints(docs, k=5, w=4).persist()
    _force(fps)
    out["winnow_sec"] = round(time.perf_counter() - t0, 3)
    out["fingerprints"] = fps.count()
    fps.unpersist()

    t0 = time.perf_counter()
    pairs = De.winnow_overlap_pairs(docs, k=5, w=4, min_shared=2).persist()
    _force(pairs)
    out["overlap_sec"] = round(time.perf_counter() - t0, 3)
    out["overlap_pairs"] = pairs.count()
    pairs.unpersist()

    t0 = time.perf_counter()
    top = Tx.bm25_topk(docs, ("swapped", "w123", "w777"), k=100)
    _force(top)
    out["bm25_sec"] = round(time.perf_counter() - t0, 3)

    i = F.col("doc_id")
    edges = (docs.select(i.alias("src"), ((i + 1) % n).alias("dst"))
                 .unionByName(docs.select(i.alias("src"),
                                          ((i + 2) % n).alias("dst")))
                 .unionByName(docs.select(i.alias("src"),
                                          ((i * 7 + 1) % n).alias("dst"))))
    t0 = time.perf_counter()
    tri = triangles(edges).persist()
    _force(tri)
    out["triangles_sec"] = round(time.perf_counter() - t0, 3)
    out["tri_sum"] = tri.agg(F.sum("n_tri")).first()[0]
    tri.unpersist()

    old = docs.filter(i % 17 != 0)
    new = (docs.filter(i % 5 != 1)
               .select("doc_id",
                       F.when(i % 13 == 0, F.concat(F.col("text"),
                                                    F.lit(" v2")))
                        .otherwise(F.col("text")).alias("text")))
    t0 = time.perf_counter()
    _force(Cu.crawl_delta(old, new))
    out["delta_sec"] = round(time.perf_counter() - t0, 3)
    docs.unpersist()
    return out


def job_close5_scale(spark, n: int) -> dict:
    """Session-close round-5 operators at scale: trigram stupid-backoff
    LM (per-position scoring, vocab-level ln), the PPJoin exact
    similarity join (prefix-filtered candidates), label-propagation
    communities (5 synchronous rounds over a 3n-edge graph), the
    Z-order layout (map-side Morton key + ONE range shuffle), and
    dissolve (trapezoid shuffle + per-bucket exact union) over
    overlapping synthetic boxes.  Each phase forced with the noop
    write; inputs persist before timing."""
    from pyspark.sql import functions as F

    from pandarus_spark.operators.dedup import ppjoin_pairs
    from pandarus_spark.operators.dissolve import dissolve_measure
    from pandarus_spark.operators.graph import label_propagation
    from pandarus_spark.operators.layout import zorder_layout
    from pandarus_spark.operators.textstats import trigram_backoff_logprob

    docs = synthetic_corpus(spark, n)
    docs.persist().count()
    out: dict = {"docs": n}

    t0 = time.perf_counter()
    _force(trigram_backoff_logprob(docs))
    out["trigram_sec"] = round(time.perf_counter() - t0, 3)

    from pandarus_spark.operators.bpe import bpe_merges
    t0 = time.perf_counter()
    _force(bpe_merges(docs, n_merges=6))
    out["bpe_sec"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    pairs = ppjoin_pairs(docs, k=3, threshold_micro=500_000).persist()
    _force(pairs)
    out["ppjoin_sec"] = round(time.perf_counter() - t0, 3)
    out["ppjoin_pairs"] = pairs.count()
    pairs.unpersist()

    i = F.col("doc_id")
    edges = (docs.select(i.alias("src"), ((i + 1) % n).alias("dst"))
                 .unionByName(docs.select(i.alias("src"),
                                          ((i + 2) % n).alias("dst")))
                 .unionByName(docs.select(i.alias("src"),
                                          ((i * 7 + 1) % n).alias("dst"))))
    t0 = time.perf_counter()
    _force(label_propagation(edges, n_iters=5))
    out["label_prop_sec"] = round(time.perf_counter() - t0, 3)

    pts = docs.select(
        "doc_id",
        (F.expr("CAST((doc_id * 37) % 360 AS DOUBLE)") - 180.0).alias("lon"),
        (F.expr("CAST((doc_id * 7) % 180 AS DOUBLE)") - 90.0).alias("lat"))
    t0 = time.perf_counter()
    _force(zorder_layout(pts, n_files=64))
    out["zorder_sec"] = round(time.perf_counter() - t0, 3)

    # overlapping box features: ~n/2 boxes in a 100x100-degree belt,
    # every third box overlapping its neighbor, 64 dissolve keys
    def box_gen(batches):
        import pandas as pd

        from pandarus_spark.geometry import geom as G
        for pdf in batches:
            ids = pdf["id"]
            rows = {"feature_id": [], "label": [], "geom_wkb": [],
                    "kind": [], "k": []}
            for fid in ids:
                x0 = float((fid * 13) % 1000) / 10.0 - 50.0
                y0 = float((fid * 29) % 800) / 10.0 - 40.0
                w = 0.8 if fid % 3 else 1.6
                g = {"type": "Polygon",
                     "coordinates": [[[x0, y0], [x0 + w, y0],
                                      [x0 + w, y0 + w], [x0, y0 + w],
                                      [x0, y0]]]}
                rows["feature_id"].append(int(fid))
                rows["label"].append(f"f{fid}")
                rows["geom_wkb"].append(G.wkb_dumps(g))
                rows["kind"].append("polygon")
                rows["k"].append(f"k{fid % 64}")
            yield pd.DataFrame(rows)

    feats = (spark.range(n // 2).repartition(64)
             .mapInPandas(box_gen,
                          schema="feature_id long, label string, "
                                 "geom_wkb binary, kind string, k string"))
    feats.persist().count()
    t0 = time.perf_counter()
    _force(dissolve_measure(feats, key_col="k"))
    out["dissolve_sec"] = round(time.perf_counter() - t0, 3)
    out["dissolve_features"] = n // 2
    feats.unpersist()
    docs.unpersist()
    return out


def job_geo5_scale(spark, n: int) -> dict:
    """Geometry session-close operators at scale: Douglas-Peucker
    simplification over n 12-point zigzag polylines, per-feature
    centroids over the same features, line dissolve (union length,
    64 keys) over overlapping equator chains, and the per-key convex
    hull over 2n integer points in 64 key groups.  Each phase forced
    with the noop write; inputs persist before timing."""
    from pyspark.sql import functions as F

    from pandarus_spark.operators.dissolve import (centroids,
                                                   dissolve_length)
    from pandarus_spark.operators.hull import convex_hull_stats
    from pandarus_spark.operators.simplify import simplify_lines

    def line_gen(batches):
        import pandas as pd

        from pandarus_spark.geometry import geom as G
        for pdf in batches:
            rows = {"feature_id": [], "label": [], "geom_wkb": [],
                    "kind": [], "k": []}
            for fid in pdf["id"]:
                amp = float(fid % 5) * 0.1
                a = float((fid * 7) % 400) * 0.05
                coords = [[a + j * 0.05,
                           (3.0 if j >= 6 else 0.0) + (j % 2) * amp]
                          for j in range(12)]
                g = {"type": "LineString", "coordinates": coords}
                rows["feature_id"].append(int(fid))
                rows["label"].append(f"f{fid}")
                rows["geom_wkb"].append(G.wkb_dumps(g))
                rows["kind"].append("line")
                rows["k"].append(f"k{fid % 64}")
            yield pd.DataFrame(rows)

    feats = (spark.range(n).repartition(64)
             .mapInPandas(line_gen,
                          schema="feature_id long, label string, "
                                 "geom_wkb binary, kind string, "
                                 "k string"))
    feats.persist().count()
    out: dict = {"features": n}

    t0 = time.perf_counter()
    _force(simplify_lines(feats, eps=0.25, project=False))
    out["simplify_sec"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    _force(centroids(feats, project=False))
    out["centroids_sec"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    _force(dissolve_length(feats, key_col="k", project=False))
    out["dissolve_len_sec"] = round(time.perf_counter() - t0, 3)
    feats.unpersist()

    pts = (spark.range(2 * n).repartition(64)
           .select(F.expr("CAST('k' || (id % 64) AS STRING)").alias("key"),
                   F.expr("CAST((id * 37) % 2000 AS LONG) - 1000")
                    .alias("x"),
                   F.expr("CAST((id * id * 13 + id) % 2000 AS LONG) "
                          "- 1000").alias("y")))
    pts.persist().count()
    t0 = time.perf_counter()
    _force(convex_hull_stats(pts))
    out["hull_sec"] = round(time.perf_counter() - t0, 3)
    pts.unpersist()
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", default="headline",
                    choices=["headline", "overlay_scale", "overlay_skew",
                             "zonal_scale", "dedup_scale", "refine_shapes",
                             "curation_scale", "asof_scale",
                             "decontam_scale", "temporal_skew",
                             "pipeline4_scale", "pipeline4c_scale",
                             "postings_skew", "round5_scale", "late5_scale",
                             "final5_scale", "close5_scale", "geo5_scale"])
    ap.add_argument("--n", type=int, default=int(os.environ.get("SPARK_GRAFT_SCALE_N", "200000")))
    ap.add_argument("--n-cluster", type=int, default=3000)
    ap.add_argument("--force", default="noop", choices=["noop", "count"],
                    help="headline materialization: noop write (default; "
                         "computes every column) or count. count "
                         "approximates the pre-round-5 mix for cross-round "
                         "comparison, but is NOT exact: simhash/text_stats/"
                         "round_raster were already noop-forced pre-r5, so "
                         "under count they read LOWER than any old round "
                         "(column pruning) — compare those three via noop")
    ap.add_argument("--runs", type=int, default=3,
                    help="timed full passes over the headline suite; the "
                         "per-query MIN across passes is reported (steady-"
                         "state throughput on a shared VM whose host-steal "
                         "windows last minutes and cost 3-6x; passes are "
                         "minutes apart, so one usually lands quiet)")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if args.job == "overlay_scale":
        # straggler smoothing for the long scale job: 4 waves per shuffle
        os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus * 4))
    spark = build_session(app=f"pandarus-bench-{args.job}")
    spark.sparkContext.setLogLevel("ERROR")
    _st0 = _cpu_steal()

    def emit(payload: dict) -> None:
        """Print the job's JSON line with the steal canary appended —
        the same objective noise evidence the headline suite reports,
        so scaling-leg numbers carry their own window context."""
        _st1 = _cpu_steal()
        payload["host_steal_pct"] = (
            round(100.0 * (_st1[1] - _st0[1]) / max(1, _st1[0] - _st0[0]), 2)
            if _st1[0] > _st0[0] else None)
        print(json.dumps(payload))

    if args.job == "zonal_scale":
        res = job_zonal_scale(spark, args.n)
        emit({
            "metric": "zonal_stats_tiles_strategy",
            "value": res["sec"], "unit": "sec",
            "queries": {"zonal_scale": res["sec"]},
            "sf": args.n, "cpus": cpus,
            "raster_cells": res["raster_cells"],
            "features_with_stats": res["features_with_stats"],
        })
        spark.stop()
        return

    if args.job == "dedup_scale":
        res = job_dedup_scale(spark, args.n)
        total = res["pairs_sec"] + res["clusters_sec"]
        emit({
            "metric": "neardup_pairs_plus_clusters",
            "value": round(total, 3), "unit": "sec",
            "queries": {"lsh_pairs": res["pairs_sec"],
                        "dup_clusters": res["clusters_sec"]},
            "sf": args.n, "cpus": cpus,
            "near_dup_pairs": res["near_dup_pairs"],
            "clusters": res["clusters"],
            "docs_per_sec": round(args.n / total, 1),
        })
        spark.stop()
        return

    if args.job == "decontam_scale":
        res = job_decontam_scale(spark, args.n)
        total = res["decontam_sec"] + res["unigram_sec"]
        emit({
            "metric": "decontam_plus_unigram_lm",
            "value": round(total, 3), "unit": "sec",
            "queries": {"decontam": res["decontam_sec"],
                        "unigram_lm": res["unigram_sec"]},
            "sf": args.n, "cpus": cpus,
            "bench_docs": res["bench_docs"],
            "contaminated": res["contaminated"], "lm_rows": res["lm_rows"],
            "bloom_build_sec": res["bloom_build_sec"],
            "bloom_probe_sec": res["bloom_probe_sec"],
            "bloom_flagged": res["bloom_flagged"],
            "docs_per_sec": round(args.n / total, 1),
        })
        spark.stop()
        return

    if args.job == "pipeline4_scale":
        res = job_pipeline4_scale(spark, args.n)
        total = res["dup_span_sec"] + res["quantize_sec"] + res["areal_sec"]
        emit({
            "metric": "round4_ops_scale",
            "value": round(total, 3), "unit": "sec",
            "queries": {"dup_span": res["dup_span_sec"],
                        "quantize_int8": res["quantize_sec"],
                        "areal_interp": res["areal_sec"]},
            "sf": args.n, "cpus": cpus,
            "dup_docs": res["dup_docs"],
            "saturated_lanes": res["saturated_lanes"],
            "areal_targets": res["areal_targets"],
            "rows_per_sec": round(args.n / total, 1),
        })
        spark.stop()
        return

    if args.job == "pipeline4c_scale":
        res = job_pipeline4c_scale(spark, args.n)
        total = (res["pack_sec"] + res["gopher_sec"] + res["postings_sec"]
                 + res["span_removal_sec"])
        emit({
            "metric": "round4c_ops_scale",
            "value": round(total, 3), "unit": "sec",
            "queries": {"pack_sequences": res["pack_sec"],
                        "gopher_rules": res["gopher_sec"],
                        "postings_sample": res["postings_sec"],
                        "span_removal": res["span_removal_sec"]},
            "sf": args.n, "cpus": cpus,
            "pack_slices": res["pack_slices"],
            "gopher_kept": res["gopher_kept"],
            "postings_tokens": res["postings_tokens"],
            "docs_touched": res["docs_touched"],
            "docs_per_sec": round(args.n / total, 1),
        })
        spark.stop()
        return

    if args.job == "round5_scale":
        res = job_round5_scale(spark, args.n)
        total = (res["dsir_sec"] + res["repetition_sec"] + res["mix_sec"]
                 + res["semdedup_sec"])
        emit({
            "metric": "round5_ops_scale",
            "value": round(total, 3), "unit": "sec",
            "queries": {"dsir_weights": res["dsir_sec"],
                        "repetition_stats": res["repetition_sec"],
                        "mix_select": res["mix_sec"],
                        "semantic_dedup": res["semdedup_sec"]},
            "sf": args.n, "cpus": cpus,
            "mix_rows": res["mix_rows"],
            "semdedup_dups": res["semdedup_dups"],
            "docs_per_sec": round(args.n / total, 1),
        })
        spark.stop()
        return

    if args.job == "late5_scale":
        res = job_late5_scale(spark, args.n)
        total = (res["lsh_join_sec"] + res["links_sec"]
                 + res["bottomk_sec"] + res["cms_sec"])
        emit({
            "metric": "late5_ops_scale",
            "value": round(total, 3), "unit": "sec",
            "queries": {"lsh_join": res["lsh_join_sec"],
                        "extract_links": res["links_sec"],
                        "bottomk_sample": res["bottomk_sec"],
                        "cms_counters": res["cms_sec"]},
            "sf": args.n, "cpus": cpus,
            "cross_pairs": res["cross_pairs"], "links": res["links"],
            "docs_per_sec": round(args.n / total, 1),
        })
        spark.stop()
        return

    if args.job == "geo5_scale":
        res = job_geo5_scale(spark, args.n)
        total = (res["simplify_sec"] + res["centroids_sec"]
                 + res["dissolve_len_sec"] + res["hull_sec"])
        emit({
            "metric": "geo5_ops_scale",
            "value": round(total, 3), "unit": "sec",
            "queries": {"simplify": res["simplify_sec"],
                        "centroids": res["centroids_sec"],
                        "dissolve_length": res["dissolve_len_sec"],
                        "hull": res["hull_sec"]},
            "sf": args.n, "cpus": cpus,
            "features_per_sec": round(args.n / total, 1),
        })
        spark.stop()
        return

    if args.job == "close5_scale":
        res = job_close5_scale(spark, args.n)
        total = (res["trigram_sec"] + res["bpe_sec"]
                 + res["ppjoin_sec"] + res["label_prop_sec"]
                 + res["zorder_sec"] + res["dissolve_sec"])
        emit({
            "metric": "close5_ops_scale",
            "value": round(total, 3), "unit": "sec",
            "queries": {"trigram": res["trigram_sec"],
                        "bpe": res["bpe_sec"],
                        "ppjoin": res["ppjoin_sec"],
                        "label_prop": res["label_prop_sec"],
                        "zorder": res["zorder_sec"],
                        "dissolve": res["dissolve_sec"]},
            "sf": args.n, "cpus": cpus,
            "ppjoin_pairs": res["ppjoin_pairs"],
            "docs_per_sec": round(args.n / total, 1),
        })
        spark.stop()
        return

    if args.job == "final5_scale":
        res = job_final5_scale(spark, args.n)
        total = (res["winnow_sec"] + res["overlap_sec"] + res["bm25_sec"]
                 + res["triangles_sec"] + res["delta_sec"])
        emit({
            "metric": "final5_ops_scale",
            "value": round(total, 3), "unit": "sec",
            "queries": {"winnow": res["winnow_sec"],
                        "winnow_overlap": res["overlap_sec"],
                        "bm25": res["bm25_sec"],
                        "triangles": res["triangles_sec"],
                        "crawl_delta": res["delta_sec"]},
            "sf": args.n, "cpus": cpus,
            "fingerprints": res["fingerprints"],
            "overlap_pairs": res["overlap_pairs"],
            "tri_sum": res["tri_sum"],
            "docs_per_sec": round(args.n / total, 1),
        })
        spark.stop()
        return

    if args.job == "temporal_skew":
        res = job_temporal_skew(spark, args.n, args.n_cluster)
        emit({
            "metric": "temporal_distance_skew_salting",
            "value": round(res["interval_salted"] + res["distance_salted"], 3),
            "unit": "sec",
            "queries": {k: res[k] for k in
                        ("interval_unsalted", "interval_salted",
                         "distance_unsalted", "distance_salted")},
            "sf": args.n, "cpus": cpus,
            "cluster": res["cluster"],
            "interval_rows": res["interval_salted_rows"],
            "distance_rows": res["distance_salted_rows"],
            "interval_speedup": round(res["interval_unsalted"]
                                      / max(res["interval_salted"], 1e-9), 2),
            "distance_speedup": round(res["distance_unsalted"]
                                      / max(res["distance_salted"], 1e-9), 2),
        })
        spark.stop()
        return

    if args.job == "curation_scale":
        res = job_curation_scale(spark, args.n)
        total = res["sample_chunk_sec"] + res["pii_sec"] + res["domain_sec"]
        emit({
            "metric": "curation_pipeline_throughput",
            "value": round(total, 3), "unit": "sec",
            "queries": {"sample_chunk": res["sample_chunk_sec"],
                        "pii_stats": res["pii_sec"],
                        "domain_stats": res["domain_sec"]},
            "sf": args.n, "cpus": cpus,
            "chunks": res["chunks"], "pii_rows": res["pii_rows"],
            "domains": res["domains"],
            "docs_per_sec": round(args.n / total, 1),
        })
        spark.stop()
        return

    if args.job == "asof_scale":
        res = job_asof_scale(spark, args.n)
        total = res["asof_sec"] + res["interval_sec"]
        emit({
            "metric": "temporal_join_throughput",
            "value": round(total, 3), "unit": "sec",
            "queries": {"asof_join": res["asof_sec"],
                        "interval_join": res["interval_sec"]},
            "sf": args.n, "cpus": cpus,
            "asof_rows": res["asof_rows"],
            "interval_pairs": res["interval_pairs"],
            "events_per_sec": round(args.n / total, 1),
        })
        spark.stop()
        return

    if args.job == "refine_shapes":
        res = job_refine_shapes(spark, args.n)
        emit({
            "metric": "nonrect_vs_rect_refine_ratio",
            "value": res["hex"], "unit": "sec",
            "queries": {"overlay_rect": res["rect"], "overlay_hex": res["hex"],
                        "overlay_lshape": res["lshape"]},
            "sf": args.n, "cpus": cpus,
            "rect_rows": res["rect_rows"], "hex_rows": res["hex_rows"],
            "lshape_rows": res["lshape_rows"],
            "hex_over_rect": res["ratio"],
            "lshape_over_rect": res["lshape_ratio"],
        })
        spark.stop()
        return

    if args.job == "postings_skew":
        res = job_postings_skew(spark, args.n)
        emit({
            "metric": "postings_zipf_skew",
            "value": res["hot_salted_sec"], "unit": "sec",
            "queries": {"postings_hot_salted": res["hot_salted_sec"],
                        "postings_uniform_salted": res["uniform_salted_sec"],
                        "postings_unsalted": res["unsalted_sec"]},
            "sf": args.n, "cpus": cpus, **res,
        })
        spark.stop()
        return

    if args.job == "overlay_skew":
        res = job_overlay_skew(spark, args.n, args.n_cluster)
        emit({
            "metric": "skew_salting_speedup",
            "value": res["unsalted"], "unit": "sec",
            "queries": {"overlay_skew_unsalted": res["unsalted"],
                        "overlay_skew_salted": res["salted"]},
            "sf": args.n, "n_cluster": args.n_cluster, "cpus": cpus,
            "rows": res["unsalted_rows"],
            "speedup": round(res["unsalted"] / res["salted"], 2),
        })
        spark.stop()
        return

    if args.job == "overlay_scale":
        phases: dict = {}
        t0 = time.perf_counter()
        inter_rows, tile_rows = job_overlay_scale(spark, args.n, phases)
        dt = time.perf_counter() - t0
        emit({
            "metric": "intersection_rows_plus_tile_assignments_per_sec",
            "value": round(dt, 3), "unit": "sec",
            "queries": {"overlay_scale": round(dt, 3)},
            "phases": phases,
            "sf": args.n, "cpus": cpus,
            "intersection_rows": inter_rows, "tile_assignments": tile_rows,
            "throughput_rows_per_sec": round((inter_rows + tile_rows) / dt, 1),
        })
        spark.stop()
        return

    _warmup(spark)
    _warmup_queries(spark, sf_dir)
    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    # Repetitions run as FULL PASSES over the suite (pass 1 all queries,
    # pass 2 all queries) rather than back-to-back per query: this VM's
    # noise arrives as multi-minute host-steal windows, and a stage-
    # barrier-heavy query (minhash_lsh is ~8 sequential stages) degrades
    # 4-6x inside one — one straggling core drags every barrier.  Two
    # consecutive runs share the window; two passes minutes apart
    # usually don't, so the per-query min recovers steady state.
    # Headline forcing is a noop WRITE (r4 verdict #3): a bare count()
    # lets Catalyst prune benchmarked columns for narrow plans, which
    # understates materialization cost (the interval-join salting win
    # was invisible under count() for exactly this reason, BASELINE.md).
    # --force count reproduces the pre-round-5 numbers; the measured
    # count-vs-noop delta is recorded in BASELINE.md "round-5 re-anchor".
    forcer = _force if args.force == "noop" else (lambda df: df.count())
    st0 = _cpu_steal()
    for _ in range(max(1, args.runs)):
        for name, fn in HEADLINE.items():
            t0 = time.perf_counter()
            forcer(fn(spark, sf_dir))
            dt = round(time.perf_counter() - t0, 3)
            times[name] = dt if name not in times else min(times[name], dt)
    st1 = _cpu_steal()
    # rows pass (UNTIMED): the driver JSON reports per-query row counts
    # and the core-throughput denominator needs them; counting after the
    # timed passes keeps pruning shortcuts out of the timings
    for name, fn in HEADLINE.items():
        rows[name] = fn(spark, sf_dir).count()
    steal_pct = (round(100.0 * (st1[1] - st0[1]) / max(1, st1[0] - st0[0]), 2)
                 if st0 and st1 else None)
    burn_steal = _burn_steal_calibration(cpus)

    total = round(sum(times.values()), 3)
    core_rows = rows["overlay_intersect"] + rows["tile_assignments"]
    core_sec = times["overlay_intersect"] + times["tile_assignments"]
    print(json.dumps({
        "metric": "intersection_rows_plus_tile_assignments_per_sec",
        "value": total, "unit": "sec",
        "queries": times,
        "sf": _sf_of(sf_dir), "cpus": cpus,
        "rows": rows,
        "throughput_rows_per_sec": round(core_rows / core_sec, 1) if core_sec else None,
        "host_steal_pct": steal_pct,
        "host_steal_under_burn_pct": burn_steal,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
