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

Jobs
----
``python bench.py``
    — the headline suite at the sf dir: per-query min over 3 full
      passes, each query forced by a ``noop`` write.
``python bench.py --job overlay_scale --n 250000``
    — the north-rule job: overlay intersect + tiling over n synthetic
      pages per side; tools/scaling_bench.py runs it at two
      ``SPARK_GRAFT_CPUS`` values on identical input.

Both lines carry ``host_steal_pct`` from perfbench's /proc/stat probe.
Per-PR measurement lives in ``perfbench/``.
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
from perfbench.probes import cpu_steal, steal_pct  # noqa: E402

# timed full passes over the headline suite; the per-query MIN across
# passes is reported (steady-state throughput on a shared VM whose
# host-steal windows last minutes and cost 3-6x; passes are minutes
# apart, so one usually lands quiet)
RUNS = 3


def _force(df) -> int:
    """Fully materialize a DataFrame without collecting to the driver.

    ``noop`` write computes every column (no pruning shortcut the way a
    bare count could take for narrow plans); returns -1 (unknown rows).
    """
    df.write.format("noop").mode("overwrite").save()
    return -1


def _round2(x: float | None) -> float | None:
    return None if x is None else round(x, 2)


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

    st0 = cpu_steal()
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
    return _round2(steal_pct(st0, cpu_steal()))


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
    calls vs 6.5-7 s settled, which the per-query min over the timed
    passes would otherwise have to absorb.  Tiny inputs hit the same
    codegen cache entries at negligible cost."""
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

def job_overlay_scale(spark, n: int, phases: dict | None = None) -> tuple[int, int]:
    """The north-rule job: overlay intersect + tiling over n synthetic
    pages per side.  Returns (intersection_rows, tile_assignments)."""
    import pandarus_spark as ps
    from pandarus_spark.sources.pages import features_from_documents

    def mark(key, t0):
        if phases is not None:
            phases[key] = round(time.perf_counter() - t0, 3)
        return time.perf_counter()

    # documents-shaped input of n rows, deterministic, no external data
    docs = spark.range(0, n, 1, 64).select(F.col("id").alias("doc_id"))
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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", default="headline", choices=["headline", "overlay_scale"])
    ap.add_argument("--n", type=int, default=200_000,
                    help="overlay_scale: synthetic pages per side")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if args.job == "overlay_scale":
        # straggler smoothing for the long scale job: 4 waves per shuffle
        os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus * 4))
    spark = build_session(app=f"pandarus-bench-{args.job}")
    spark.sparkContext.setLogLevel("ERROR")

    if args.job == "overlay_scale":
        # the steal canary spans the whole job, so scaling-leg numbers
        # carry their own noise-window context
        st0 = cpu_steal()
        phases: dict = {}
        t0 = time.perf_counter()
        inter_rows, tile_rows = job_overlay_scale(spark, args.n, phases)
        dt = time.perf_counter() - t0
        print(json.dumps({
            "metric": "intersection_rows_plus_tile_assignments_per_sec",
            "value": round(dt, 3), "unit": "sec",
            "queries": {"overlay_scale": round(dt, 3)},
            "phases": phases,
            "sf": args.n, "cpus": cpus,
            "intersection_rows": inter_rows, "tile_assignments": tile_rows,
            "throughput_rows_per_sec": round((inter_rows + tile_rows) / dt, 1),
            "host_steal_pct": _round2(steal_pct(st0, cpu_steal())),
        }))
        spark.stop()
        return

    _warmup(spark)
    _warmup_queries(spark, sf_dir)
    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    # Repetitions run as FULL PASSES over the suite (pass 1 all queries,
    # pass 2 all queries, ...) rather than back-to-back per query: this
    # VM's noise arrives as multi-minute host-steal windows, and a stage-
    # barrier-heavy query (minhash_lsh is ~8 sequential stages) degrades
    # 4-6x inside one — one straggling core drags every barrier.  Two
    # consecutive runs share the window; passes minutes apart usually
    # don't, so the per-query min recovers steady state.
    # Headline forcing is a noop WRITE (r4 verdict #3): a bare count()
    # lets Catalyst prune benchmarked columns for narrow plans, which
    # understates materialization cost (the interval-join salting win
    # was invisible under count() for exactly this reason, BASELINE.md
    # "round-5 re-anchor" records the count-vs-noop delta).
    st0 = cpu_steal()
    for _ in range(RUNS):
        for name, fn in HEADLINE.items():
            t0 = time.perf_counter()
            _force(fn(spark, sf_dir))
            dt = round(time.perf_counter() - t0, 3)
            times[name] = dt if name not in times else min(times[name], dt)
    steal = steal_pct(st0, cpu_steal())
    # rows pass (UNTIMED): the driver JSON reports per-query row counts
    # and the core-throughput denominator needs them; counting after the
    # timed passes keeps pruning shortcuts out of the timings
    for name, fn in HEADLINE.items():
        rows[name] = fn(spark, sf_dir).count()
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
        "host_steal_pct": _round2(steal),
        "host_steal_under_burn_pct": burn_steal,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
