"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload overlay_pages --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The session is sized to the host
(``SPARK_GRAFT_CPUS`` = usable cores, a heap of a quarter of memory up
to 2 GiB) through the env vars ``pandarus_spark.session`` reads, and
every file Spark writes goes under ``.perfbench/`` in the checkout.

One client runs a closed loop: one job at a time, the next starting only
after the previous one finished and was checked.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the workload staged and
reports the per-layer metrics, and writes its spans to
``.perfbench/trace-<workload>-<seed>.json``.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the run context (cores, heap, versions, seed, host steal).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PREPARE_ROUNDS = 3  # input generation repeats; setup_s takes their median


def declared(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``kind`` ("end_to_end" or "per_layer"), as
    BENCHMARK.json at the checkout root declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def configure_env() -> dict:
    """Session sizing and temporary-file locations, set before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    heap_mb = min(2048, mem_mb // 4)
    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    # C1 only: C2 needs 40 s or more of a 4-core host to reach steady
    # state, so a short run would time the JIT's warm-up slope instead of
    # the program (jobs 30 % slower and twice the CPU at first).  The cost
    # is a JVM slower than the deployed one, which biases JVM-vs-Python
    # comparisons (README.md, "JIT")
    java_opts = f"-XX:TieredStopAtLevel=1 -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": java_opts,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
            "pyspark-shell"]),
    })
    return {"cpus": cpus, "heap_mb": heap_mb, "mem_mb": mem_mb, "work_dir": work}


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for every process we started.

    The gateway is dropped from ``SparkContext`` too, so a later session
    in the same process starts a new JVM instead of reusing a dead one."""
    from pyspark import SparkContext

    from perfbench.probes import process_tree
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        left = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


class Ops:
    """Attempted / failed job counts; a job that raises or fails its
    check is a failure."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def run(self, wl):
        """Run one job, check it; returns (seconds, output or None)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = wl.job()
        except Exception:
            self.failed += 1
            self.problems.append(traceback.format_exc(limit=3))
            return time.perf_counter() - t0, None
        dt = time.perf_counter() - t0
        bad = wl.check(out)
        if bad:
            self.failed += 1
            self.problems.extend(bad)
        return dt, out


# A job during which host steal (time the hypervisor gave the VM's CPUs
# to other guests) exceeded this share measures the neighbours: on four
# busy cores, 10 % steal stretched jobs by 30-50 %.
MAX_STEAL_PCT = 5.0


def timed_loop(wl, ops: Ops, seconds: float) -> dict:
    """Jobs until ``seconds`` have passed; metrics are medians over the
    jobs that saw at most MAX_STEAL_PCT steal (over all if none did)."""
    from perfbench.probes import RssSampler, cpu_steal, steal_pct, tree_cpu
    pid = os.getpid()
    jobs = []
    st0 = cpu_steal()
    with RssSampler(pid) as rss:
        rss.take()
        start = time.perf_counter()
        while True:
            s0, c0 = cpu_steal(), tree_cpu(pid)
            dt, out = ops.run(wl)
            jobs.append({"s": dt, "ok": out is not None, "cpu": tree_cpu(pid) - c0,
                         "rss": rss.take(), "steal": steal_pct(s0, cpu_steal()) or 0.0,
                         "rows": wl.work_rows(out) if out is not None else 0})
            if time.perf_counter() - start >= seconds:
                break
    # jobs that raised still report a (meaningless) time rather than NaN,
    # which is not valid JSON; the run is marked incorrect either way
    ok = [j for j in jobs if j["ok"]]
    use = [j for j in ok if j["steal"] <= MAX_STEAL_PCT] or ok or jobs

    def med(key: str) -> float:
        return statistics.median(j[key] for j in use)

    job_s = med("s")
    return {"metrics": {
        "job_s": job_s,
        "rows_per_s": med("rows") / job_s,
        "cpu_s": med("cpu"),
        "peak_rss_mb": med("rss"),
    }, "jobs": len(use), "job_times": [j["s"] for j in jobs],
        "job_steal_pct": [j["steal"] for j in jobs],
        "host_steal_pct": steal_pct(st0, cpu_steal())}


def traced_run(wl, spark, ops: Ops, seconds: float, tr, setup: dict) -> dict:
    """Untraced and traced fused jobs in alternation, then the staged
    run and the in-process geometry timings."""
    from perfbench.probes import SparkCounters, cpu_by_role, cpu_steal, steal_pct
    from perfbench.workloads import geometry_rates
    pid = os.getpid()
    counters = SparkCounters(spark)
    plain, traced, samples = [], [], []
    st0 = cpu_steal()
    deadline = time.perf_counter() + seconds
    while not plain or time.perf_counter() < deadline:
        dt, _ = ops.run(wl)
        plain.append(dt)
        with tr.span("job.fused") as sp:
            mark = counters.mark()
            c0 = cpu_by_role(pid)
            ops.run(wl)
            c1 = cpu_by_role(pid)
            stats = counters.collect(mark)
        traced.append(sp["end"] - sp["start"])
        samples.append({**stats, **{f"proc.{k}_cpu_s": c1[k] - c0[k] for k in c0}})
    with tr.span("job.staged") as root:
        staged = wl.staged(tr)
    staged.update(wl.diagnostics(tr))
    rings = wl.rings()
    m = dict.fromkeys(declared("per_layer"), 0.0)
    m.update({k: statistics.median(s[k] for s in samples) for k in samples[0]})
    m.update(staged)
    if rings is not None:
        m.update(geometry_rates(rings))
    spans = {
        "pages.extract_s": "pages.extract", "tiling.cover_s": "tiling.cover",
        "intersect.candidates_s": "intersect.candidates",
        "intersect.enrich_s": "intersect.enrich", "intersect.refine_s": "intersect.refine",
        "raster_stats.cells_s": "raster_stats.cells", "raster_stats.stats_s": "raster_stats.stats",
        "dedup.signatures_s": "dedup.signatures", "dedup.pairs_s": "dedup.pairs",
        "dedup.clusters_s": "dedup.clusters",
    }
    m.update({k: tr.total(v) for k, v in spans.items()})
    m["session.build_s"] = setup["build_s"]
    m["session.warmup_s"] = setup["warmup_s"]
    m["trace.job_s"] = statistics.median(plain)
    m["trace.staged_s"] = tr.duration(root["id"])
    m["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    return {"metrics": m, "jobs": len(plain) + len(traced), "job_times": plain,
            "host_steal_pct": steal_pct(st0, cpu_steal())}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    ctx = configure_env()
    sys.path.insert(0, ROOT)
    import pyspark

    from pandarus_spark.session import build_session
    from perfbench import workloads as W
    from perfbench.tracing import Tracer
    if args.workload not in W.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")

    tr = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    setup = {}
    with tr.span("session.build") as sp:
        spark = build_session(app=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
    setup["build_s"] = sp["end"] - sp["start"]
    try:
        wl = W.WORKLOADS[args.workload](spark, args.seed)
        prep = []
        for _ in range(PREPARE_ROUNDS):
            with tr.span("inputs.prepare") as sp:
                wl.prepare()
            prep.append(sp["end"] - sp["start"])
        setup["inputs_s"] = statistics.median(prep)
        ops = Ops()
        # the first job is the warm-up (Python worker start and imports,
        # codegen): checked, but not timed as a job
        with tr.span("session.warmup") as sp:
            ops.run(wl)
        setup["warmup_s"] = sp["end"] - sp["start"]
        if args.trace:
            res = traced_run(wl, spark, ops, args.seconds, tr, setup)
            tr.write(os.path.join(ctx["work_dir"], f"trace-{args.workload}-{args.seed}.json"))
        else:
            res = timed_loop(wl, ops, args.seconds)
            res["metrics"]["setup_s"] = (setup["build_s"] + setup["warmup_s"]
                                         + setup["inputs_s"])
        wl.release()
    finally:
        stop_session(spark)

    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": ctx["cpus"],
        "heap_mb": ctx["heap_mb"], "mem_mb": ctx["mem_mb"], "pyspark": pyspark.__version__,
        "python": sys.version.split()[0], "jobs_used": res["jobs"],
        "job_times": res["job_times"], "job_steal_pct": res.get("job_steal_pct"),
        "host_steal_pct": res["host_steal_pct"], "setup": setup,
        "problems": ops.problems[:5],
    }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": ops.failed == 0, "attempted": ops.attempted, "failed": ops.failed,
        "metrics": {k: {"value": res["metrics"][k], "unit": u}
                    for k, u in declared("per_layer" if args.trace else "end_to_end").items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
