"""SparkSession helpers with the engine's recommended configuration.

No module-level SparkSession (spark-submit --py-files friendly)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# directory holding pandarus_spark/ and the pandarus_workerd daemon module
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def engine_sql_confs(cluster: bool, shuffle_partitions: int) -> dict:
    """The engine's recommended runtime configuration, as a dict.

    Every key is a ``spark.sql.*`` conf (runtime-settable), so a
    spark-submit driver that did NOT create its session through
    :func:`build_session` can still adopt the tuned plan shape after
    ``getOrCreate()`` — see :func:`apply_engine_confs`.  The rationale
    for each value lives in the :func:`build_session` comments; the two
    functions share this dict so they can never drift."""
    confs = {
        # dim-sized tables (feature covers, label maps) should broadcast;
        # local broadcasts are in-process references (free) -> generous 1g,
        # cluster executors pay a network copy -> 64m
        "spark.sql.autoBroadcastJoinThreshold":
            os.environ.get("SPARK_GRAFT_BROADCAST_THRESHOLD",
                           "64m" if cluster else "1g"),
        # shuffled-HASH over sort-merge when the build side fits: the
        # overlay's geometry join-backs skip sorting the candidate
        # stream twice (83 s -> 62 s at 3.2M pages/side)
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # big exploded-token shuffles spill at one wave: start at 8 waves
        # and let AQE coalesce back (postings 103.9 -> 34.6 s)
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum":
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS",
                           str(shuffle_partitions * 8)),
        "spark.sql.session.timeZone":
            os.environ.get("SPARK_GRAFT_TIMEZONE", "UTC"),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    }
    # 64MB advisory reduce partitions are sized for JVM per-byte
    # costs; Arrow/pandas refine stages cost several x more per
    # byte, so reduce stages feeding them need smaller partitions
    # (overlay intersect phase 54.3 -> 20.4 s, BASELINE.md round-5
    # standalone sweep).  Local mode usually broadcasts its feature
    # tables (refine stays map-side), but keeps the same knob for
    # broadcast-disabled runs and beyond-threshold inputs.
    default_advisory = "16m" if cluster else "64m"
    confs["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = \
        os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", default_advisory)
    return confs


def apply_engine_confs(spark: SparkSession,
                       shuffle_partitions: int | None = None) -> dict:
    """Set the engine's runtime confs on an EXISTING session.

    For spark-submit drivers (``tools/submit_overlay_job.py``): the
    master, executor sizing, and ``--py-files`` distribution belong to
    the spark-submit command line, but the engine's plan-shape confs
    (broadcast threshold, AQE widening, Arrow batching, the cluster
    advisory-partition fix) are runtime-settable and should not depend
    on which factory built the session.  Shuffle width defaults to the
    cluster's ``defaultParallelism`` (total granted cores), matching
    :func:`build_session`'s cores-derived default.  Returns the dict it
    applied."""
    cluster = spark.sparkContext.master.startswith("spark://")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS",
                           spark.sparkContext.defaultParallelism))
    confs = engine_sql_confs(cluster, shuffle_partitions)
    for k, v in confs.items():
        spark.conf.set(k, v)
    return confs


def default_local_heap(total_bytes: int | None = None) -> str:
    """Driver heap for a ``local[N]`` session when
    ``SPARK_GRAFT_DRIVER_MEM`` is unset: half the physical memory,
    capped at 48g (the cap is what a 128 GiB host gets).  A fixed 48g
    on a smaller host lets the JVM grow past the memory it has."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 * 1024, total_bytes // 2 // 2**20)}m"


def build_session(app: str = "pandarus-spark", master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    ncpu = int(cpus if str(cpus).isdigit() else 32)
    # default one wave per shuffle (best latency for small/medium jobs);
    # long straggler-prone jobs can ask for more waves via the env knob
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", ncpu))
    cluster = master.startswith("spark://")
    # local[N] runs executors inside the driver JVM; the 1g default heap
    # OOMs real workloads — size it from the env, else from the host's
    # memory.  Against a standalone cluster the executors hold the data.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                "8g" if cluster else default_local_heap())
    builder = (
        SparkSession.builder.master(master).appName(app)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g"))
    if cluster:
        builder = (builder
                   # cluster-only deploy-time sizing; the cluster
                   # advisory-partition fix for Arrow-refine stages
                   # (54.3 -> 20.4 s, BASELINE.md round-5 sweep) lives
                   # in engine_sql_confs so the spark-submit path gets
                   # the identical value — not duplicated here.
                   .config("spark.executor.cores",
                           os.environ.get("SPARK_GRAFT_EXECUTOR_CORES", "2"))
                   .config("spark.executor.memory",
                           os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "10g"))
                   # total cores cap -> executor count = cores.max / executor.cores
                   .config("spark.cores.max", str(ncpu)))
    # Python workers start from the top-level pandarus_workerd daemon,
    # which imports the installed pyspark instead of pyspark.zip when the
    # versions match (no per-task zip-directory rescans); its directory
    # (the repo root) goes on the workers' path so any cwd finds it.
    # A cluster's workers also need SPARK_GRAFT_PYTHONPATH (default cwd).
    worker_path = [_REPO_ROOT]
    if cluster:
        worker_path.insert(0, os.environ.get("SPARK_GRAFT_PYTHONPATH", os.getcwd()))
    builder = (builder
               .config("spark.python.daemon.module", "pandarus_workerd")
               .config("spark.executorEnv.PYTHONPATH",
                       os.pathsep.join(dict.fromkeys(worker_path))))
    # Plan-shape confs (broadcast threshold: generous 1g local since a
    # broadcast is an in-process reference, 64m on clusters where each
    # executor pays a network copy; shuffled-hash over sort-merge for
    # the overlay join-backs, 83 s -> 62 s; AQE with 8-wave initial
    # shuffle width so big exploded-token shuffles don't spill at one
    # wave, postings 103.9 -> 34.6 s; UTC so Arrow timestamp round-trips
    # are byte-stable across hosts) — shared with spark-submit drivers
    # via engine_sql_confs/apply_engine_confs.
    for k, v in engine_sql_confs(cluster, shuffle_partitions).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
