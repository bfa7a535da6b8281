"""Counters read from outside the program: the process tree in ``/proc``
(CPU time, resident memory, host steal) and Spark's own stage counters
from the UI REST API."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20

RSS_PERIOD_S = 0.1  # RSS sampling period
RSS_RELIST_S = 1.0  # a full /proc scan for new processes, this often
# task max/median is read only on stages big enough for the ratio to
# mean skew rather than scheduling jitter
SKEW_MIN_TASKS = 4
SKEW_MIN_MEDIAN_MS = 20.0


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
    return comm, int(f[1]), cpu


def process_tree(root: int) -> dict[int, tuple[str, int, float]]:
    """Every live process under ``root`` (inclusive) -> (comm, ppid, cpu)."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in tree:
            tree[pid] = procs[pid]
            frontier.extend(p for p, st in procs.items() if st[1] == pid)
    return tree


def cpu_by_role(root: int) -> dict[str, float]:
    """CPU seconds of the tree split into driver / jvm / pyworker.

    The driver is ``root`` itself, the JVM its ``java`` descendant, and
    every process under the JVM (the Python worker daemon and its forked
    workers) counts as pyworker.  Each process contributes its own time
    plus that of children it already reaped, so a worker that exited
    still counts, once, through its parent."""
    tree = process_tree(root)
    jvms = {p for p, st in tree.items() if st[0] == "java"}
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, (comm, ppid, cpu) in tree.items():
        if pid == root:
            out["driver"] += cpu
        elif pid in jvms:
            out["jvm"] += cpu
        else:
            anc, role = ppid, "driver"
            while anc in tree and anc != root:
                if anc in jvms:
                    role = "pyworker"
                    break
                anc = tree[anc][1]
            out[role] += cpu
    return out


def tree_cpu(root: int) -> float:
    return sum(cpu_by_role(root).values())


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            pass
    return total * _PAGE_MB


class RssSampler:
    """Peak resident memory of the process tree, sampled on a thread.

    :meth:`take` returns the peak since the previous call, so a caller
    can read one peak per job.  The tree is re-listed every RSS_RELIST_S;
    in between only the known processes are read."""

    def __init__(self, root: int):
        self.root = root
        self._peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self, pids) -> None:
        mb = rss_mb(pids)
        with self._lock:
            self._peak_mb = max(self._peak_mb, mb)

    def _loop(self) -> None:
        pids, relist_at = [], 0.0
        while not self._stop.is_set():
            if time.monotonic() >= relist_at:
                pids = list(process_tree(self.root))
                relist_at = time.monotonic() + RSS_RELIST_S
            self._sample(pids)
            self._stop.wait(RSS_PERIOD_S)

    def take(self) -> float:
        self._sample(process_tree(self.root))
        with self._lock:
            peak, self._peak_mb = self._peak_mb, 0.0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_steal() -> tuple[int, int] | None:
    """(total, steal) jiffies from /proc/stat; fields past steal (guest,
    guest_nice) are already inside user/nice and are left out."""
    try:
        with open("/proc/stat") as fh:
            vals = list(map(int, fh.readline().split()[1:]))
    except OSError:
        return None
    return sum(vals[:8]), vals[7]


def steal_pct(before, after) -> float | None:
    if not (before and after and after[0] > before[0]):
        return None
    return 100.0 * (after[1] - before[1]) / (after[0] - before[0])


class SparkCounters:
    """Stage counters from the Spark UI REST API, scoped to the stages a
    job submitted after :meth:`mark`."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.tracker = sc.statusTracker()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as resp:
            return json.loads(resp.read())

    def mark(self) -> int:
        return max((s["stageId"] for s in self._get("/stages")), default=-1)

    def _settled_stages(self, after: int) -> list[dict]:
        # the status store is fed by an asynchronous listener: wait until
        # no stage is active and two reads agree
        prev = None
        for _ in range(40):
            stages = [s for s in self._get("/stages") if s["stageId"] > after]
            key = sorted((s["stageId"], s["attemptId"], s["status"]) for s in stages)
            if (key == prev and not self.tracker.getActiveStageIds()
                    and all(s["status"] != "ACTIVE" for s in stages)):
                return stages
            prev = key
            time.sleep(0.05)
        return stages

    def collect(self, after: int) -> dict[str, float]:
        stages = [s for s in self._settled_stages(after) if s["status"] == "COMPLETE"]
        mb = 2.0**20
        out = {
            "spark.stages": float(len(stages)),
            "spark.tasks": float(sum(s["numCompleteTasks"] for s in stages)),
            "spark.shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / mb,
            "spark.shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in stages) / mb,
            "spark.spill_mb": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                                  for s in stages) / mb,
            "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "spark.executor_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
            "spark.executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "spark.fetch_wait_s": sum(s.get("shuffleFetchWaitTime", 0) for s in stages) / 1e3,
        }
        # worst max/median task duration over the stages (1.0 if none)
        worst = 1.0
        for s in stages:
            if s["numCompleteTasks"] < SKEW_MIN_TASKS:
                continue
            q = self._get(f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                          "?quantiles=0.5,1.0").get("duration") or []
            if len(q) == 2 and q[0] >= SKEW_MIN_MEDIAN_MS:
                worst = max(worst, q[1] / q[0])
        out["spark.task_max_over_median"] = worst
        return out
