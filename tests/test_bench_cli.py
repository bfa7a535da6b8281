"""The bench.py <-> tools/scaling_bench.py contract.

scaling_bench.py runs ``bench.py --job overlay_scale`` once per leg and
reads keys off its last stdout line; these tests pin those keys and the
two-job CLI surface.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_overlay_scale_line_has_the_keys_scaling_bench_reads():
    # a second, small JVM next to the test session's: 2 cores, 1g heap
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--job", "overlay_scale",
         "--n", "4096"],
        env=env, capture_output=True, text=True, cwd=REPO, timeout=900)
    assert out.returncode == 0, out.stderr[-4000:]
    line = json.loads(out.stdout.strip().splitlines()[-1])
    for key in ("value", "queries", "host_steal_pct", "throughput_rows_per_sec", "phases"):
        assert key in line, key
    assert set(line["phases"]) == {"extract", "intersect", "tiles"}
    assert line["intersection_rows"] > 0
    assert line["tile_assignments"] > 0
    assert line["sf"] == 4096 and line["cpus"] == 2


def test_bench_help_lists_only_the_two_jobs():
    out = subprocess.run([sys.executable, os.path.join(REPO, "bench.py"), "--help"],
                         capture_output=True, text=True, cwd=REPO, timeout=120)
    assert out.returncode == 0, out.stderr
    assert "{headline,overlay_scale}" in out.stdout


def test_scaling_bench_rejects_a_non_4x_sweep():
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "scaling_bench.py"),
         "--low", "1", "--high", "3"],
        capture_output=True, text=True, cwd=REPO, timeout=120)
    assert out.returncode == 2
    assert "4 x --low" in out.stderr
