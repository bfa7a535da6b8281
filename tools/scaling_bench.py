"""North-rule scaling sweep: the same overlay-scale job at N and 4N
parallelism on identical input, reporting throughput at both plus the
scaling efficiency (BASELINE.json north_rule; the sandbox proxy for a
1-executor vs 4-executor cluster — see tools/standalone_cluster.sh for
the real-multi-executor variant).

Usage: python tools/scaling_bench.py [--n 800000] [--low 2] [--high 8]

Runs each leg as a fresh ``bench.py --job overlay_scale`` subprocess
(own JVM, own SPARK_GRAFT_CPUS) and prints one JSON line. Run when
``uptime`` load is low — this VM's external noise is 3-4x (BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = "overlay_scale"


def run_leg(cpus: int, n: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "bench.py"), "--job", JOB,
         "--n", str(n)],
        env=env, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=800_000)
    ap.add_argument("--low", type=int, default=2)
    ap.add_argument("--high", type=int, default=8)
    args = ap.parse_args()
    if args.high != 4 * args.low:
        ap.error("the north rule compares N vs 4N: --high must be 4 x --low")

    lo = run_leg(args.low, args.n)
    hi = run_leg(args.high, args.n)
    eff = (lo["value"] / hi["value"]) / (args.high / args.low)
    payload = {
        "metric": "scaling_efficiency_N_to_4N",
        "value": round(eff, 3),
        "unit": "ratio",
        "queries": {f"{JOB}_local[{args.low}]": lo["value"],
                    f"{JOB}_local[{args.high}]": hi["value"]},
        "sf": args.n,
        "per_query_low": lo.get("queries"),
        "per_query_high": hi.get("queries"),
        "steal_low": lo.get("host_steal_pct"),
        "steal_high": hi.get("host_steal_pct"),
        "passes_north_rule": eff >= 0.8,
        "throughput_low": lo["throughput_rows_per_sec"],
        "throughput_high": hi["throughput_rows_per_sec"],
        "phases_low": lo["phases"],
        "phases_high": hi["phases"],
    }
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
