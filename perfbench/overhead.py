"""Tracing overhead: traced ``trace.wall_s`` minus untraced ``wall_s``.

Run from the root of a kgap-spark checkout:

    python3 perfbench/overhead.py --seed 1 --seconds 15 [--workload kg_bulk ...]

Runs each workload once with ``--trace 0`` and once with ``--trace 1`` on
the same seed and prints one JSON line per workload.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def metrics(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True, check=True, timeout=900)
    return json.loads(p.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    args = ap.parse_args()
    for w in args.workload or WORKLOADS:
        plain = metrics(w, args.seed, args.seconds, 0)["wall_s"]["value"]
        traced = metrics(w, args.seed, args.seconds, 1)["trace.wall_s"]["value"]
        print(json.dumps({"workload": w, "seed": args.seed, "wall_s": plain,
                          "trace.wall_s": traced, "overhead_s": traced - plain}),
              flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
