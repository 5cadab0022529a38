"""Self-test of the benchmark at the ``tiny`` fixture scale.

Run from the root of a kgap-spark checkout:

    python3 perfbench/selftest.py [--workload kg_bulk ...]

For each workload it checks that an untraced run prints exactly the
end-to-end metrics of BENCHMARK.json and a traced run exactly the
per-layer ones, each with its unit, and that both pass the correctness
gate; then that a run with one corrupted output (one dropped triple, or
one dropped query row) fails the gate. Last, it checks that the benchmark
exits non-zero, printing no result, in a directory without kgap_spark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402

PERTURB = {"kg_bulk": "drop_triple", "kg_resume": "drop_triple",
           "kg_query": "wrong_row"}


def bench(cwd: str, workload: str, *extra: str) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "1",
           "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    last = p.stdout.strip().splitlines()[-1:] or [""]
    try:
        result = json.loads(last[0])
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stderr


def check_metrics(result: dict, spec: list[dict]) -> list[str]:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    errs = [f"missing {k}" for k in want if k not in got]
    errs += [f"unexpected {k}" for k in got if k not in want]
    errs += [f"{k}: unit {got[k]} != {u}" for k, u in want.items()
             if k in got and got[k] != u]
    errs += [f"{k}: not a number" for k, v in result["metrics"].items()
             if not isinstance(v["value"], (int, float))]
    return errs


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    args = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in args.workload or WORKLOADS:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            rc, res, err = bench(root, w, "--trace", trace)
            expect(rc == 0 and res is not None, f"{w} trace={trace} runs")
            if res is None:
                print(err[-3000:], file=sys.stderr)
                continue
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace={trace} passes the gate")
            errs = check_metrics(res, spec[key])
            expect(not errs, f"{w} trace={trace} prints every {key} metric {errs}")
        rc, res, _ = bench(root, w, "--perturb", PERTURB[w])
        expect(rc == 0 and res is not None and not res["correct"]
               and res["failed"] >= 1, f"{w} {PERTURB[w]} fails the gate")

    bare = os.path.join(root, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    try:
        rc, res, _ = bench(bare, WORKLOADS[0])
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and res is None, "exits non-zero without kgap_spark")

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
