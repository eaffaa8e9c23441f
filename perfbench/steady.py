"""Steadiness check: run one workload k times, each with its own seed,
and print each metric's median, quartiles and spread (the distance
between the quartiles as a share of the median), plus the failed share
of operations per run.

    python3 perfbench/steady.py --workload ingest --runs 10 [--first-seed 1]
        [--seconds 12]

The bounds in BENCHMARK.json are set from what this prints (see the
README's steadiness table).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=common.RUN_SECONDS)
    args = ap.parse_args()
    run_py = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    values: dict[str, list[float]] = {}
    shares = []
    for i in range(args.runs):
        seed = args.first_seed + i
        p = subprocess.run(
            [sys.executable, run_py, "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True, timeout=600,
        )
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-1500:]}")
            return 1
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        ctx = json.loads(lines[-2].removeprefix("context "))
        shares.append(res["failed"] / res["attempted"])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} run_s={ctx['run_s']:.0f} "
              f"steal={ctx['cpu_steal_share']:.2f} " + " ".join(
                  f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print(f"failed share per run: {sorted(set(shares))}")
    print(f"{'metric':32s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:32s} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
