#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's median and
spread (quartile distance over median), as the acceptance rule for a
benchmark measures it.

    python3 perfbench/spread.py --workload flagship_access --seeds 1-10 \\
        [--seconds 3] [--trace 0] [--out runs.jsonl]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=3)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", help="append each run's result line here")
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=600,
        )
        if proc.returncode:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        if args.out:
            record = next((json.loads(x[len("record: "):]) for x in lines
                           if x.startswith("record: ")), None)
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, **result, "record": record}) + "\n")
        print(f"seed {seed}: correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        print(f"{k:32s} median {med:12.5g}  spread {(q3 - q1) / med if med else 0:6.3f}"
              f"  min {min(xs):.5g}  max {max(xs):.5g}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
