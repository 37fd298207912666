#!/usr/bin/env python3
"""Run one workload once per seed and print, for each end-to-end
metric, its median, quartiles and spread (inter-quartile distance ÷
median, quartiles as ``statistics.quantiles(values, n=4)``): the
steadiness check for a change to the benchmark, and each side of a
parent-versus-change comparison.

    python3 perfbench/spread.py --workload headline --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import reducers

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--seconds", default="10")
    args = ap.parse_args()
    first, last = (int(x) for x in args.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(first, last + 1):
        t0 = time.perf_counter()
        p = subprocess.run([sys.executable, RUN, "--workload", args.workload,
                            "--seed", str(seed), "--seconds", args.seconds,
                            "--trace", "0"], capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {time.perf_counter() - t0:.1f} s wall, "
              + ", ".join(f"{k}={m['value']:.3f}"
                          for k, m in res["metrics"].items()), flush=True)
    for name, xs in values.items():
        q1, q2, q3 = reducers.quartiles(xs)
        print(f"{name:12s} median {q2:.4f}  q1 {q1:.4f}  q3 {q3:.4f}  "
              f"spread {reducers.spread(xs):.4f}  n={len(xs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
