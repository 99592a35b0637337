#!/usr/bin/env python3
"""Run the benchmark once per seed and report, per metric, the median and
the quartile spread (Q3 - Q1) / median across the runs.

    python3 perfbench/repeat.py --workload backlog --seeds 1-10 [--seconds 10] [--trace 0]

Run from the root of a checkout. Each run is a separate process, one at a
time; the runs' result lines are appended to ``--out`` (JSON lines) when
given, so two commits can be compared run by run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    failed_runs = 0
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            failed_runs += 1
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, v in values.items():
        spread = stats.quartile_spread(v) if len(v) >= 2 and statistics.median(v) else float("nan")
        print(f"{k:40s} n={len(v):2d} median={statistics.median(v):.6g} spread={spread:.4f}")
    return 1 if failed_runs else 0


if __name__ == "__main__":
    sys.exit(main())
