#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {backlog,queries} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Builds the seeded inputs (cached under
``.bench_work/``), starts one local Spark JVM on nproc-1 task slots, warms
it, measures the workload for ``--seconds``, checks the outputs, and prints
as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones.
A diagnostics line (sample counts, per-call times, host load and steal)
precedes it. The process exits non-zero, printing no result, when the
engine package is not importable.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import fcntl  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170.0  # the run must end within 180 s; a stuck run is killed
DRIVER_MEMORY = "3g"  # the box has 15 GB; the engine's own default is 48g


def _kill_tree_and_exit() -> None:
    import hoststats

    print("perfbench: deadline reached, killing the run", file=sys.stderr, flush=True)
    hoststats.reap_descendants(grace_s=0.0)
    os._exit(3)


def _environment() -> None:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Python workers are started by the JVM and import the engine from here
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + HERE
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    sys.path[:0] = [ROOT]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "distributed_classification_system_spark", "__init__.py")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    _environment()
    import hoststats
    import stats
    import traced
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    watchdog = threading.Timer(DEADLINE_S - (time.perf_counter() - T_START), _kill_tree_and_exit)
    watchdog.daemon = True
    watchdog.start()

    # one JVM on the box at a time: runs from this checkout queue here
    with open(os.path.join(WORK, "jvm.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        run = workloads.Run(WORK, args.workload, args.seed, args.seconds, T_START)
        run.rss.start()
        try:
            if args.trace:
                res = traced.traced(run)
            else:
                res = workloads.WORKLOADS[args.workload](run)
        finally:
            run.rss.stop()
            run.close()
    watchdog.cancel()

    host1 = hoststats.host_snapshot()
    metrics = dict(res["metrics"]) if args.trace else dict(res["e2e"])
    if not args.trace:
        metrics["peak_rss_mb"] = run.rss.peak["total"]
    units = traced.UNITS if args.trace else workloads.E2E_UNITS
    diag = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": workloads.CPUS, "nproc": run.host0["nproc"],
        "loadavg_start": run.host0["loadavg"], "loadavg_end": host1["loadavg"],
        "steal_s": host1["steal_s"] - run.host0["steal_s"],
        "wall_s": time.perf_counter() - T_START, "gen_s": run.gen_s,
        "rss_peak_mb": run.rss.peak, "rss_samples": run.rss.samples,
        "failed_frac": stats.failed_frac(run.attempted, run.failed),
        "problems": run.problems, **res["diag"],
        "span_self_s": stats.self_times(run.spans),
    }
    # spans stay in memory during the run and are written out at its end
    spans_path = os.path.join(WORK, "spans", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    with open(spans_path, "w") as f:
        json.dump([{**s, "start": s["start"] - T_START, "end": s["end"] - T_START} for s in run.spans], f)
    diag["spans_file"] = os.path.relpath(spans_path, ROOT)
    print("perfbench-diag " + json.dumps(diag, default=str), flush=True)
    out = {
        "correct": run.failed == 0 and not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
