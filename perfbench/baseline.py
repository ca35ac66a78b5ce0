#!/usr/bin/env python3
"""Run the benchmark on several seeds and summarize each metric.

    python3 perfbench/baseline.py --workloads tracts counties network \\
        --seeds 1-10 [--trace 0]

Each run prints its wall time.  For every workload and metric it prints
the median, the quartiles (``statistics.quantiles(values, n=4)``) and
the spread (Q3 - Q1) as a share of the median, next to the metric's
bound from BENCHMARK.json.  Runs go one at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for w in args.workloads:
        values: dict = {}
        for s in seeds(args.seeds):
            cmd = [*bench["command"], "--workload", w, "--seed", str(s),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            t0 = time.perf_counter()
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.perf_counter() - t0
            res = json.loads(out.stdout.strip().splitlines()[-1])
            print(f"{w} seed {s}: wall={wall:.1f}s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                             if k in bounds), flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vals in values.items():
            q1, _, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q3 - q1) / med if med else float("nan")
            if k in bounds or args.trace:
                print(f"  {w} {k}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
                      f"spread {spread:.3f} bound {bounds.get(k)}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
