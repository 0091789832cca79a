#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports, per workload and
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median
of the per-run values, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --seeds 1-10 [--workloads ingest,join_dedup]
        [--trace 0]

Run from the repository root. Each run's result line is kept under
.bench_build/results/ by run.py.
"""

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from stats import median, spread  # noqa: E402


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    first, last = (int(x) for x in a.seeds.split("-"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workloads.split(","):
        values, failures = {}, 0
        for seed in range(first, last + 1):
            out = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", str(a.trace)],
                capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                failures += 1
                print(f"{w} seed {seed}: exit {out.returncode}", file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            failures += 0 if res["correct"] else 1
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"{w}: {last - first + 1} runs, {failures} not correct")
        for k, vs in values.items():
            bound = bounds.get(k)
            flag = "" if bound is None or spread(vs) < bound / 3 else "  <-- above bound/3"
            print(f"  {k:28s} median {median(vs):12.4f}  spread {spread(vs):.4f}"
                  f"  bound {bound}{flag}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
