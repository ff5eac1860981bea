#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 graftbench/spread.py --workload tick_labels --seeds 10 [--first-seed 1]

Runs the benchmark once per seed and reports, for each end-to-end
metric, the median and the distance between the first and third
quartiles as a share of the median, next to the metric's bound in
BENCHMARK.json. Also reports each run's wall time.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    walls = []
    for seed in range(a.first_seed, a.first_seed + a.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: run failed (exit {out.returncode})")
        r = json.loads(lines[-1])
        if not r["correct"] or r["failed"]:
            sys.exit(f"seed {seed}: incorrect result {r}")
        for name, m in r["metrics"].items():
            values[name].append(m["value"])
        print(f"seed {seed}: " + ", ".join(f"{k}={v[-1]:.4g}" for k, v in values.items())
              + f", wall={walls[-1]:.1f}s", flush=True)
    print(f"{a.workload}: wall per run median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"  {m['name']:<20} median {med:10.4f} {m['unit']:<4} "
              f"spread {(q3 - q1) / med:6.3f}  bound {m['bound']}")


if __name__ == "__main__":
    main()
