#!/usr/bin/env python3
"""The benchmark's own test.

    python3 graftbench/test_bench.py

Runs each workload twice at the tiny size, once untraced and once
traced, and checks that:
  - both runs finish with no failed op (which includes each op's
    fingerprint against the graft.SparkEntry query making the same
    call, and the as-of join's two routes against each other);
  - the two runs give every op the same fingerprint;
  - the traced run reports every per-layer metric.
It also checks that an inherited graft setting makes the benchmark
refuse to start, naming the setting.
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tick_labels", "corpus_dedup", "corpus_ingest")
SEED = 7


def run(workload, trace, env=None):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny", "--entry-check", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, env=env)
    return p.returncode, p.stdout, p.stderr


def details(workload, trace):
    path = os.path.join(HERE, "work", "results", f"{workload}-tiny-seed{SEED}-trace{trace}.json")
    with open(path) as fh:
        return json.load(fh)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in WORKLOADS:
        before = len(problems)
        fps = []
        for trace in (0, 1):
            rc, out, err = run(w, trace)
            if rc != 0:
                problems.append(f"{w} trace {trace}: exit {rc}\n{err[-2000:]}")
                continue
            last = json.loads(out.strip().splitlines()[-1])
            if set(last) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w} trace {trace}: result keys {sorted(last)}")
            if not last["correct"] or last["failed"] != 0 or last["attempted"] < 1:
                problems.append(f"{w} trace {trace}: {details(w, trace)['failures']}")
            wanted = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
            if list(last["metrics"]) != wanted:
                problems.append(f"{w} trace {trace}: metrics {list(last['metrics'])}")
            if trace == 0 and len(out.strip().splitlines()[-1]) > 2000:
                problems.append(f"{w}: end-to-end result line longer than 2000 characters")
            fps.append(details(w, trace)["fingerprints"])
        if len(fps) == 2 and fps[0] != fps[1]:
            problems.append(f"{w}: fingerprints differ between runs: {fps}")
        print(f"{w}: {'ok' if len(problems) == before else 'FAILED'}", flush=True)

    env = dict(os.environ, GRAFT_TB_JOINCORE="1")
    rc, out, err = run("tick_labels", 0, env)
    if rc == 0 or out.strip() or "GRAFT_TB_JOINCORE" not in err:
        problems.append(f"graft setting not refused: exit {rc}, stdout {out!r}")

    for p in problems:
        print("FAIL", p)
    print("PASS" if not problems else f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
