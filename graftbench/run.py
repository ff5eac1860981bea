#!/usr/bin/env python3
"""graft's benchmark launcher.

    python3 graftbench/run.py --workload tick_labels --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark program from the checkout's sources with
sbt (once; later runs reuse the build while no source changed), starts
one fresh JVM for the run, and prints the result as the last line of
stdout: compact JSON with `correct`, `attempted`, `failed` and
`metrics`. With `--trace 0` the metrics are the end-to-end ones listed
in BENCHMARK.json, with `--trace 1` the per-layer ones. Everything else
the run measured (census, fingerprints, failures, ingest batch
statistics, spans) goes to graftbench/work/results/.

The JVM is launched directly rather than through `sbt run`, whose
forked output comes back prefixed with `[info]`.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_DIR = os.path.join(HERE, "jvm")
WORK = os.path.join(HERE, "work")
LAUNCH = os.path.join(JVM_DIR, "target", "launch.txt")
STAMP = os.path.join(JVM_DIR, "target", "launch.stamp")
EXPECTED = os.path.join(HERE, "expected_fingerprints.json")
WORKLOADS = ("tick_labels", "corpus_dedup", "corpus_ingest")
HEAP = "2g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code):
    log(msg)
    sys.exit(code)


def graft_settings(env):
    """Names of graft settings inherited from the environment."""
    found = sorted(k for k in env if k.startswith(("GRAFT_", "SPARK_GRAFT_")))
    for var in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS", "SBT_OPTS"):
        for opt in env.get(var, "").split():
            if opt.startswith("-Dspark.graft."):
                found.append(opt[2:].split("=")[0])
    return found


def build_inputs():
    """Every file the build reads: graft's build definition and main
    sources, and the benchmark program's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(JVM_DIR, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(JVM_DIR, "project")):
        if os.path.isdir(proj):
            files += [os.path.join(proj, n) for n in os.listdir(proj)
                      if n.endswith((".sbt", ".scala", ".properties"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(JVM_DIR, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole
    group (sbt and java children included) and waits for it."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def build():
    want = stamp()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP) and open(STAMP).read() == want:
        return
    os.makedirs(WORK, exist_ok=True)
    build_log = os.path.join(WORK, "build.log")
    log("building graft and the benchmark program with sbt")
    t0 = time.time()
    with open(build_log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "bench/writeLaunch"],
                       BUILD_TIMEOUT_S, cwd=JVM_DIR, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.isfile(LAUNCH):
        sys.stderr.write(tail(build_log))
        die(f"build failed (exit {rc}); log: {build_log}", 3)
    with open(STAMP, "w") as fh:
        fh.write(want)
    log(f"built in {time.time() - t0:.1f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("standard", "tiny"), default="standard")
    ap.add_argument("--entry-check", type=int, choices=(0, 1), default=0,
                    help="also compare ops against the SparkEntry query of the same name")
    a = ap.parse_args()
    # a terminated launcher still stops the JVM it started (run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    found = graft_settings(os.environ)
    if found:
        die(f"refusing to run: graft setting {', '.join(found)} is set; "
            "the benchmark measures graft's defaults", 2)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"graft's sources are not in {ROOT}; nothing to build", 2)
    with open(spec_path) as fh:
        spec = json.load(fh)

    build()
    started = time.time()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{a.workload}-{a.size}-seed{a.seed}-trace{a.trace}"
    result = os.path.join(results, name + ".json")
    jvm_log = os.path.join(results, name + ".log")
    if os.path.exists(result):
        os.remove(result)

    with open(LAUNCH) as fh:
        classpath, *jvm_opts = fh.read().splitlines()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else "java"
    # a fixed heap size: a heap that shrinks after the full collections
    # taken between passes makes the next pass slower
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", *jvm_opts, f"-Djava.io.tmpdir={tmp}",
           "-cp", classpath, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--size", a.size, "--work", run_dir, "--result", result,
           "--expected", EXPECTED, "--entry-check", str(a.entry_check),
           "--spawn-ms", str(int(time.time() * 1000))]
    with open(jvm_log, "w") as out:
        rc = run_group(cmd, RUN_TIMEOUT_S - (time.time() - started),
                       cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not os.path.isfile(result):
        sys.stderr.write(tail(jvm_log))
        die(f"benchmark JVM failed (exit {rc}); log: {jvm_log}", 1)

    with open(result) as fh:
        r = json.load(fh)
    values = r["per_layer"] if a.trace else r["end_to_end"]
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        die(f"result lacks metrics {missing}; see {result}", 1)
    for f in r["failures"]:
        log(f"FAILED {f}")
    log(f"{a.workload} seed {a.seed}: passes {[round(x, 3) for x in r['pass_times_s']]} s, "
        f"attempted {r['attempted']}, failed {r['failed']}; details: {result}")
    print(json.dumps({
        "correct": bool(r["correct"]) and r["failed"] == 0,
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
