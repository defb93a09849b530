#!/usr/bin/env python3
"""End-to-end benchmark of the seriesly surface (HTTP `_query`/`_all`,
`POST`, memcached ingest) served by this checkout's library.

One run:
    python3 perfbench/run.py --workload query_cold --seed 1 --seconds 20 --trace 0

builds the harness from source when needed (sbt, offline), runs one
workload in a fresh JVM, prints its figures and, as the last stdout line,
a JSON object with `correct`, `attempted`, `failed` and `metrics`
(end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`).

Steadiness check:
    python3 perfbench/run.py --steady

runs every workload in BENCHMARK.json twice over, each set on seeds
1..10 for `run_seconds`, and reports per end-to-end metric the quartile
spread of each set and the shift of the median between the two sets.
A metric is steady when both spreads and the absolute shift are within
its bound.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCHER = os.path.join(TARGET, "launcher.txt")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"
RUNS = 10
SETS = 2


def newest_source_mtime():
    """Newest modification time among the files the build reads."""
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames[:] = [d for d in dirnames if d not in ("target", "project")]
            files.extend(os.path.join(dirpath, f) for f in filenames)
    for f in files:
        if os.path.isfile(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compiles library + harness and writes the launcher file, unless it
    is newer than every source. Exits non-zero when the build fails."""
    if os.path.isfile(LAUNCHER) and os.path.getmtime(LAUNCHER) >= newest_source_mtime():
        return
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        sys.exit("perfbench: no library build next to the benchmark")
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log_path = os.path.join(TARGET, "build.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                                  cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
            failed = proc.returncode != 0
        except subprocess.TimeoutExpired:
            failed = True
    if failed or not os.path.isfile(LAUNCHER):
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        sys.exit("perfbench: build failed")


def run_once(workload, seed, seconds, trace, echo=True):
    """Runs one workload in a fresh JVM; returns (exit code, parsed result)."""
    build()
    with open(LAUNCHER) as f:
        jvm = [line.rstrip("\n") for line in f if line.strip()]
    tag = f"{workload}-{seed}-{trace}-{os.getpid()}"
    work = os.path.join(TARGET, "runs", tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_dir = os.path.join(TARGET, "logs")
    os.makedirs(log_dir, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, HEAP, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + jvm + [
        "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--work", work]
    with open(os.path.join(log_dir, f"{workload}-{seed}-{trace}.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            out = ""
            sys.stderr.write(f"perfbench: {workload} seed {seed} timed out\n")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if echo:
        sys.stdout.write(out)
        sys.stdout.flush()
    elif result is not None and not result["correct"]:
        sys.stderr.write("".join(l + "\n" for l in lines if l.startswith("# FAILED")))
    if proc.returncode != 0 or result is None:
        sys.stderr.write(f"perfbench: run failed (exit {proc.returncode}); see {err.name}\n")
        return (proc.returncode or 1), None
    return 0, result


def spread(values):
    """Quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def steady():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    ok = True
    for w in (w["name"] for w in spec["workloads"]):
        sets = []
        for s in range(SETS):
            values = {}
            for seed in range(1, RUNS + 1):
                t0 = time.time()
                code, res = run_once(w, seed, seconds, 0, echo=False)
                if code != 0 or not res["correct"]:
                    print(f"{w} seed {seed}: FAILED run", flush=True)
                    ok = False
                    continue
                for m, v in res["metrics"].items():
                    values.setdefault(m, []).append(v["value"])
                print(f"{w} set {s + 1} seed {seed}: {time.time() - t0:.0f} s " +
                      " ".join(f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()), flush=True)
            sets.append(values)
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            runs = [s.get(name, []) for s in sets]
            if any(len(r) < 4 for r in runs):
                print(f"{w} {name}: too few runs")
                ok = False
                continue
            spreads = [spread(r) for r in runs]
            meds = [statistics.median(r) for r in runs]
            shift = (meds[1] - meds[0]) / meds[0]
            steady_ok = max(spreads) <= bound and abs(shift) <= bound
            ok &= steady_ok
            print(f"{w} {name}: medians {' '.join(f'{x:.4g}' for x in meds)} "
                  f"spreads {' '.join(f'{x:.3f}' for x in spreads)} "
                  f"second-set shift {shift:+.3f} bound {bound} -> {'ok' if steady_ok else 'NOT STEADY'}",
                  flush=True)
    return 0 if ok else 1


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steady", action="store_true")
    args = p.parse_args()
    if args.steady:
        if args.workload or args.seconds:
            p.error("--steady runs every workload for run_seconds; it takes no --workload or --seconds")
        return steady()
    if not args.workload or not args.seconds:
        p.error("--workload and --seconds are required")
    code, _ = run_once(args.workload, args.seed, args.seconds, args.trace)
    return code


if __name__ == "__main__":
    sys.exit(main())
