#!/usr/bin/env python3
"""graft benchmark: one command per workload.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload <ingest|rag_serve> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source with sbt when either has
changed (the first run in a checkout), then runs the workload in one JVM.
The harness prints its notes (every figure by name, with its unit and sample
count), then the result as the last line: one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1). Exits non-zero, without a result,
when the program cannot be built, and with `correct: false` when any output
check fails.
"""
import argparse
import fcntl
import hashlib
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
DATA = os.path.join(BENCH, "data", "graftbench_sf0.1")
HEAP = "3g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
LOCK = "/tmp/graft_perfbench.lock"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    files = []
    for top in (ROOT, BENCH):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            files.append(os.path.join(top, name))
        for base, dirs, names in os.walk(os.path.join(top, "src", "main")):
            dirs.sort()
            files.extend(os.path.join(base, n) for n in sorted(names))
    return files


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Returns (jvm options, classpath), building when the sources changed."""
    launch = os.path.join(WORK, "launch.txt")
    digest = source_digest()
    if os.path.exists(launch):
        with open(launch) as fh:
            stamp, opts, cp = fh.read().split("\n")[:3]
        if stamp == digest:
            return opts.split("\x01"), cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"]
    try:
        r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed ({' '.join(cmd)} exited {r.returncode})")
    with open(os.path.join(BENCH, "target", "launch.txt")) as fh:
        opts, cp = fh.read().split("\n")[:2]
    with open(launch, "w") as fh:
        fh.write("\n".join([digest, opts, cp]) + "\n")
    return opts.split("\x01"), cp


def expected_metrics(spec, trace):
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def report_overhead(workload, traced):
    """Compares the traced run's end-to-end figures with the last untraced run."""
    path = os.path.join(WORK, f"e2e_{workload}.json")
    if not os.path.exists(path):
        print(f"[trace] no untraced run of {workload} in this checkout to compare with")
        return
    with open(path) as fh:
        base = json.load(fh)
    for k, v in traced.items():
        b = base.get(k)
        if b:
            print(f"[trace] overhead {k}: traced {v:.4g} vs untraced {b:.4g} ({100.0 * (v / b - 1):+.1f}%)")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        fail(f"unknown workload {args.workload}; known: {', '.join(names)}")
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources next to {os.path.basename(BENCH)}/; run from a full checkout")

    os.makedirs(WORK, exist_ok=True)
    # Runs are serialized machine-wide: the program stages its derived
    # stores at fixed paths under /tmp, shared by every checkout, so two
    # concurrent runs would delete and rebuild each other's stores.
    with open(LOCK, "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        opts, cp = build()
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", *opts, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
               "-cp", cp, "graft.perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--data", DATA, "--work", os.path.join(WORK, "run")]
        log = os.path.join(WORK, f"stderr_{args.workload}.log")
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=err, text=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"{args.workload} did not finish within {RUN_TIMEOUT_S} s (log: {log})")

    lines = stdout.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
    except (ValueError, IndexError):
        sys.stdout.write(stdout)
        fail(f"the harness exited {proc.returncode} without a result (log: {log})")
    traced_e2e = None
    for line in lines[:-1]:
        if line.startswith("TRACED_E2E "):
            traced_e2e = json.loads(line[len("TRACED_E2E "):])
        else:
            print(line)
    want = expected_metrics(spec, args.trace)
    got = list(result["metrics"])
    if sorted(got) != sorted(want):
        fail(f"metrics {got} do not match BENCHMARK.json {want}")
    if args.trace and traced_e2e is not None:
        report_overhead(args.workload, traced_e2e)
    if not args.trace and result["correct"]:
        with open(os.path.join(WORK, f"e2e_{args.workload}.json"), "w") as fh:
            json.dump({k: v["value"] for k, v in result["metrics"].items()}, fh)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
