#!/usr/bin/env python3
"""Where a JFR recording's CPU samples went, per thread.

Usage:
    python3 tools/jfr_top.py REC.jfr [--last SECONDS] [--thread SUBSTR]
                             [--top N] [--callers FRAME] [--stack-depth D]

Reads the `jdk.ExecutionSample` events of REC.jfr (through the JDK's `jfr
print --json`) and prints, for each thread, its sample count and the frames
with the most inclusive samples: a frame counts once per sample whose stack
holds it, so `SparkContext.clean 76/262` means 76 of the thread's 262 samples
were inside `clean`. Thread names have their digits replaced by `#`, so
Spark's per-task executor threads add up under one name, and a lambda's
hidden class is shown as `Outer$$Lambda`.

--last keeps the samples of the last SECONDS before the recording's final
sample (the steady state of a benchmark run, without its set-up).
--callers prints, per thread, the frames that called FRAME (a substring of
`package.Class.method`) and how many samples each.

`jfr print` cuts every stack to 5 frames unless given --stack-depth, which
hides every caller more than five frames above a leaf; this tool passes
--stack-depth (default 256) itself.
"""
import argparse
import collections
import datetime
import json
import re
import subprocess
import sys

# a lambda's hidden class, e.g. `Foo$$Lambda$2837+0x00007fb0ace69cb0.659960900`
LAMBDA = re.compile(r"\$\$Lambda\$\d+(?:\+0x[0-9a-f]+)?(?:\.\d+)?")


def samples(path, depth):
    """Yields (time in seconds, thread name, frames leaf first)."""
    out = subprocess.run(
        ["jfr", "print", "--json", "--events", "jdk.ExecutionSample",
         "--stack-depth", str(depth), path],
        check=True, stdout=subprocess.PIPE).stdout
    for ev in json.loads(out)["recording"]["events"]:
        v = ev["values"]
        thread = v.get("sampledThread") or {}
        name = thread.get("javaName") or thread.get("osName") or "?"
        frames = [
            LAMBDA.sub("$$Lambda",
                       f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}")
            for f in (v.get("stackTrace") or {}).get("frames", [])]
        yield seconds(v["startTime"]), re.sub(r"\d+", "#", name), frames


def seconds(stamp):
    """Seconds since the epoch of an ISO-8601 stamp with up to 9 decimals."""
    m = re.match(r"(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d)(?:\.(\d+))?(Z|[+-]\d\d:\d\d)?$", stamp)
    if not m:
        raise ValueError(f"unrecognised time stamp {stamp!r}")
    base, frac, zone = m.groups()
    t = datetime.datetime.fromisoformat(base + ("+00:00" if zone in (None, "Z") else zone))
    return t.timestamp() + (float("0." + frac) if frac else 0.0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--last", type=float, help="keep the last SECONDS of samples")
    ap.add_argument("--thread", help="keep threads whose name holds SUBSTR")
    ap.add_argument("--top", type=int, default=25, help="frames per thread (default 25)")
    ap.add_argument("--callers", metavar="FRAME", help="print the callers of FRAME")
    ap.add_argument("--stack-depth", type=int, default=256)
    args = ap.parse_args()

    rows = list(samples(args.recording, args.stack_depth))
    if not rows:
        sys.exit(f"{args.recording}: no jdk.ExecutionSample events "
                 "(record with settings=profile)")
    if args.last is not None:
        end = max(t for t, _, _ in rows)
        rows = [r for r in rows if r[0] >= end - args.last]
    if args.thread:
        rows = [r for r in rows if args.thread in r[1]]

    total = collections.Counter()
    inclusive = collections.defaultdict(collections.Counter)
    hits = collections.Counter()
    callers = collections.defaultdict(collections.Counter)
    for _, thread, frames in rows:
        total[thread] += 1
        inclusive[thread].update(set(frames))
        if args.callers:
            # a recursive frame's callers count once per sample
            seen = set()
            for i, f in enumerate(frames):
                if args.callers in f:
                    caller = frames[i + 1] if i + 1 < len(frames) else "(stack root)"
                    if caller not in seen:
                        seen.add(caller)
                        callers[thread][caller] += 1
            hits[thread] += bool(seen)

    for thread, n in total.most_common():
        print(f"== {thread}: {n} samples")
        for frame, c in inclusive[thread].most_common(args.top):
            print(f"  {c:6d} {100.0 * c / n:5.1f}%  {frame}")
        if args.callers and hits[thread]:
            print(f"  -- {args.callers}: {hits[thread]} samples "
                  f"({100.0 * hits[thread] / n:.1f}%), by caller --")
            for frame, c in callers[thread].most_common():
                print(f"  {c:6d} {100.0 * c / n:5.1f}%  {frame}")


if __name__ == "__main__":
    main()
