#!/usr/bin/env python3
"""Top frames of a flight recording, per thread group.

Reads the execution samples of a JFR file (for example one written by
`graft.Lab --jfr OUT.jfr`) through the JDK's own `jfr print --json`, and
prints for each thread group the methods with the most samples on top of
the stack (self) and anywhere in the stack (inclusive, counted once per
sample).

Thread groups: `executor` (Spark task threads), `driver` (the main and
client threads), `scheduler` (Spark's event loops, RPC dispatchers and
result getters) and `other`.

Usage: python3 tools/jfr_top.py OUT.jfr [--top N] [--group NAME]
"""
import argparse
import collections
import json
import subprocess
import sys


def group_of(thread):
    name = (thread or {}).get("javaName") or ""
    if name.startswith("Executor task launch worker"):
        return "executor"
    if name == "main" or name.startswith(("pool-", "ScalaTest")):
        return "driver"
    if name.startswith(("dag-scheduler", "task-result-getter", "dispatcher-",
                        "spark-listener-group", "executor-heartbeater",
                        "driver-heartbeater", "block-manager", "rpc-")):
        return "scheduler"
    return "other"


def frame_name(frame):
    method = frame.get("method") or {}
    owner = ((method.get("type") or {}).get("name") or "?").replace("/", ".")
    return f"{owner}.{method.get('name') or '?'}"


def samples(path):
    out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ExecutionSample", path],
                         check=True, capture_output=True, text=True).stdout
    for event in json.loads(out)["recording"]["events"]:
        values = event["values"]
        frames = ((values.get("stackTrace") or {}).get("frames")) or []
        yield group_of(values.get("sampledThread")), [frame_name(f) for f in frames]


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--group", help="print only this thread group")
    args = ap.parse_args(argv)

    total = collections.Counter()
    self_ = collections.defaultdict(collections.Counter)
    incl = collections.defaultdict(collections.Counter)
    for group, frames in samples(args.recording):
        if not frames or (args.group and group != args.group):
            continue
        total[group] += 1
        self_[group][frames[0]] += 1
        for f in set(frames):
            incl[group][f] += 1

    if not total:
        print("no execution samples")
        return 1
    for group, n in total.most_common():
        print(f"## {group}: {n} samples")
        for title, counts in (("self", self_[group]), ("inclusive", incl[group])):
            print(f"  {title}:")
            for f, c in counts.most_common(args.top):
                print(f"    {100.0 * c / n:5.1f}%  {c:6d}  {f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
