#!/usr/bin/env python3
"""Summarize the process spawns in a JFR recording.

Without libhadoop, Hadoop's local filesystem forks `chmod`, `readlink`
and `ls` for permission and link work. This tool counts the recording's
`jdk.ProcessStart` events three ways:

  * by command: the executable and its flags, paths (any argument
    with a `/`) dropped: `chmod 0644`, `readlink`;
  * by call site: the first stack frame outside the JDK, Hadoop's
    `org.apache.hadoop.fs` filesystem layer and its `Shell` helper,
    i.e. the Spark, Parquet or Hadoop code that asked for the file
    operation (`FileOutputCommitter.setupJob`, Parquet's
    `HadoopOutputFile.create`, a checkpoint file manager);
  * by thread, with UUIDs and digits folded (`Executor task launch worker-N`).

Usage: jfr_forks.py <recording.jfr> [--top N]

The recording needs `jdk.ProcessStart` enabled with stack traces; the
`default` and `profile` settings both do. One way to record a JVM you
cannot edit:
  JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=run.jfr <command>
Reads the file through `jfr print --json` (the JDK's `jfr` tool on PATH).
"""
import argparse
import collections
import json
import re
import subprocess
import sys

STACK_DEPTH = 64
# Frames that spawn on behalf of a caller rather than being the caller.
PLUMBING = ("java/", "jdk/", "sun/", "org/apache/hadoop/util/Shell",
            "org/apache/hadoop/fs/")


def events(path):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", str(STACK_DEPTH),
         "--events", "jdk.ProcessStart", path],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def command_kind(cmd):
    return " ".join(t for t in cmd.split() if "/" not in t) or "?"


def call_site(values):
    frames = (values.get("stackTrace") or {}).get("frames", [])
    for f in frames:
        cls = f["method"]["type"]["name"]
        if not cls.startswith(PLUMBING):
            return f"{cls.replace('/', '.')}.{f['method']['name']}"
    return "(no caller within %d frames)" % STACK_DEPTH


def thread(values):
    t = values.get("eventThread") or {}
    name = t.get("javaName") or t.get("osName") or "?"
    return re.sub(r"\d+", "N", re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>", name))


def table(title, counter, total, top):
    print(f"\n{title}")
    for key, n in counter.most_common(top):
        print(f"  {n:7d}  {100.0 * n / total:5.1f}%  {key}")
    rest = sum(counter.values()) - sum(n for _, n in counter.most_common(top))
    if rest:
        print(f"  {rest:7d}  {100.0 * rest / total:5.1f}%  ({len(counter) - top} more)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15)
    a = ap.parse_args()
    evs = [e["values"] for e in events(a.recording)]
    print(f"{len(evs)} process spawns in {a.recording}")
    if not evs:
        return 0
    total = len(evs)
    table("by command", collections.Counter(command_kind(v["command"]) for v in evs), total, a.top)
    table("by call site", collections.Counter(call_site(v) for v in evs), total, a.top)
    table("by thread", collections.Counter(thread(v) for v in evs), total, a.top)
    return 0


if __name__ == "__main__":
    sys.exit(main())
