#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark
(perfbench/build.sbt compiles the checkout's src/main/scala together
with perfbench/src) into .bench_build/; later runs reuse that build
while the sources are unchanged.

--trace 0 prints every end-to-end metric of BENCHMARK.json. --trace 1
prints every per-layer metric, among them trace.<metric>: the traced
run's own end-to-end numbers, which minus an untraced run's are the
tracing overhead. The traced run's spans and layer summary stay in
.bench_build/trace/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(BENCH, "data", "sf0.1")
SBT_LOCAL_REPOS = os.path.expanduser("~/.sbt/repositories")

RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

# Layer metrics a workload does not exercise are reported as 0: the
# stream workloads run no QueryDef, the batch workloads no stream.
STREAM_ONLY = ("sources.", "streaming.", "functions.")

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM, os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    if os.path.exists(SBT_LOCAL_REPOS):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={SBT_LOCAL_REPOS}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=out, timeout=BUILD_LIMIT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "scala-2.13" + os.sep + "classes" in l
           and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}), log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or
    interruption and always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def run_jvm(cp, args, deadline):
    trace = args.trace
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{args.workload}-seed{args.seed}-trace{trace}.log")
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"] + opens +
           ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(trace), "--work", work, "--data", DATA,
            "--t0-ms", str(int(time.time() * 1000))])
    out_file = os.path.join(work, "stdout")
    try:
        with open(out_file, "w") as out, open(log, "w") as err:
            rc = run_group(cmd, cwd=ROOT, stdout=out, stderr=err,
                           timeout=max(1.0, deadline - time.time()))
        with open(out_file) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
    except subprocess.TimeoutExpired:
        fail(f"{args.workload} timed out, log in {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not lines:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"{args.workload} exited {rc}, log in {log}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_file):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_file) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        fail(f"program sources not found under {PROGRAM}")
    if not os.path.isdir(DATA):
        fail(f"tables not found under {DATA}")

    cp = build()  # the first run in a checkout may take long here
    deadline = time.time() + RUN_LIMIT_S
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    res = run_jvm(cp, args, deadline)
    got = dict(res["metrics"])
    names = e2e
    if args.trace:
        # The traced run's own end-to-end numbers sit beside the layer
        # metrics; minus an untraced run's, they are the tracing overhead.
        for m in e2e:
            got[f"trace.{m}"] = got[m]
        stream = args.workload.startswith("stream")
        for m in layer:
            if m not in got and stream != m.startswith(STREAM_ONLY):
                got[m] = {"value": 0.0, "unit": units[m]}
        names = layer
    result = {k: res[k] for k in ("correct", "attempted", "failed")}
    missing = [n for n in names if n not in got]
    bad = [n for n in names if n in got and (got[n]["value"] is None or
                                             not math.isfinite(got[n]["value"]))]
    if missing or bad:
        fail(f"metrics missing {missing} or not finite {bad}")
    result["metrics"] = {n: got[n] for n in names}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
