#!/usr/bin/env python3
"""Per-micro-batch breakdown of a traced perfbench stream run.

    python3 tools/batch_spans.py .bench_build/trace/stream_live-seed7.spans.jsonl

`python3 perfbench/run.py --workload stream_live ... --trace 1` writes
the spans file. For every batch of the timed window this prints the
trigger's phases (StreamingQueryProgress.durationMs, laid end to end
from the trigger start), then every Spark job that started inside
`addBatch` as its start and end offset from the start of `addBatch`,
and the driver-side tail: the part of `addBatch` after the last job
ended (for the sink, the time spent outside Spark jobs). The last lines
give the median of each column over the batches.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    spans = load(argv[1])
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    batches = [s for s in spans if s["parent"] == -1 and s["layer"] == "streaming"
               and s["name"].startswith("batch ")]
    if not batches:
        print(f"no batch spans in {argv[1]}: was the run traced (--trace 1)?", file=sys.stderr)
        return 1
    ms = lambda ns: ns / 1e6
    cols = {"total": [], "addBatch": [], "jobs": [], "job_ms": [], "tail": []}
    for b in sorted(batches, key=lambda s: s["start_ns"]):
        phases = sorted(kids.get(b["id"], []), key=lambda s: s["start_ns"])
        phase_txt = " ".join(f"{p['name']} {ms(p['end_ns'] - p['start_ns']):.0f}" for p in phases)
        total = ms(b["end_ns"] - b["start_ns"])
        print(f"{b['name']}  rows {b['attrs'].get('rows', 0):.0f}  {total:.0f} ms | {phase_txt}")
        cols["total"].append(total)
        add = next((p for p in phases if p["name"] == "addBatch"), None)
        if add is None:
            continue
        jobs = sorted((j for j in kids.get(add["id"], []) if j["layer"] == "spark.job"),
                      key=lambda j: j["start_ns"])
        for j in jobs:
            a = j["attrs"]
            print(f"    {j['name']:10s} +{ms(j['start_ns'] - add['start_ns']):4.0f} -> "
                  f"+{ms(j['end_ns'] - add['start_ns']):4.0f} ms  stages {a.get('stages', 0):.0f}  "
                  f"tasks {a.get('tasks', 0):.0f}  cpu {a.get('cpu_s', 0):.3f} s")
        last_end = max((j["end_ns"] for j in jobs), default=add["start_ns"])
        tail = ms(add["end_ns"] - last_end)
        print(f"    tail after the last job: {tail:.0f} ms of addBatch {ms(add['end_ns'] - add['start_ns']):.0f}")
        cols["addBatch"].append(ms(add["end_ns"] - add["start_ns"]))
        cols["jobs"].append(len(jobs))
        cols["job_ms"].append(sum(ms(j["end_ns"] - j["start_ns"]) for j in jobs))
        cols["tail"].append(tail)
    print(f"median over {len(batches)} batches: " + ", ".join(
        f"{k} {statistics.median(v):.0f}" + ("" if k == "jobs" else " ms")
        for k, v in cols.items() if v))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
