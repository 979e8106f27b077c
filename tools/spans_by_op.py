#!/usr/bin/env python3
"""Summarize a traced perfbench run per operation name.

Usage: python3 tools/spans_by_op.py perfbench/.work/spans-<workload>-<seed>.jsonl

Reads the span file that `perfbench/run.py --trace 1` writes and prints,
for each root operation name (a query, a pipeline step, an ingest batch):
the number of passes, the median latency, and per pass (median) the
eager jobs (those started while the operation's `GQuery.run` child span
was open), all jobs, the stages that ran tasks, their executor CPU
seconds and their shuffle bytes written.
"""
import json
import statistics
import sys
from collections import defaultdict


def summarize(path):
    spans, jobs, stages = [], defaultdict(list), defaultdict(list)
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r["kind"] == "span":
                spans.append(r)
            elif r["kind"] == "job":
                jobs[r["op"]].append(r)
            elif r["kind"] == "stage":
                stages[(r["op"], r["app"], r["parent_job"])].append(r)
    constructs = defaultdict(list)
    for s in spans:
        if s["parent"] != 0 and s["name"] == "GQuery.run":
            constructs[s["parent"]].append((s["start"], s["end"]))
    rows = defaultdict(list)
    for op in (s for s in spans if s["parent"] == 0):
        js = jobs.get(op["op"], [])
        eager = sum(1 for j in js
                    if any(a <= j["start"] <= b for a, b in constructs[op["id"]]))
        ran = {}
        for j in js:
            for st in stages[(op["op"], j["app"], j["id"])]:
                if st["tasks"] > 0:
                    ran[(st["app"], st["id"])] = st
        rows[op["name"]].append({
            "latency_s": (op["end"] - op["start"]) / 1e3,
            "eager_jobs": eager if constructs[op["id"]] else None,
            "jobs": len(js),
            "stages": len(ran),
            "cpu_s": sum(st["cpu_s"] for st in ran.values()),
            "shuffle_write": sum(st["shuffle_write"] for st in ran.values()),
        })
    return rows


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def main(path):
    rows = summarize(path)
    cols = ["latency_s", "eager_jobs", "jobs", "stages", "cpu_s", "shuffle_write"]
    print(f"{'op':<28}{'passes':>7}" + "".join(f"{c:>14}" for c in cols))
    for name in sorted(rows):
        ps = rows[name]
        cells = []
        for c in cols:
            m = median(p[c] for p in ps)
            cells.append(f"{'-':>14}" if m is None else
                         f"{m:>14.3f}" if c in ("latency_s", "cpu_s") else f"{m:>14.0f}")
        print(f"{name:<28}{len(ps):>7}" + "".join(cells))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
