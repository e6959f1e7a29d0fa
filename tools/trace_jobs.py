#!/usr/bin/env python3
"""Per-job view of a perfbench trace.

    python3 tools/trace_jobs.py .bench_build/traces/<workload>-seed<n>.jsonl

A `perfbench/run.py --trace 1` run writes its spans and Spark jobs as
JSON lines. This prints every job in start order with the span it ran
under (as a path from the op down), its wall time, task count and
executor CPU, then the same totals per span path and for the whole
trace. A job no span claimed is listed under "-".

Many short jobs with many tasks and little CPU point at a per-task
floor (scheduling and task deserialization), not at work.
"""
import json
import sys
from collections import defaultdict


def load(path):
    spans, jobs = {}, []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            rec = json.loads(line)
            if "job" in rec:
                jobs.append(rec)
            elif "span" in rec and "id" in rec:
                spans[int(rec["id"])] = rec
    return spans, sorted(jobs, key=lambda j: (j["start_ms"], j["job"]))


def span_path(spans, span_id):
    names, seen = [], set()
    while span_id in spans and span_id not in seen:
        seen.add(span_id)
        names.append(spans[span_id]["span"])
        span_id = int(spans[span_id]["parent"])
    return " > ".join(reversed(names)) if names else "-"


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    spans, jobs = load(argv[1])
    origin = min((s["start_ms"] for s in spans.values()),
                 default=jobs[0]["start_ms"] if jobs else 0.0)

    print(f"{'job':>5} {'start_s':>8} {'wall_s':>7} {'tasks':>6} {'cpu_s':>7}  span")
    totals = defaultdict(lambda: [0, 0.0, 0, 0.0])
    for j in jobs:
        path = span_path(spans, int(j["span"]))
        wall = max(0.0, (j["end_ms"] - j["start_ms"]) / 1000.0)
        tasks, cpu = int(j["tasks"]), float(j["cpu_s"])
        print(f"{int(j['job']):>5} {(j['start_ms'] - origin) / 1000.0:>8.3f} "
              f"{wall:>7.3f} {tasks:>6} {cpu:>7.3f}  {path}")
        t = totals[path]
        t[0] += 1
        t[1] += wall
        t[2] += tasks
        t[3] += cpu

    print()
    print(f"{'jobs':>5} {'wall_s':>8} {'tasks':>6} {'cpu_s':>7}  span")
    for path in sorted(totals, key=lambda p: -totals[p][1]):
        n, wall, tasks, cpu = totals[path]
        print(f"{n:>5} {wall:>8.3f} {tasks:>6} {cpu:>7.3f}  {path}")
    all_wall = sum(t[1] for t in totals.values())
    all_tasks = sum(t[2] for t in totals.values())
    all_cpu = sum(t[3] for t in totals.values())
    print(f"{len(jobs):>5} {all_wall:>8.3f} {all_tasks:>6} {all_cpu:>7.3f}  (all)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
