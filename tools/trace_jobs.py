#!/usr/bin/env python3
"""Per-job view of a perfbench trace, or a per-span comparison of two.

    python3 tools/trace_jobs.py .bench_build/traces/<workload>-seed<n>.jsonl
    python3 tools/trace_jobs.py A.jsonl B.jsonl

A `perfbench/run.py --trace 1` run writes its spans and Spark jobs as
JSON lines. Given one trace, this prints every job in start order with
the span it ran under (as a path from the op down), its wall time, task
count and executor CPU, then the same totals per span path and for the
whole trace. A job no span claimed is listed under "-".

Jobs can run at once (a commit whose work overlaps another's). A job
whose interval overlaps another job's is marked `*`, and next to the
summed `wall_s` each total prints `covered_s`, the wall the union of
its jobs' intervals covers: overlapped jobs add to `wall_s` but not to
`covered_s`.

Given two traces (say, before and after a change), it prints jobs,
tasks and CPU per span path for A, for B and the difference B - A,
plus the totals.

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


def wall_s(job):
    return max(0.0, (job["end_ms"] - job["start_ms"]) / 1000.0)


def covered_s(jobs):
    """Seconds covered by the union of the jobs' [start, end] intervals."""
    total, cur = 0.0, None
    for start, end in sorted((j["start_ms"], max(j["start_ms"], j["end_ms"])) for j in jobs):
        if cur and start <= cur[1]:
            cur[1] = max(cur[1], end)
        else:
            if cur:
                total += cur[1] - cur[0]
            cur = [start, end]
    if cur:
        total += cur[1] - cur[0]
    return total / 1000.0


def overlapping(jobs):
    """Ids of the jobs whose interval overlaps another job's."""
    return {int(a["job"]) for a in jobs for b in jobs
            if a is not b and a["start_ms"] < b["end_ms"] and b["start_ms"] < a["end_ms"]}


def span_totals(spans, jobs):
    """span path -> [jobs, wall_s, tasks, cpu_s]"""
    totals = defaultdict(lambda: [0, 0.0, 0, 0.0])
    for j in jobs:
        t = totals[span_path(spans, int(j["span"]))]
        t[0] += 1
        t[1] += wall_s(j)
        t[2] += int(j["tasks"])
        t[3] += float(j["cpu_s"])
    return totals


def compare(path_a, path_b):
    a, b = (span_totals(*load(p)) for p in (path_a, path_b))
    head = f"{'jobs':>5} {'tasks':>6} {'cpu_s':>7}"
    print(f"{'A: ' + head:>24}  {'B: ' + head:>24}  {'B-A: ' + head:>26}  span")

    def row(ta, tb, name):
        d = [tb[0] - ta[0], tb[2] - ta[2], tb[3] - ta[3]]
        print(f"   {ta[0]:>5} {ta[2]:>6} {ta[3]:>7.3f}     {tb[0]:>5} {tb[2]:>6} {tb[3]:>7.3f}"
              f"       {d[0]:>+5} {d[1]:>+6} {d[2]:>+7.3f}  {name}")

    zero = [0, 0.0, 0, 0.0]
    for path in sorted(set(a) | set(b), key=lambda p: -max(a.get(p, zero)[0], b.get(p, zero)[0])):
        row(a.get(path, zero), b.get(path, zero), path)
    total = lambda t: [sum(v[i] for v in t.values()) for i in range(4)]
    row(total(a), total(b), "(all)")
    return 0


def main(argv):
    if len(argv) == 3:
        return compare(argv[1], argv[2])
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    spans, jobs = load(argv[1])
    origin = min((s["start_ms"] for s in spans.values()),
                 default=jobs[0]["start_ms"] if jobs else 0.0)

    over = overlapping(jobs)
    print(f"{'job':>5} {'start_s':>8} {'wall_s':>7} {'tasks':>6} {'cpu_s':>7} ovl  span")
    for j in jobs:
        path = span_path(spans, int(j["span"]))
        mark = "*" if int(j["job"]) in over else " "
        print(f"{int(j['job']):>5} {(j['start_ms'] - origin) / 1000.0:>8.3f} "
              f"{wall_s(j):>7.3f} {int(j['tasks']):>6} {float(j['cpu_s']):>7.3f}  {mark}   {path}")
    totals = span_totals(spans, jobs)
    by_path = defaultdict(list)
    for j in jobs:
        by_path[span_path(spans, int(j["span"]))].append(j)

    print()
    print(f"{'jobs':>5} {'wall_s':>8} {'covered_s':>9} {'tasks':>6} {'cpu_s':>7}  span")
    for path in sorted(totals, key=lambda p: -totals[p][1]):
        n, wall, tasks, cpu = totals[path]
        print(f"{n:>5} {wall:>8.3f} {covered_s(by_path[path]):>9.3f} {tasks:>6} {cpu:>7.3f}  {path}")
    all_wall = sum(t[1] for t in totals.values())
    all_tasks = sum(t[2] for t in totals.values())
    all_cpu = sum(t[3] for t in totals.values())
    print(f"{len(jobs):>5} {all_wall:>8.3f} {covered_s(jobs):>9.3f} {all_tasks:>6} {all_cpu:>7.3f}  (all)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
