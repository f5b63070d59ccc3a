#!/usr/bin/env python3
"""Print the per-layer table of a traced run's span file.

    python3 perfbench/trace_table.py .bench_out/trace-<workload>-<seed>.json

One row per span name: calls, total wall time, self time (wall minus the
part of each span's interval that its child spans cover), and the Spark
jobs, job time, tasks, task time and FileSystem read ops attributed to it.
"""
import json
import sys
from collections import defaultdict


def covered(intervals):
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def render(path):
    with open(path) as f:
        spans = json.load(f)["spans"]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    rows = defaultdict(lambda: defaultdict(float))
    for s in spans:
        wall = s["end_ms"] - s["start_ms"]
        kids = covered([(c["start_ms"], c["end_ms"]) for c in children[s["id"]]])
        r = rows[s["name"]]
        r["calls"] += 1
        r["wall_ms"] += wall
        r["self_ms"] += wall - kids
        for k in ("jobs", "job_ms", "tasks", "task_ms", "fs_read_ops"):
            r[k] += s[k]
    cols = ["calls", "wall_ms", "self_ms", "jobs", "job_ms", "tasks",
            "task_ms", "fs_read_ops"]
    out = ["%-18s" % "span" + "".join("%11s" % c for c in cols)]
    for name in sorted(rows, key=lambda n: -rows[n]["wall_ms"]):
        out.append("%-18s" % name +
                   "".join("%11.0f" % rows[name][c] for c in cols))
    return "\n".join(out)


if __name__ == "__main__":
    print(render(sys.argv[1]))
