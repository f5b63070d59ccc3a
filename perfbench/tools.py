#!/usr/bin/env python3
"""Steadiness and counter-determinism checks for the benchmark.

    python3 perfbench/tools.py spread --workload snapshot_table --seeds 1-10
    python3 perfbench/tools.py determinism --workload snapshot_table --seed 1 --runs 3

`spread` runs the workload once per seed (untraced) and prints, per
end-to-end metric, the median and the distance between the first and third
quartile as a share of the median, next to the metric's bound from
BENCHMARK.json. `determinism` runs one seed several times traced and lists
which per-layer counts (jobs, tasks, files, fs ops, bytes) repeat exactly.
Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    if p.returncode != 0 or not last.startswith("{"):
        sys.exit(f"{workload} seed {seed} failed (exit {p.returncode})")
    return json.loads(last)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["spread", "determinism"])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=3)
    a = ap.parse_args()
    secs = bench["run_seconds"]
    if a.mode == "spread":
        bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
        results = [run(a.workload, s, secs, 0) for s in seeds(a.seeds)]
        print(f"{a.workload}: {len(results)} runs, correct="
              f"{all(r['correct'] for r in results)}")
        for name, bound in bounds.items():
            v = [r["metrics"][name]["value"] for r in results]
            q = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            print(f"  {name:22s} median={med:<14.6g} spread={(q[2] - q[0]) / med:6.3f}"
                  f"  bound={bound}")
    else:
        results = [run(a.workload, a.seed, secs, 1) for _ in range(a.runs)]
        exact, varying = [], []
        for name, m in results[0]["metrics"].items():
            if m["unit"] not in ("count", "B"):
                continue
            v = [r["metrics"][name]["value"] for r in results]
            (exact if len(set(v)) == 1 else varying).append(
                f"{name}={v[0]:g}" if len(set(v)) == 1 else
                f"{name}={','.join(f'{x:g}' for x in v)}")
        print(f"{a.workload} seed {a.seed}, {a.runs} traced runs")
        print("repeat exactly:\n  " + "\n  ".join(exact))
        print("vary:\n  " + "\n  ".join(varying))


if __name__ == "__main__":
    main()
