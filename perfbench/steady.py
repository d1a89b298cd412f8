#!/usr/bin/env python3
"""Steadiness runner: repeats workloads with different seeds and prints,
for each metric, its median, quartiles and spread against its bound.

    python3 perfbench/steady.py --runs 10 [--workload NAME ...] [--trace 1]

Spread is (Q3 - Q1) / median over the runs, with the quartiles of Python's
statistics.quantiles(values, n=4). The benchmark aims for every spread to
stay below a third of its metric's bound. Each run's JSON line is appended
to perfbench/.work/steady.jsonl. The runner also prints the mean wall time
of a run and what a full measurement (4 + 22 runs per workload) takes at
that pace, builds not included.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    kind = "per_layer" if a.trace else "end_to_end"
    bounds = {m["name"]: m.get("bound") for m in bench[kind]}
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    log = open(os.path.join(HERE, ".work", "steady.jsonl"), "a")
    worst = 0.0
    walls = []
    for w in workloads:
        values = {}
        for i in range(a.runs):
            seed = a.first_seed + i
            t = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", str(a.trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t
            walls.append(wall)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(line)
            log.write(json.dumps({"workload": w, "seed": seed, "trace": a.trace,
                                  "exit": p.returncode, "wall_s": round(wall, 1), **res}) + "\n")
            log.flush()
            print(f"{w} seed {seed}: exit {p.returncode} correct {res.get('correct')} "
                  f"failed {res.get('failed')}/{res.get('attempted')} wall {wall:.0f} s", flush=True)
            for k, m in res.get("metrics", {}).items():
                values.setdefault(k, []).append(m["value"])
        print(f"\n{w}: {a.runs} runs")
        print(f"  {'metric':<32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
            spread = (q3 - q1) / med if med else 0.0
            b = bounds.get(k)
            flag = ""
            if b:
                flag = "ok" if spread < b / 3 else ("within bound" if spread <= b else "TOO WIDE")
                if k != "setup_s":
                    worst = max(worst, spread / b)
            print(f"  {k:<32} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} {spread:>8.3f} "
                  f"{b if b else '':>6} {flag}")
        print(flush=True)
    print(f"worst spread / bound (setup_s excluded): {worst:.2f}")
    # a full measurement makes 4 + 22 runs per workload of BENCHMARK.json
    n = 4 + 22 * len(bench["workloads"])
    print(f"mean wall per run {sum(walls) / len(walls):.1f} s; {n} such runs take "
          f"{n * sum(walls) / len(walls):.0f} s, builds not included")


if __name__ == "__main__":
    main()
