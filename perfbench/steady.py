#!/usr/bin/env python3
"""Steadiness check for the benchmark: runs every workload repeatedly, each
time with another seed, alternating the workload order between rounds, and
prints each end-to-end metric's median and quartiles against its bound.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workloads a,b] [--trace 0]

Run from the root of a checkout. The spread of a metric is the distance
between its first and third quartile (statistics.quantiles, n=4) as a share
of its median; a benchmark is steady when every spread except setup_s stays
below a third of the metric's bound. Each run's result line is appended to
--log (JSON lines) so two sessions can be compared afterwards.
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


def run_once(bench, workload, seed, trace):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        print("\n".join(p.stderr.splitlines()[-20:]), file=sys.stderr)
        return None, wall
    return json.loads(p.stdout.strip().splitlines()[-1]), wall


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", help="comma-separated subset (default: all)")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--log", default=os.path.join(ROOT, ".bench_work", "steady.jsonl"))
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    declared = bench["end_to_end"] if a.trace == 0 else bench["per_layer"]
    names = [m["name"] for m in declared]
    values = {w: {n: [] for n in names} for w in workloads}
    ops = {w: [0, 0] for w in workloads}
    walls = {w: [] for w in workloads}
    os.makedirs(os.path.dirname(a.log), exist_ok=True)

    for i in range(a.runs):
        seed = a.first_seed + i
        for w in (workloads if i % 2 == 0 else list(reversed(workloads))):
            res, wall = run_once(bench, w, seed, a.trace)
            walls[w].append(wall)
            if res is None:
                print(f"{w} seed {seed}: run failed ({wall:.1f} s)", flush=True)
                ops[w][0] += 1
                ops[w][1] += 1
                continue
            with open(a.log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "wall_s": wall, "result": res}) + "\n")
            ops[w][0] += res["attempted"]
            ops[w][1] += res["failed"]
            got = set(res["metrics"])
            if got != set(names):
                print(f"{w} seed {seed}: metric names differ from BENCHMARK.json: "
                      f"missing {sorted(set(names) - got)}, extra {sorted(got - set(names))}")
            for n in names:
                if n in res["metrics"]:
                    values[w][n].append(res["metrics"][n]["value"])
            print(f"{w} seed {seed}: {wall:.1f} s, correct={res['correct']}", flush=True)

    print()
    print(f"{'workload':<14} {'metric':<22} {'n':>3} {'q1':>12} {'median':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}  verdict")
    steady = True
    for w in workloads:
        for m in declared:
            xs = values[w][m["name"]]
            if len(xs) < 2:
                print(f"{w:<14} {m['name']:<22} {len(xs):>3}  too few values")
                steady = False
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / abs(med) if med else float("inf")
            bound = m.get("bound")
            if bound is None:
                verdict = ""
            elif m["name"] == "setup_s":
                verdict = "(not gated)"
            elif spread < bound / 3:
                verdict = "ok"
            elif spread <= bound:
                verdict = "within bound, above a third"
                steady = False
            else:
                verdict = "TOO WIDE"
                steady = False
            print(f"{w:<14} {m['name']:<22} {len(xs):>3} {q1:>12.5g} {med:>12.5g} {q3:>12.5g} "
                  f"{spread:>7.3f} {bound if bound is not None else '':>6}  {verdict}")
        att, fail = ops[w]
        print(f"{w:<14} {'failed share':<22} {fail}/{att} = {fail / max(att, 1):.4f}; "
              f"run wall median {statistics.median(walls[w]):.1f} s, max {max(walls[w]):.1f} s")
    print("\nsteady" if steady else "\nNOT steady")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
