#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's median,
quartiles and spread ((Q3 - Q1) / median, quartiles as
statistics.quantiles(values, n=4) gives them), checked against the bounds
in BENCHMARK.json.

Usage: python3 perfbench/steadiness.py [--runs 10] [--first-seed 1]
                                       [--workloads a,b]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        values, secs = {}, []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t = time.time()
            r = subprocess.run(bench["command"] + [
                "--workload", w, "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
            secs.append(time.time() - t)
            res = json.loads(r.stdout.strip().splitlines()[-1])
            if r.returncode != 0 or not res["correct"]:
                sys.exit(f"{w} seed {seed}: exit {r.returncode}, {res}")
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        report[w] = {"run_s": secs, "metrics": {}}
        for k, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q3 - q1) / med if med else None
            b = bounds.get(k)
            report[w]["metrics"][k] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                       "bound": b, "values": xs}
            flag = "" if b is None or spread is None else (
                "ok" if spread < b / 3 else "WIDE" if spread < b else "FAIL")
            print(f"{w:16s} {k:22s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {spread if spread is not None else float('nan'):.4f} {flag}",
                  flush=True)
        print(f"{w:16s} run wall-clock: median {statistics.median(secs):.1f}s, "
              f"max {max(secs):.1f}s", flush=True)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
