#!/usr/bin/env python3
"""Steadiness of the benchmark: two interleaved sets of runs per workload.

    python3 netbench/steadiness.py --runs 5 [--seconds N] [--trace]

Run from the repository root. For each workload, run i of set A and run i
of set B use seeds 100+i and 200+i and alternate. For every (workload,
end-to-end metric) it prints each set's median and quartiles, the
interquartile spread as a share of the median, and the set-to-set
difference of the medians, against the metric's bound in BENCHMARK.json:
"NOT STEADY" when the medians differ by more than the bound or the
spread exceeds it (setup_s: medians only), "within bound" when the
spread is at least a third of the bound, else "ok". With --trace it also
runs each workload once traced and prints the tracing overhead on every
end-to-end metric.
"""
import argparse
import json
import statistics
import subprocess
import sys


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, "netbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload} seed {seed} failed ({p.returncode}):\n"
                 f"{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    for w in (x["name"] for x in bench["workloads"]):
        sets = {"A": [], "B": []}
        for i in range(a.runs):
            for s, base in (("A", 100), ("B", 200)):
                sets[s].append(run(w, base + i, seconds, 0)[1]["metrics"])
        print(f"\n{w}: {a.runs} runs per set, {seconds} s")
        print(f"{'metric':22} {'set':3} {'q1':>10} {'median':>10} {'q3':>10}"
              f" {'iqr/med':>8} {'A->B':>8} {'bound':>6}")
        for m, spec in bounds.items():
            med = {}
            for s in ("A", "B"):
                q1, q2, q3 = quartiles([r[m]["value"] for r in sets[s]])
                med[s] = q2
                spread = (q3 - q1) / q2
                print(f"{m:22} {s:3} {q1:10.4g} {q2:10.4g} {q3:10.4g}"
                      f" {spread:8.3f}", end="")
                if s == "B":
                    worse = (med["B"] - med["A"]) / med["A"]
                    if spec["better"] == "higher":
                        worse = -worse
                    b = spec["bound"]
                    if worse > b or (m != "setup_s" and spread > b):
                        verdict = "NOT STEADY"
                    elif m != "setup_s" and spread >= b / 3:
                        verdict = "within bound"
                    else:
                        verdict = "ok"
                    print(f" {worse:8.3f} {b:6.2f} {verdict}")
                else:
                    print()
        if a.trace:
            rec, _ = run(w, 100, seconds, 1)
            print(f"{w} traced run, overhead on the set-A medians:")
            traced_e2e = rec["traced_end_to_end"]
            if "refused" in traced_e2e:
                print(f"  refused: {traced_e2e['refused']}")
                continue
            for m in bounds:
                base = statistics.median(r[m]["value"] for r in sets["A"])
                traced = traced_e2e[m]["value"]
                print(f"  {m:22} {traced:10.4g} ({traced / base - 1:+.1%})")


if __name__ == "__main__":
    main()
