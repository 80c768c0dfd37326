#!/usr/bin/env python3
"""Parent-versus-change A/B of netbench, interleaved in pairs.

Exports a git revision (default HEAD) into a temp dir with `git archive`
and runs `python3 netbench/run.py` there ("parent") and in the working
tree ("change"), N pairs per workload. Each pair uses a fresh seed, and
the side that runs first alternates from pair to pair, so a slow spell
of the host lands on both sides alike.

For each (workload, end-to-end metric of BENCHMARK.json) it prints each
side's median and quartiles, the change/parent ratio of the medians,
how many pairs the change won, and the metric's bound. A claimed gain
holds when the change wins at least 9 of 10 pairs and the medians differ
by more than the parent's interquartile range (`claim` column); a
metric regresses when the change's median is worse than the parent's
by more than the bound (`over_bound` column).

Usage (from the repository root):
  python3 tools/netbench_ab.py --pairs 10 --seed 700 --workloads dashboard
  python3 tools/netbench_ab.py --rev HEAD~1 --pairs 3 --out ab.json

It only calls netbench; it writes nothing under netbench/ and does not
touch BENCHMARK.json. Build outputs of the exported side stay in its
temp dir, which is removed at the end unless --keep is given.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def export(rev, dest):
    """The committed tree of `rev` under `dest`."""
    archive = subprocess.run(["git", "archive", "--format=tar", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(cwd, workload, seed, seconds, trace):
    """One netbench run: (result line or None, record or None, stderr tail)."""
    p = subprocess.run(
        [sys.executable, "netbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True)
    record = result = None
    for line in p.stdout.splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if "record" in obj:
            record = obj["record"]
        elif "metrics" in obj:
            result = obj
    return result, record, p.stderr[-2000:]


def quartiles(xs):
    """(q1, median, q3) by linear interpolation; one sample repeats."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs, end_to_end):
    """Per (workload, metric): both sides' quartiles, wins and verdicts."""
    rows = []
    for w in sorted({r["workload"] for r in runs}):
        pairs = {}
        for r in runs:
            if r["workload"] == w and r["result"] is not None:
                pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]
        for m in end_to_end:
            name, lower = m["name"], m["better"] == "lower"
            both = [(p["parent"]["metrics"][name]["value"],
                     p["change"]["metrics"][name]["value"])
                    for p in pairs.values()
                    if all(s in p and name in p[s]["metrics"]
                           for s in ("parent", "change"))]
            if not both:
                continue
            par = [a for a, _ in both]
            chg = [b for _, b in both]
            pq1, pmed, pq3 = quartiles(par)
            cq1, cmed, cq3 = quartiles(chg)
            wins = sum((b < a) if lower else (b > a) for a, b in both)
            worse = (cmed - pmed) / pmed if lower else (pmed - cmed) / pmed
            better = (pmed - cmed) if lower else (cmed - pmed)
            rows.append({
                "workload": w, "metric": name, "pairs": len(both),
                "parent": {"q1": pq1, "median": pmed, "q3": pq3},
                "change": {"q1": cq1, "median": cmed, "q3": cq3},
                "ratio": cmed / pmed if pmed else None,
                "wins": wins, "bound": m["bound"],
                "over_bound": worse > m["bound"],
                "claim": wins >= 0.9 * len(both) and better > pq3 - pq1,
            })
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rev", default="HEAD",
                    help="parent revision to export (default HEAD)")
    ap.add_argument("--workloads", default=None,
                    help="comma-separated; default every BENCHMARK.json workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=700,
                    help="seed of the first pair; pair i uses seed + i")
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None, help="write every run and the summary here")
    ap.add_argument("--keep", action="store_true", help="keep the exported tree")
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in bench["workloads"]])
    seconds = a.seconds or bench["run_seconds"]
    parent_dir = tempfile.mkdtemp(prefix="netbench_ab_")
    export(a.rev, parent_dir)
    sides = {"parent": parent_dir, "change": os.getcwd()}
    runs = []
    try:
        for w in workloads:
            for i in range(a.pairs):
                seed = a.seed + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    result, record, err = run_once(sides[side], w, seed,
                                                   seconds, a.trace)
                    ok = result is not None and result.get("correct", False)
                    runs.append({"workload": w, "seed": seed, "side": side,
                                 "first": side == order[0], "result": result,
                                 "steal_share": record and record.get("steal_share"),
                                 "correct": ok,
                                 "failed": result and result.get("failed")})
                    print(f"[ab] {w} seed={seed} {side}: "
                          + (f"correct={ok} failed={result.get('failed')} "
                             f"steal={record and record.get('steal_share')}"
                             if result else f"NO RESULT\n{err}"),
                          file=sys.stderr, flush=True)
    finally:
        if a.keep:
            print(f"[ab] parent tree kept at {parent_dir}", file=sys.stderr)
        else:
            shutil.rmtree(parent_dir, ignore_errors=True)

    rows = summarize(runs, bench["end_to_end"])
    print(f"{'workload':10} {'metric':24} {'parent q1/med/q3':>30} "
          f"{'change q1/med/q3':>30} {'ratio':>6} {'wins':>6} {'bound':>6} "
          f"{'over_bound':>10} {'claim':>6}")
    for r in rows:
        p, c = r["parent"], r["change"]
        print(f"{r['workload']:10} {r['metric']:24} "
              f"{p['q1']:9.4g} {p['median']:9.4g} {p['q3']:9.4g}  "
              f"{c['q1']:9.4g} {c['median']:9.4g} {c['q3']:9.4g}  "
              f"{r['ratio']:6.3f} {r['wins']:>3}/{r['pairs']:<2} "
              f"{r['bound']:6.2f} {str(r['over_bound']):>10} {str(r['claim']):>6}")
    bad = [r for r in runs if not r["correct"] or r["failed"]]
    print(f"runs: {len(runs)}, incorrect or with failed operations: {len(bad)}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"rev": a.rev, "seconds": seconds, "runs": runs,
                       "summary": rows}, f, indent=1)


if __name__ == "__main__":
    main()
