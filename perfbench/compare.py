#!/usr/bin/env python3
"""Run sets of benchmark runs and compare two sets.

    python3 perfbench/compare.py run --out DIR [--workloads chat,search,curate]
                                     [--seeds 1-10] [--trace 0]
    python3 perfbench/compare.py diff PARENT_DIR CHANGE_DIR

`run` saves each run's result line as DIR/<workload>-<seed>.json and
prints, per (metric, workload), the median and the quartile spread as a
share of the median next to the metric's bound.

`diff` pairs runs by (workload, seed) and prints, per (metric, workload),
each side's median and quartiles and a verdict: `better` or `worse` when
one side wins at least 9 of 10 pairs (ties count for neither) and the
medians differ by more than the parent's quartile distance, otherwise
`unresolved`. `in_bound` says whether the change's median is within the
metric's bound of the parent's.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def seeds(s):
    lo, _, hi = s.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def load(d):
    runs = {}
    for f in glob.glob(os.path.join(d, "*.json")):
        w, s = os.path.basename(f)[:-5].rsplit("-", 1)
        runs[(w, int(s))] = json.load(open(f))
    return runs


def metric_specs(trace):
    if trace:
        return [dict(m, bound=None) for m in SPEC["per_layer"]]
    return SPEC["end_to_end"]


def cmd_run(a):
    os.makedirs(a.out, exist_ok=True)
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(SPEC["run_seconds"]),
                                "--trace", str(a.trace)], capture_output=True, text=True)
            line = r.stdout.strip().splitlines()[-1] if r.returncode == 0 else "{}"
            with open(os.path.join(a.out, f"{w}-{s}.json"), "w") as f:
                f.write(line + "\n")
            print(f"{w} seed {s}: exit {r.returncode} {line[:160]}", flush=True)
    runs = load(a.out)
    print(f"\n{'metric':<16}{'workload':<10}{'median':>14}{'iqr/median':>12}{'bound':>8}  fail")
    for m in metric_specs(a.trace):
        for w in a.workloads.split(","):
            rs = [r for (rw, _), r in runs.items() if rw == w and r.get("metrics")]
            v = [r["metrics"][m["name"]]["value"] for r in rs]
            if not v:
                continue
            q1, med, q3 = quartiles(v)
            spread = (q3 - q1) / med if med else 0.0
            failed = sum(r["failed"] for r in rs) + sum(not r["correct"] for r in rs)
            print(f"{m['name']:<16}{w:<10}{med:14.4f}{spread:12.4f}{m['bound'] or 0:8.2f}  {failed}")


def cmd_diff(a):
    parent, change = load(a.parent), load(a.change)
    keys = sorted(set(parent) & set(change))
    print(f"{'metric':<16}{'workload':<10}{'parent q1/med/q3':>32}{'change q1/med/q3':>32}"
          f"{'wins':>7}  verdict     in_bound")
    for m in metric_specs(a.trace):
        lower = m["better"] == "lower"
        for w in sorted({k[0] for k in keys}):
            pairs = [(parent[k]["metrics"][m["name"]]["value"], change[k]["metrics"][m["name"]]["value"])
                     for k in keys if k[0] == w and parent[k].get("metrics") and change[k].get("metrics")]
            if not pairs:
                continue
            pv, cv = [p for p, _ in pairs], [c for _, c in pairs]
            pq, cq = quartiles(pv), quartiles(cv)
            better = sum((c < p) if lower else (c > p) for p, c in pairs)
            worse = sum((c > p) if lower else (c < p) for p, c in pairs)
            gap = abs(cq[1] - pq[1]) > pq[2] - pq[0]
            verdict = ("better" if better >= 0.9 * len(pairs) and gap else
                       "worse" if worse >= 0.9 * len(pairs) and gap else "unresolved")
            bound = m.get("bound")
            if bound is None:
                in_bound = "-"
            else:
                worse_by = (cq[1] - pq[1]) if lower else (pq[1] - cq[1])
                in_bound = "yes" if worse_by <= bound * abs(pq[1]) else "no"
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"{m['name']:<16}{w:<10}{fmt(pq):>32}{fmt(cq):>32}{better:>4}/{len(pairs):<2}"
                  f"  {verdict:<11} {in_bound}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, default=0)
    d = sub.add_parser("diff")
    d.add_argument("parent")
    d.add_argument("change")
    d.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    cmd_run(a) if a.cmd == "run" else cmd_diff(a)


if __name__ == "__main__":
    main()
