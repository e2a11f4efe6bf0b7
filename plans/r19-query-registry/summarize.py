#!/usr/bin/env python3
"""Summarize alternating perfbench pairs: per workload and end-to-end
metric, the parent's and the change's quartiles, the median delta, the
pairs the change won and whether the delta is inside the BENCHMARK.json
bound.

    summarize.py perf.jsonl BENCHMARK.json
"""
import json
import statistics
import sys
from collections import defaultdict

runs = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
bench = json.load(open(sys.argv[2]))
metrics = [(m["name"], m["bound"]) for m in bench["end_to_end"]]


def quartiles(v):
    q = statistics.quantiles(v, n=4, method="inclusive")
    return q[0], statistics.median(v), q[2]


by = defaultdict(dict)
for r in runs:
    by[r["workload"]].setdefault(r["seed"], {})[r["side"]] = r
for wl, seeds in by.items():
    pairs = {s: p for s, p in seeds.items() if len(p) == 2}
    ok = all(p[x]["exit"] == 0 and p[x]["result"].get("correct") is True
             for p in pairs.values() for x in p)
    failed = sum(p[x]["result"].get("failed", 0) for p in pairs.values()
                 for x in p)
    print(f"== {wl} (seeds {min(pairs)}-{max(pairs)})")
    print(f"pairs: {len(pairs)}; correct everywhere: {ok}; failed: {failed}")
    print(f"{'metric':<14}{'parent q1/med/q3':>28}{'change q1/med/q3':>28}"
          f"{'IQR(par)':>10}{'delta':>8}{'wins':>6}  bound")
    for name, bound in metrics:
        val = lambda r: r["result"]["metrics"][name]["value"]
        par = [val(p["parent"]) for p in pairs.values()]
        chg = [val(p["change"]) for p in pairs.values()]
        wins = sum(val(p["change"]) < val(p["parent"]) for p in pairs.values())
        qp, qc = quartiles(par), quartiles(chg)
        delta = qc[1] / qp[1] - 1
        fmt = lambda q: "/".join(f"{x:8.3f}" for x in q)
        print(f"{name:<14}{fmt(qp):>28}{fmt(qc):>28}{qp[2] - qp[0]:10.3f}"
              f"{delta * 100:+7.1f}% {wins}/{len(pairs)}  "
              f"{'ok' if delta <= bound else 'OVER'}")
    print()
