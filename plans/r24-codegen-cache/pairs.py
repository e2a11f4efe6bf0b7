#!/usr/bin/env python3
"""Alternating perfbench pairs, parent against change.

    pairs.py <parent checkout> <change checkout> <etl|ops> <first seed>
             <last seed> <out.jsonl> [--trace]

Odd seeds run the parent first, even seeds the change first. Each run
appends one line {"side", "workload", "seed", "exit", "result"} to the
output, where `result` is the JSON line run.py printed last, verbatim.
With --trace, run.py's whole output is also kept next to the output file
as trace-<side>-s<seed>-<workload>.txt.
"""
import json
import os
import subprocess
import sys


def run(checkout, workload, seed, trace):
    p = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "30", "--trace", str(int(trace))],
        cwd=checkout, capture_output=True, text=True)
    last = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    return p, (json.loads(last[-1]) if last else None)


def main():
    args = [a for a in sys.argv[1:] if a != "--trace"]
    trace = "--trace" in sys.argv[1:]
    if len(args) != 6:
        sys.exit(__doc__)
    parent, change, workload, first, last, out = args
    sides = {"parent": parent, "change": change}
    for seed in range(int(first), int(last) + 1):
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        for side in order:
            p, result = run(sides[side], workload, seed, trace)
            line = {"side": side, "workload": workload, "seed": seed,
                    "exit": p.returncode, "result": result}
            with open(out, "a") as f:
                f.write(json.dumps(line) + "\n")
            if trace:
                name = f"trace-{side}-s{seed}-{workload}.txt"
                with open(os.path.join(os.path.dirname(out), name), "w") as f:
                    f.write(p.stdout + p.stderr)
            # a traced run reports the per-layer metrics only
            wall = (result or {}).get("metrics", {}).get("wall_s", {})
            print(f"{workload} seed {seed} {side}: exit {p.returncode} "
                  f"wall_s {wall.get('value')}", flush=True)


if __name__ == "__main__":
    main()
