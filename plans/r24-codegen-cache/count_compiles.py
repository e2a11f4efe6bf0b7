#!/usr/bin/env python3
"""Generated-class compiles per operation and per pass of one perfbench run.

Usage: count_compiles.py <codegen log> <perfbench run record>

The log is what log4j2-codegen.properties writes (JAVA_TOOL_OPTIONS, see
README.md); the record is the JSON file the run names on its `record:`
line. Each "Code generated in N ms" line is one compile. Each operation
ends with its output writes, logged as "Write Job ... committed": one per
ops query, and one per published index in an etl operation (the forced run
publishes all 4 indices, a supplier round and a line-item round 2 each,
as `pipeline.indices_run` = 8 per traced pass shows). A
compile counts for the first operation whose last write commits after it.
"""
import json
import re
import sys

WRITES = {"full": 4, "round_supplier": 2, "round_lineitem": 2}


def operations(record):
    """(pass, operation) in run order, and the count of write commits
    logged by the end of each."""
    ops = [(p["n"], o["name"]) for p in record["passes"] for o in p["ops"]]
    ends, k = [], 0
    for _, name in ops:
        k += WRITES.get(name, 1)
        ends.append(k)
    return ops, ends


def main(log_path, record_path):
    record = json.load(open(record_path))
    ops, ends = operations(record)

    counts = [[0, 0.0] for _ in ops]
    commits, after = 0, [0, 0.0]
    for line in open(log_path):
        if re.search(r"Write Job \S+ committed", line):
            commits += 1
            continue
        m = re.search(r"Code generated in ([0-9.]+) ms", line)
        if not m:
            continue
        i = next((i for i, e in enumerate(ends) if commits < e), None)
        slot = counts[i] if i is not None else after
        slot[0] += 1
        slot[1] += float(m.group(1))
    if commits != ends[-1]:
        sys.exit(f"{commits} write commits in the log, the record's "
                 f"operations make {ends[-1]}")

    print(f"{record['workload']} seed {record['seed']} "
          f"maxEntries={record['session_conf'].get('spark.sql.codegen.cache.maxEntries', 'unset (100)')}")
    print(f"{'pass':>4} {'operation':<26} {'compiles':>8} {'compile_ms':>10}")
    totals = {}
    for (n, name), (c, ms) in zip(ops, counts):
        print(f"{n:>4} {name:<26} {c:>8} {ms:>10.0f}")
        t = totals.setdefault(n, [0, 0.0])
        t[0] += c
        t[1] += ms
    for n, (c, ms) in sorted(totals.items()):
        print(f"{n:>4} {'(pass total)':<26} {c:>8} {ms:>10.0f}")
    if after[0]:
        print(f"{'':>4} {'(after the last write)':<26} {after[0]:>8} "
              f"{after[1]:>10.0f}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(*sys.argv[1:])
