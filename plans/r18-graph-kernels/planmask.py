#!/usr/bin/env python3
"""Mask run-specific ids in Spark plans so two runs' plans can be diffed.

    planmask.py explain <graft.Explain output> <out>
    planmask.py events  <uncompressed Spark event log> <out>

`explain` masks expression ids (#123), exchange plan ids (plan_id=4) and
the JVM's generated lambda class names (Bpe$$$Lambda$4295/0x00007f...),
whose counter and address depend on class-loading order, not on the plan.
`events` writes the physical plan of every SQL execution the run started,
in order, with the same masks plus RDD ids and the call sites of
checkpointed RDDs."""
import json
import re
import sys


def mask(text):
    text = re.sub(r"#\d+L?", "#N", text)
    text = re.sub(r"\$Lambda\$\d+/0x[0-9a-f]+", "$Lambda$N", text)
    return re.sub(r"plan_id=\d+", "plan_id=N", text)


mode, src, out = sys.argv[1:4]
if mode == "explain":
    result = mask(open(src).read())
else:
    plans = []
    for line in open(src):
        e = json.loads(line)
        if e.get("Event", "").endswith("SparkListenerSQLExecutionStart"):
            d = mask(e.get("physicalPlanDescription", ""))
            d = re.sub(r"\w+RDD\[\d+\] at \w+ at \w+\.scala:\d+", "RDD[N]", d)
            plans.append(re.sub(r"\[\d+\]", "[N]", d))
    result = "\n=====\n".join(plans)
open(out, "w").write(result)
