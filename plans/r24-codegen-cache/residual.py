#!/usr/bin/env python3
"""Why a warm pass still compiles: each warm compile against every earlier one.

Usage: residual.py <codegen log at debug level> <perfbench run record>

The log comes from count_run.sh with CODEGEN_EXTRA_OPTS=-Dcodegen.level=debug,
so each compile is preceded by its source. For every compile after the
cold pass it prints the operation, the whole-stage codegen id in the class
name, the source length, and whether an earlier compile had the same
source ("exact", which a cache hit would have served) or the same source
once the codegen id is masked ("same but id"). A compile that is neither
is a plan shape no earlier pass produced. Spark 4 keys its class cache by
the thread's context class loader as well as the source, and executor
task threads run under a session class loader, so driver-side and
task-side compiles are compared only with their own side.
"""
import json
import re
import sys

from count_compiles import operations

ENTRY = re.compile(r"^\d{13} \[([^\]]*)\] (\w+): (.*)$")


def compiles(log_path):
    """(commits before it, thread, source) per compile, in log order."""
    out, commits, src = [], 0, None
    for line in open(log_path):
        m = ENTRY.match(line)
        if not m:
            if src is not None:
                src.append(re.sub(r"^/\* \d+ \*/ ?", "", line))
            continue
        thread, logger, msg = m.groups()
        if src is not None:
            out.append((commits, thread, "".join(src)))
            src = None
        if logger == "FileFormatWriter" and " committed" in msg:
            commits += 1
        elif logger == "CodeGenerator" and not msg.strip():
            src = []
    return out


def main(log_path, record_path):
    ops, ends = operations(json.load(open(record_path)))
    cold_end = ends[sum(1 for n, _ in ops if n == 0) - 1]

    def mask(s):
        return re.sub(r"CodegenStage\d+", "CodegenStageN",
                      re.sub(r"// codegenStageId=\d+\n", "", s))

    seen, seen_masked = set(), set()
    counts = {"exact": 0, "same but id": 0, "new shape": 0}
    print(f"{'pass':>4} {'operation':<24} {'id':>3} {'length':>6}  "
          f"{'earlier compile':<15} side")
    for commits, thread, src in compiles(log_path):
        side = "executor" if thread.startswith("Executor") else "driver"
        key, masked = (side, src), (side, mask(src))
        if commits >= cold_end:
            i = next(i for i, e in enumerate(ends) if commits < e)
            m = re.search(r"CodegenStage(\d+)", src)
            kind = ("exact" if key in seen else
                    "same but id" if masked in seen_masked else
                    "new shape")
            counts[kind] += 1
            print(f"{ops[i][0]:>4} {ops[i][1]:<24} "
                  f"{m.group(1) if m else '-':>3} {len(src):>6}  "
                  f"{kind:<15} {side}")
        seen.add(key)
        seen_masked.add(masked)
    print(", ".join(f"{v} {k}" for k, v in counts.items()))


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(*sys.argv[1:])
