#!/bin/bash
# One perfbench run with generated-class compiles counted per operation.
# perfbench itself is unchanged: the log4j config reaches its JVM through
# JAVA_TOOL_OPTIONS. Build the checkout's perfbench first (any plain run),
# so that sbt does not start under the same options.
# Usage: count_run.sh <checkout> <etl|ops> <seed> <out-prefix>
# Writes <out-prefix>.log (compiles and writes), .out (run.py's output),
# .record.json (the run record) and .counts.txt (count_compiles.py).
set -eu
HERE="$(cd "$(dirname "$0")" && pwd)"
CHECKOUT="$1"; WORKLOAD="$2"; SEED="$3"; OUT="$(realpath -m "$4")"
mkdir -p "$(dirname "$OUT")"
rm -f "$OUT.log"
cd "$CHECKOUT"
JAVA_TOOL_OPTIONS="-Dlog4j2.configurationFile=$HERE/log4j2-codegen.properties -Dcodegen.log=$OUT.log ${CODEGEN_EXTRA_OPTS:-}" \
  python3 perfbench/run.py --workload "$WORKLOAD" --seed "$SEED" \
  --seconds 30 --trace 0 > "$OUT.out" 2>&1
cp "$(sed -n 's/^record: //p' "$OUT.out")" "$OUT.record.json"
python3 "$HERE/count_compiles.py" "$OUT.log" "$OUT.record.json" \
  > "$OUT.counts.txt"
cat "$OUT.counts.txt"
