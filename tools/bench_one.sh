#!/bin/bash
# Isolated fresh-JVM timing of a query subset, run against the compiled
# classes (build first with `sbt compile`).
# Usage: SF_DIR=<tables dir> [REPS=3] [CPUS=n] tools/bench_one.sh q1[,q2...]
# CPUS defaults to the session factory's rule (every core the JVM sees).
# Prints the detail JSON line to stdout; fails loudly (non-zero) when a
# query throws, a name is unknown, or the JVM dies before printing it.
set -u -o pipefail
HERE="$(cd "$(dirname "$0")" && pwd)"
: "${SF_DIR:?SF_DIR must name the input tables directory}"
out=$(env SPARK_GRAFT_SF_DIR="$SF_DIR" ${CPUS:+SPARK_GRAFT_CPUS="$CPUS"} \
  SPARK_GRAFT_BENCH_ONLY="$1" SPARK_GRAFT_BENCH_REPS="${REPS:-3}" \
  "$HERE/run_main.sh" graft.Bench)
rc=$?
line=$(echo "$out" | grep '"metric":"detail"' | tail -1)
if [ -z "$line" ]; then
  echo "bench_one: no detail line for '$1' (exit $rc)" >&2
  exit 1
fi
echo "$line"
exit $rc
