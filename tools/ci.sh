#!/usr/bin/env bash
# One-command local gate (dev tool, not part of the engine): replicates the
# driver's round checks end to end —
#   1. sbt test            (ScalaTest suites, incl. the bench-gate math and
#                           doc-drift self-checks)
#   2. perfbench sbt test  (compiles the meter benchmark against the engine
#                           sources and runs its GenSpec, so an engine
#                           signature change that breaks the benchmark fails)
#   3. graft.Main demo     (batch write of the five meter tables, then the
#                           read-back golden chain; non-zero exit on failure;
#                           run under a JFR recording, and the stage fails if
#                           the demo JVM started any chmod or readlink process:
#                           a Hadoop conf built outside Graft.sessionBuilder
#                           would bring the stock forking local FS back)
#   4. graft.Verify        (driver-contract correctness dump at sf0.01)
#   5. verify_local.py     (DuckDB oracle replay + row/schema compare)
#   6. bench_gate.py       (2x criterion against BASELINE.md's frozen row,
#                           over the committed full-precision bench.json;
#                           the one gate implementation: fails a frozen
#                           subtotal over 1.8x or short of its members,
#                           prints `warn` above 90% of the limit)
#   7. doc_drift.py        (README/SURVEY query-id sync with the registry;
#                           README `Object.member` references and
#                           src/main scaladoc links resolve)
#
# Usage: tools/ci.sh [sfDir]         (default /root/testdata/sf0.01)
# Exits non-zero on the first failing stage.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="$(mktemp -d /tmp/graft_ci.XXXXXX)"
DEMO_DIR="$(mktemp -d /tmp/graft_demo.XXXXXX)"
JFR_DIR="$(mktemp -d /tmp/graft_jfr.XXXXXX)"
trap 'rm -rf "$OUT_DIR" "$DEMO_DIR" "$JFR_DIR"' EXIT

echo "== [1/7] sbt test =="
sbt -batch test

echo "== [2/7] perfbench sbt test =="
(cd perfbench && sbt -batch test)

echo "== [3/7] graft.Main demo =="
DEMO_JFR="$JFR_DIR/demo.jfr"
sbt -batch \
  "set Compile / run / javaOptions += \"-XX:StartFlightRecording=filename=$DEMO_JFR,dumponexit=true\"" \
  "runMain graft.Main demo $DEMO_DIR"
DEMO_PROCS="$(jfr print --events jdk.ProcessStart "$DEMO_JFR")"
DEMO_FORKS="$(grep -E 'command = "([^" ]*/)?(chmod|readlink) ' <<<"$DEMO_PROCS" || true)"
if [ -n "$DEMO_FORKS" ]; then
  echo "demo JVM started $(wc -l <<<"$DEMO_FORKS") chmod/readlink processes:"
  head -5 <<<"$DEMO_FORKS"
  exit 1
fi
echo "demo JVM started no chmod/readlink process"

echo "== [4/7] graft.Verify $SF_DIR =="
env SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR"

echo "== [5/7] oracle compare =="
python3 tools/verify_local.py "$OUT_DIR" "$SF_DIR"

echo "== [6/7] bench gate =="
python3 tools/bench_gate.py

echo "== [7/7] doc drift =="
python3 tools/doc_drift.py

echo "CI GREEN: tests + perfbench tests + demo + verify + oracle + bench gate + doc sync"
