#!/usr/bin/env bash
# One-command local gate (dev tool, not part of the engine): replicates the
# driver's round checks end to end —
#   1. sbt test            (ScalaTest suites, incl. the bench-gate math and
#                           doc-drift self-checks)
#   2. perfbench sbt test  (compiles the meter benchmark against the engine
#                           sources and runs its GenSpec, so an engine
#                           signature change that breaks the benchmark fails)
#   3. graft.Main          (the demo twice into one dir: batch write of the
#                           five meter tables as one slice, then the read-back
#                           golden chain, which must still hold after the
#                           re-run replaced the slice; non-zero exit on
#                           failure. Then the live program, `2 3 <dir>
#                           --stream`, three 1 s micro-batches of all five
#                           tables. Each JVM runs under a JFR recording, and
#                           the stage fails if it started any chmod or
#                           readlink process: a Hadoop conf built outside
#                           Graft.sessionBuilder would bring the stock
#                           forking local FS back)
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
STREAM_DIR="$(mktemp -d /tmp/graft_stream.XXXXXX)"
JFR_DIR="$(mktemp -d /tmp/graft_jfr.XXXXXX)"
trap 'rm -rf "$OUT_DIR" "$DEMO_DIR" "$STREAM_DIR" "$JFR_DIR"' EXIT

echo "== [1/7] sbt test =="
sbt -batch test

echo "== [2/7] perfbench sbt test =="
(cd perfbench && sbt -batch test)

echo "== [3/7] graft.Main demo x2 + --stream =="
# run_main NAME ARGS...: runMain graft.Main ARGS under a JFR recording, and
# fail if that JVM started a chmod or readlink process
run_main() {
  local name="$1" jfr="$JFR_DIR/$1.jfr"
  shift
  sbt -batch \
    "set Compile / run / javaOptions += \"-XX:StartFlightRecording=filename=$jfr,dumponexit=true\"" \
    "runMain graft.Main $*"
  local procs forks
  procs="$(jfr print --events jdk.ProcessStart "$jfr")"
  forks="$(grep -E 'command = "([^" ]*/)?(chmod|readlink) ' <<<"$procs" || true)"
  if [ -n "$forks" ]; then
    echo "$name JVM started $(wc -l <<<"$forks") chmod/readlink processes:"
    head -5 <<<"$forks"
    exit 1
  fi
  echo "$name JVM started no chmod/readlink process"
}
run_main demo demo "$DEMO_DIR"
run_main demo-rerun demo "$DEMO_DIR"
run_main stream 2 3 "$STREAM_DIR" --stream

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
