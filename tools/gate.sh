#!/usr/bin/env bash
# Full local gate — run this against CURRENT /root/testdata before any
# end-of-round snapshot (round-5 postmortem: the snapshot claims were
# written against stale testdata while the suite was red).
#
#   tools/gate.sh [sfDir]          default /root/testdata/sf0.01
#
# Chains: sbt test -> graft.tools.EntrySmoke -> perfbench sbt test -> graft.Verify
#   -> tools/check_oracle.py -> graft.Bench.
# Exits non-zero on the first failing stage.
set -uo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${GATE_OUT:-/tmp/graft_gate_out}"
BENCH_SF="${BENCH_SF:-/root/testdata/sf0.1}"

echo "== gate: sbt test =="
sbt -batch test 2>&1 | tail -6
rc=${PIPESTATUS[0]}
[ "$rc" -ne 0 ] && { echo "GATE FAIL: sbt test (rc=$rc)"; exit 1; }

# the t1 smoke: SparkEntry.entry on a bare session (no graft conf)
echo "== gate: graft.tools.EntrySmoke =="
sbt -batch "runMain graft.tools.EntrySmoke" 2>&1 | grep -E "^ENTRY|error|success" | tail -5
rc=${PIPESTATUS[0]}
[ "$rc" -ne 0 ] && { echo "GATE FAIL: EntrySmoke (rc=$rc)"; exit 1; }

# perfbench compiles ../src/main/scala and calls engine APIs positionally:
# an engine signature change must fail here, not in the benchmark run
echo "== gate: perfbench sbt test =="
(cd perfbench && sbt -batch test) 2>&1 | tail -6
rc=${PIPESTATUS[0]}
[ "$rc" -ne 0 ] && { echo "GATE FAIL: perfbench sbt test (rc=$rc)"; exit 1; }

echo "== gate: graft.Verify @ $SF_DIR =="
rm -rf "$OUT_DIR"
sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR" 2>&1 | grep -E "\[verify\]|error|success" | tail -20
rc=${PIPESTATUS[0]}
[ "$rc" -ne 0 ] && { echo "GATE FAIL: Verify (rc=$rc)"; exit 1; }

echo "== gate: oracle compare =="
python3 tools/check_oracle.py "$SF_DIR" "$OUT_DIR" || { echo "GATE FAIL: oracle"; exit 1; }

echo "== gate: graft.Bench @ $BENCH_SF =="
SPARK_GRAFT_SF_DIR="$BENCH_SF" sbt -batch "runMain graft.Bench" 2>&1 | grep -E '^\{"metric"' \
  || { echo "GATE FAIL: bench printed no JSON line"; exit 1; }

echo "== gate: ALL GREEN =="
