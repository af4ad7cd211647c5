#!/usr/bin/env bash
# Full local gate — run this against CURRENT /root/testdata before any
# end-of-round snapshot (round-5 postmortem: the snapshot claims were
# written against stale testdata while the suite was red).
#
#   tools/gate.sh [sfDir]          default /root/testdata/sf0.01
#
# Runs: sbt test -> graft.tools.EntrySmoke -> CLI pagerank on bull (cmp against
#   src/test/resources/bull-pr.expected) -> perfbench sbt test -> graft.Verify
#   -> tools/check_oracle.py -> graft.Bench.
# Every stage runs even when an earlier one failed (on a host without the
# reference tree `sbt test` fails its three golden tests, and the later
# stages still have to be seen). Exits 1 at the end, naming each failed
# stage.
set -uo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${GATE_OUT:-/tmp/graft_gate_out}"
BENCH_SF="${BENCH_SF:-/root/testdata/sf0.1}"
FAILED=()

# fail <stage> <rc>: records the stage when rc is non-zero
fail() {
  if [ "$2" -ne 0 ]; then
    echo "GATE FAIL: $1 (rc=$2)"
    FAILED+=("$1")
  fi
}

echo "== gate: sbt test =="
sbt -batch test 2>&1 | tail -6
fail "sbt test" "${PIPESTATUS[0]}"

# the t1 smoke: SparkEntry.entry on a bare session (no graft conf)
echo "== gate: graft.tools.EntrySmoke =="
sbt -batch "runMain graft.tools.EntrySmoke" 2>&1 | grep -E "^ENTRY|error|success" | tail -5
fail "EntrySmoke" "${PIPESTATUS[0]}"

# the paper's query through the CLI on the vendored bull graph, byte for
# byte against its pinned output (recorded at the CLI's default session,
# so the cpu and master overrides are cleared)
echo "== gate: CLI pagerank on bull =="
BULL_OUT="$(mktemp)"
env -u SPARK_GRAFT_CPUS -u SPARK_MASTER sbt -batch \
  "runMain graft.cli.Main pagerank src/test/resources/bull.txt -o $BULL_OUT" 2>&1 \
  | grep -E "^Pagerank|success" | tail -3
rc="${PIPESTATUS[0]}"
if [ "$rc" -eq 0 ]; then
  cmp "$BULL_OUT" src/test/resources/bull-pr.expected
  rc=$?
fi
rm -f "$BULL_OUT"
fail "CLI bull output" "$rc"

# perfbench compiles ../src/main/scala and calls engine APIs positionally:
# an engine signature change must fail here, not in the benchmark run
echo "== gate: perfbench sbt test =="
(cd perfbench && sbt -batch test) 2>&1 | tail -6
fail "perfbench sbt test" "${PIPESTATUS[0]}"

echo "== gate: graft.Verify @ $SF_DIR =="
rm -rf "$OUT_DIR"
sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR" 2>&1 | grep -E "\[verify\]|error|success" | tail -20
fail "Verify" "${PIPESTATUS[0]}"

echo "== gate: oracle compare =="
python3 tools/check_oracle.py "$SF_DIR" "$OUT_DIR"
fail "oracle compare" "$?"

echo "== gate: graft.Bench @ $BENCH_SF =="
SPARK_GRAFT_SF_DIR="$BENCH_SF" sbt -batch "runMain graft.Bench" 2>&1 | grep -E '^\{"metric"'
# sbt's status, then grep's: 1 when Bench printed no JSON line
rcs=("${PIPESTATUS[@]}")
fail "Bench" "$(( rcs[0] || rcs[1] ))"

if [ "${#FAILED[@]}" -ne 0 ]; then
  echo "== gate: FAILED stages: $(IFS=,; echo "${FAILED[*]}" | sed 's/,/, /g') =="
  exit 1
fi
echo "== gate: ALL GREEN =="
