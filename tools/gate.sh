#!/usr/bin/env bash
# Every gate in one run (tests, doc counts, oracle check, vanilla smoke, bench):
#   bash tools/gate.sh
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== gate 1: unit + property tests"
TEST_LOG="$(mktemp)"
sbt -batch test 2>&1 | tee "$TEST_LOG" | grep -E "Tests:|Passed: Total|\*\*\*" | tail -4
echo "== gate 1b: doc counts match what the tools emit"
python3 tools/counts.py "$TEST_LOG"

echo "== gate 2: DuckDB differential correctness (sf0.01)"
rm -rf /tmp/gate_verify # a stale output must not stand in for a failed query
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_verify" \
  2>&1 | grep -E '\[verify\]' || true
python3 tools/check.py /root/testdata/sf0.01 /tmp/gate_verify | tail -1

echo "== gate 2b: flagship under a vanilla session (no graft extensions)"
sbt -batch "runMain graft.tools.VanillaSmoke" 2>&1 | grep -E '\[vanilla-smoke\]'

echo "== gate 3: bench (sf0.1)"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  sbt -batch "runMain graft.Bench" 2>&1 | grep -o '{"metric.*}'

echo "== snapshot: commit any refreshed records"
bash tools/snapshot.sh
