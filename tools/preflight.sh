#!/bin/bash
# Pre-commit gate for any change touching src/ — the round-11
# post-mortem: a one-character interpolation break entered in the
# end-of-round snapshot commit AFTER the last test run and voided the
# whole round's driver evidence. Run this immediately before EVERY
# commit that touches src/:
#
#   tools/preflight.sh            # compile + contract spec + 1-query Verify smoke
#   tools/preflight.sh --full     # also the full test suite
#
# Exits non-zero on any failure; the smoke Verify writes to a temp dir
# and requires a zero return (one failed query or oracle entry fails
# the gate).
set -euo pipefail
cd "$(dirname "$0")/.."
FULL=${1:-}

echo "[preflight] Test/compile..."
sbt -batch "Test/compile" >/tmp/preflight_compile.log 2>&1 || {
  echo "[preflight] COMPILE FAILED:"; tail -30 /tmp/preflight_compile.log; exit 1; }

echo "[preflight] EntryContractSpec (QuerySpec registry: query/oracle/SURVEY bijection)..."
sbt -batch "testOnly graft.EntryContractSpec graft.VerifyRobustnessSpec" \
  >/tmp/preflight_contract.log 2>&1 || {
  echo "[preflight] CONTRACT SPEC FAILED:"
  grep -E "\*\*\*|FAILED|Tests:" /tmp/preflight_contract.log | tail -20; exit 1; }

echo "[preflight] 1-query Verify smoke (q_pricing_summary @ sf0.001)..."
SMOKE=$(mktemp -d /tmp/preflight_smoke.XXXXXX)
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 $SMOKE q_pricing_summary" \
  >/tmp/preflight_verify.log 2>&1 || {
  echo "[preflight] VERIFY SMOKE FAILED:"; tail -30 /tmp/preflight_verify.log; exit 1; }
test -e "$SMOKE/q_pricing_summary" || {
  echo "[preflight] smoke output missing: $SMOKE/q_pricing_summary"; exit 1; }
test -s "$SMOKE/oracle_sql.json" || {
  echo "[preflight] oracle_sql.json missing/empty"; exit 1; }
rm -rf "$SMOKE"

if [ "$FULL" = "--full" ]; then
  echo "[preflight] full test suite..."
  sbt -batch test >/tmp/preflight_test.log 2>&1 || {
    echo "[preflight] TESTS FAILED:"
    grep -E "\*\*\*|FAILED|Tests:" /tmp/preflight_test.log | tail -30; exit 1; }
fi

echo "[preflight] GREEN"
