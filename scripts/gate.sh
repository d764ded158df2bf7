#!/usr/bin/env bash
# Pre-snapshot gate: ALL THREE checks must be green before a round
# closes (round-12/13 lesson: commits claimed "pytest green" while
# test_sql_surface was red — the gate now runs everything and prints
# the three counts to paste into the snapshot commit message).
#
#   1. sbt test          — the full ScalaTest suite
#   2. Verify + oracle   — dump every SparkEntry query at sf0.01 and
#                          compare against DuckDB; also writes the
#                          round's committed CORRECTNESS_SELF_r*.json
#   3. pytest            — the full python/tests suite
#
# Usage: scripts/gate.sh [ROUND_NUMBER]   (default: self)
set -uo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:-self}"
SF="${SF:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/gate_verify.XXXXXX)"
FAIL=0

echo "=== gate 1/3: sbt test ===" >&2
SBT_LOG="$(mktemp)"
if sbt -batch test >"$SBT_LOG" 2>&1; then
  SBT_LINE="$(grep -E 'Tests: succeeded' "$SBT_LOG" | tail -1)"
else
  SBT_LINE="FAILED ($(grep -cE '\*\*\* FAILED' "$SBT_LOG" || true) failures) — see $SBT_LOG"
  FAIL=1
fi
echo "sbt: $SBT_LINE"

echo "=== gate 2/3: Verify + DuckDB oracle (sf0.01) ===" >&2
# Verify's own log keeps each failed query's error ("[verify] q_x
# failed: ...") next to check_queries' "[FAIL] q_x: no parquet dump".
VERIFY_LOG="$(mktemp /tmp/gate_verify_log.XXXXXX)"
VERIFY_RC=0
sbt -batch "runMain graft.Verify $SF $OUT" >"$VERIFY_LOG" 2>&1 || VERIFY_RC=$?
if python3 scripts/check_queries.py "$OUT" "$SF" \
     --json "CORRECTNESS_SELF_r${ROUND}.json" >"$OUT/check.log" 2>&1 \
   && [ "$VERIFY_RC" -eq 0 ]; then
  CHECK_LINE="$(grep -c '^\[OK ' "$OUT/check.log") OK / $(grep -c '^\[' "$OUT/check.log" ) checked (0 FAIL)"
else
  CHECK_LINE="FAILED — $(grep -c '^\[FAIL' "$OUT/check.log" 2>/dev/null || echo '?') failures, Verify exit $VERIFY_RC, see $OUT/check.log and $VERIFY_LOG"
  FAIL=1
fi
echo "check_queries: $CHECK_LINE"
# the DuckDB half is the gate's long pole: name its ten slowest oracles
grep '^slowest oracle' "$OUT/check.log" || true

echo "=== gate 3/3: pytest ===" >&2
PY_LOG="$(mktemp)"
if (cd python && python3 -m pytest tests -q >"$PY_LOG" 2>&1); then
  PY_LINE="$(tail -1 "$PY_LOG")"
else
  PY_LINE="FAILED — $(tail -1 "$PY_LOG") — see $PY_LOG"
  FAIL=1
fi
echo "pytest: $PY_LINE"

echo
echo "=== gate summary (paste into the snapshot commit message) ==="
echo "sbt test: $SBT_LINE"
echo "check_queries sf0.01: $CHECK_LINE"
echo "pytest: $PY_LINE"
exit $FAIL
