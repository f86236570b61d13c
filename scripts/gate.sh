#!/usr/bin/env bash
# Pre-commit gate — the exact sequence CLAUDE.md mandates before every
# commit: compile, tests, Verify + the DuckDB oracle, and the Z→μμ
# benchmark's output check at seed 0. Usage:
#   scripts/gate.sh [sfDir]        # default /root/testdata/sf0.01
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/gate.XXXXXX)"

echo "== sbt compile =="
sbt -batch compile
echo "== sbt test =="
sbt -batch test
echo "== Verify + DuckDB oracle ($SF) =="
# Verify's last stdout line names every query that failed to run; an
# absent line means Verify itself died.
SUMMARY="$(sbt -batch "runMain graft.Verify $SF $OUT" 2>/dev/null | grep -o '\[verify\] .*' | tail -1 || true)"
echo "${SUMMARY:-[verify] no summary line (Verify did not finish)}"
case "$SUMMARY" in
  *"failed: none"*) ;;
  *) echo "== gate FAILED: Verify =="; exit 1 ;;
esac
python3 scripts/check.py "$SF" "$OUT"
echo "== Z→μμ histograms against the recorded seed-0 digest =="
# The benchmark's last stdout line is its JSON result; run.py exits
# non-zero when an output check fails, so read the line either way.
RESULT="$(python3 perfbench/run.py --workload zmumu-samples --seed 0 --seconds 1 --trace 0 | tail -1 || true)"
echo "${RESULT:-no result line (the benchmark did not finish)}"
case "$RESULT" in
  *'"correct": true'*) ;;
  *) echo "== gate FAILED: zmumu-samples outputs =="; exit 1 ;;
esac
echo "== gate PASSED =="
