#!/usr/bin/env bash
# Pre-commit gate — the exact sequence CLAUDE.md mandates before every
# commit (mirrors the driver's t2 gate + test suite). Usage:
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
echo "== gate PASSED =="
