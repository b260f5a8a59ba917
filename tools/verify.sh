#!/usr/bin/env bash
# Strict local verify: fails loudly on compile errors instead of letting a
# stale /tmp/verify_out masquerade as a green compare.
set -euo pipefail
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/verify_out}"
# any further arguments are query names: run and compare only those
shift $(( $# < 2 ? $# : 2 ))
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF $OUT $*" > /tmp/verify_sbt.log 2>&1 || {
  echo "sbt FAILED — tail of log:"; tail -20 /tmp/verify_sbt.log; exit 1; }
grep -F '[verify]' /tmp/verify_sbt.log || true
python3 "$(dirname "$0")/compare.py" "$SF" "$OUT" "$@"
