#!/usr/bin/env bash
# Smoke test of the benchmark itself: a tiny run (sf0.001, 1 s window) of
# every workload, which exercises the raw-zone generator and the
# correctness gate; then the gate must fail a run whose reference holds
# one extra row.
#
#   bash lakebench/smoke.sh          (from the root of a checkout)
set -uo pipefail
cd "$(dirname "$0")/.."
tiny=(--seed 7 --seconds 1 --scale 0.001)
for w in cdc_uniform_cow cdc_recent_mor lake_query; do
  if ! out=$(python3 lakebench/run.py --workload "$w" "${tiny[@]}" 2>/dev/null); then
    echo "FAIL $w: run exited non-zero"; exit 1
  fi
  grep -q '"correct": *true' <<<"${out##*$'\n'}" || { echo "FAIL $w: not correct"; exit 1; }
  echo "ok   $w"
done
out=$(python3 lakebench/run.py --workload cdc_recent_mor "${tiny[@]}" --inject-mismatch 1 2>/dev/null)
code=$?
if [ "$code" -eq 0 ] || ! grep -q '"correct": *false' <<<"${out##*$'\n'}"; then
  echo "FAIL gate: an injected mismatch was not caught (exit $code)"; exit 1
fi
echo "ok   gate catches an injected mismatch"
