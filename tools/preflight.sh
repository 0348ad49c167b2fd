#!/usr/bin/env bash
# Round-end preflight: everything the grading driver will exercise, locally.
#   tests -> perfbench self-tests -> vanilla oracle sweep (sf0.01) -> bench (sf0.1)
# Usage: bash tools/preflight.sh [--skip-bench]
set -u
cd "$(dirname "$0")/.."

fail=0

echo "== pytest =="
python -m pytest tests/ -q || fail=1

echo "== benchmark self-tests (perfbench, no Spark) =="
python -m pytest perfbench -q -p no:cacheprovider || fail=1

echo "== oracle sweep (vanilla session, sf0.01 — mirrors the driver) =="
python tools/check_oracle.py --vanilla | tail -3 || fail=1

if [[ "${1:-}" != "--skip-bench" ]]; then
  echo "== bench (sf0.1) =="
  python bench.py || fail=1
fi

if [[ $fail -eq 0 ]]; then
  echo "PREFLIGHT OK"
else
  echo "PREFLIGHT FAILED" >&2
fi
exit $fail
