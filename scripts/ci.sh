#!/bin/sh
# One-command pre-commit gate: every check the repo maintains, cheapest
# first. Usage:  sh scripts/ci.sh [--full]
#   default: oracle type sweep + plan audit + pytest + perfbench's tests
#   --full : adds the full-registry strict driver-replica sweep (slow)
set -e
cd "$(dirname "$0")/.."

echo "== 1/7 oracle result-type sweep (no Spark, ~12 s) =="
python scripts/preflight.py --types-only

echo "== 2/7 plan-shape audit vs PLAN_BUDGETS.json (~90 s) =="
python scripts/plan_audit.py

echo "== 3/7 pytest =="
python -m pytest tests/ -x -q

echo "== 4/7 perfbench's own tests (~3 s) =="
python -m pytest perfbench -q -p no:cacheprovider

if [ "$1" = "--full" ]; then
  echo "== 5/7 full-registry strict driver-replica sweep (sf0.01) =="
  python scripts/preflight.py --strict
  echo "== 6/7 cross-SF sweep (sf0.1 — catches scale-dependent divergence) =="
  python scripts/preflight.py --sf-dir /root/testdata/sf0.1
  echo "== 7/7 empty-input robustness sweep (~60 s) =="
  python scripts/empty_sweep.py
else
  echo "== 5-7/7 skipped (pass --full for strict + cross-SF + empty sweeps) =="
fi

if [ "$1" = "--fuzz" ] || [ "$2" = "--fuzz" ]; then
  echo "== fuzz: full-registry sweep on a GENERATED adversarial dir =="
  python scripts/fuzz_sweep.py 0
fi
echo "CI OK"
