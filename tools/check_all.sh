#!/usr/bin/env bash
# Full local verification: unit/property tests, the Spark-vs-DuckDB
# oracle gate (the driver's CORRECTNESS replica), and the benchmark.
#   tools/check_all.sh [sf_dir]
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"

echo "== doc counts =="
python tools/check_counts.py

echo "== pytest =="
python -m pytest tests/ -q

echo "== benchmark unit tests =="
python3 -m pytest perfbench/tests -q

echo "== oracle gate ($SF) =="
python tools/oracle_check.py "$SF"

echo "== plan audit (MAX_SCANS gate, $SF) =="
python tools/plan_audit.py --exec "$SF"

echo "== bench (sf0.1, load-gated) =="
# exit 4 = retries exhausted, board committed as informational-only —
# the gate proceeds (bench_compare downgrades itself on load) but the
# distinct code is visible to callers of bench_gated directly.
python tools/bench_gated.py || { rc=$?; [ "$rc" -eq 4 ] || exit "$rc"; }

echo "== bench vs anchor =="
python tools/bench_compare.py
