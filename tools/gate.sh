#!/bin/sh
# The required pre-commit gate (ADVICE r04 item 5: the full-registry local
# oracle check is mandatory — the driver's CORRECTNESS window only covers
# ~50 entries per round, so external re-verification of rotated-out
# operators depends on this running every time):
#   1. registry/oracle/OPERATORS.md consistency
#   2. every queries() entry vs its DuckDB oracle, exact values, sf0.01
#   3. the full pytest suite
#   4. the benchmark's smoke test: every perfbench workload and check,
#      untraced and traced, at 200 companies (about a minute on 4 vCPUs)
set -e
cd "$(dirname "$0")/.."
python tools/check_matrix.py
python tools/check_oracle.py /root/testdata/sf0.01
python -m pytest tests/ -q
python3 perfbench/smoke.py
