#!/bin/sh
# One-command release gate: unit/differential tests, the benchmark's
# self-tests, the DuckDB oracle catalog at sf0.01, and the physical-plan
# audit. Exits non-zero on the first failing stage.
set -e
cd "$(dirname "$0")/.."
echo "== pytest =="
python -m pytest tests/ -q
echo "== benchmark self-tests =="
python -m pytest perfbench/test_perfbench.py -q
echo "== oracle catalog (sf0.01) =="
python tools/check_correctness.py
echo "== plan audit =="
python tools/explain_audit.py
echo "== catalog inventory freshness =="
python tools/catalog_report.py | diff - CATALOG.md
echo "== SURVEY inventory vs shipped artifacts =="
python tools/survey_consistency.py --check
echo "ALL GATES GREEN"
