#!/usr/bin/env bash
# Full local gate, all legs. Each leg is independently useful; run all
# before calling a round done.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== leg 1: full suite at sf0.001 (fast), plus the benchmark's own tests"
echo "   (tools/stage_profile.py imports perfbench/layers.py) =="
python -m pytest tests/ -q
python -m pytest perfbench/tests -q

echo "== leg 2: oracle parity at sf0.01 (the driver's scale) =="
SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_parity.py -q

echo "== leg 3: oracle parity at sf0.1 (scale-dependent drift: rounding, overflow) =="
SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.1 python -m pytest tests/test_oracle_parity.py -q

echo "== leg 4: driver-style contract harness (plain session, sf0.01)."
echo "   Writes the round's full-registry correctness artifact — COMMIT IT"
echo "   (VERDICT r12 item 2: the artifact belongs in git every round) =="
ROUND_N="${ROUND_N:-$(ls CORRECTNESS_r*.json 2>/dev/null | sed -E 's/.*_r0*([0-9]+)\.json/\1/' | sort -n | tail -1)}"
CONTRACT_JSON_OUT="CORRECTNESS_FULL_r$(printf '%02d' $((ROUND_N + 1))).json" \
  python tools/drive_contract.py 2>&1 | tail -3

echo "== leg 5: bench JSON line at sf0.1 =="
python bench.py 2>/dev/null | tail -1

echo "== leg 6: physical-plan audit (red flags fail the leg) =="
python tools/plan_audit.py 2>/dev/null | tail -1

echo "== leg 7: doc regen + regen guards (MUST be the last step before any"
echo "   end-of-round commit — a registry edit can never ship with stale"
echo "   docs/QUERIES.md or README counts again) =="
python tools/gen_query_table.py
python -m pytest tests/test_survey_coverage.py -q
if ! git diff --quiet -- docs/QUERIES.md; then
  echo "ERROR: docs/QUERIES.md was stale — regen changed it; commit the regen" >&2
  exit 1
fi

echo "== leg 8: bench coverage — BENCH_FULL.json times every row of bench.py's table =="
python - <<'EOF'
import json, sys
sys.path.insert(0, ".")
import bench
rows = set(bench._rows(bench.PKG))
with open("BENCH_FULL.json") as fh:
    benched = set(json.load(fh)["queries"])
if benched != rows:
    print(f"ERROR: unbenched rows: {sorted(rows - benched)}; "
          f"rows not in the table: {sorted(benched - rows)}", file=sys.stderr)
    raise SystemExit(1)
print(f"bench coverage OK: {len(benched)} benched / {len(rows)} rows")
EOF

echo "== lines of git-tracked .py under the package + tools/ (ROADMAP aim 2) =="
git ls-files 'url_counter_mapreduce_spark/*.py' 'tools/*.py' | xargs cat | wc -l
