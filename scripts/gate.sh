#!/usr/bin/env bash
# Pre-snapshot gate (VERDICT r7 "Next round" #3): a round must not ship
# with a red test suite or erroring bench queries. Runs the check.py and
# perfbench arithmetic self-tests, the full ScalaTest suite, then a
# single-scale bench smoke at sf0.01 (every declared query, min-of-2),
# and FAILS (non-zero exit) if any is red. Output is meant
# to be captured into GATE.md by the round's final commit:
#
#   scripts/gate.sh 2>&1 | tee GATE.md
#
# Env: SPARK_GRAFT_GATE_SF (default /root/testdata/sf0.01).
set -uo pipefail
cd "$(dirname "$0")/.."
GATE_SF="${SPARK_GRAFT_GATE_SF:-/root/testdata/sf0.01}"

echo "# GATE — $(date -u +%Y-%m-%dT%H:%M:%SZ) @ $(git rev-parse --short HEAD 2>/dev/null || echo nogit)"
echo

echo "## check.py dtype-strictness self-test"
if python3 scripts/check_selftest.py; then
  selftest_ok=1
else
  selftest_ok=0
fi
echo

echo "## perfbench arithmetic unit tests"
# no bytecode caches left under perfbench/
if PYTHONDONTWRITEBYTECODE=1 python3 -m unittest discover -s perfbench/tests; then
  perfbench_ok=1
else
  perfbench_ok=0
fi
echo

echo "## sbt test"
if sbt -batch test > /tmp/gate_test.log 2>&1; then
  grep -E "^\[info\] (Tests:|Suites:)" /tmp/gate_test.log | tail -2
  echo "TESTS: GREEN"
  tests_ok=1
else
  grep -E "\*\*\* FAILED|^\[info\] (Tests:|Suites:)|^\[error\]" /tmp/gate_test.log | tail -30
  echo "TESTS: RED (full log: /tmp/gate_test.log)"
  tests_ok=0
fi
echo

echo "## bench smoke ($GATE_SF, single scale)"
SPARK_GRAFT_SF_DIR="$GATE_SF" SPARK_GRAFT_SF2_DIR=off \
  sbt -batch "runMain graft.Bench" > /tmp/gate_bench.log 2>&1
# sbt may prefix run stdout with "[info] " — extract the JSON payload
# wherever it starts on the line. Bench prints TWO json lines since r11
# (full per-query line, then a compact tail-window summary); the gate's
# error check needs the FULL line — the one carrying "queries":{...}.
bench_line=$(grep -o '{"metric".*"queries":{.*' /tmp/gate_bench.log | tail -1)
if [ -z "$bench_line" ]; then
  echo "BENCH: RED — no JSON line produced (full log: /tmp/gate_bench.log)"
  grep -iE "failed|exception" /tmp/gate_bench.log | head -20
  bench_ok=0
else
  errors=$(python3 -c "
import json,sys
d=json.loads(sys.argv[1])
errs=d.get('errors',[])+d.get('errors_sf2',[])
# gate-phase queries (run once outside the timed passes since r16)
# report -1 on failure inside 'gates'/'gates_sf2'
for fld in ('gates','gates_sf2'):
    errs += [k for k,v in d.get(fld,{}).items() if v < 0]
print(' '.join(errs))
print(f\"queries={len(d.get('queries',{}))} total={d.get('value')}s ingest={d.get('ingest_rows_per_sec',0):.0f} rows/s\", file=sys.stderr)
" "$bench_line" 2> >(cat >&2))
  if [ -n "$errors" ]; then
    echo "BENCH: RED — erroring queries: $errors"
    grep "\[bench\].*failed" /tmp/gate_bench.log | head -20
    bench_ok=0
  else
    echo "BENCH: GREEN — zero erroring queries"
    bench_ok=1
  fi
fi
echo

if [ "$tests_ok" = 1 ] && [ "$bench_ok" = 1 ] && [ "$selftest_ok" = 1 ] &&
   [ "$perfbench_ok" = 1 ]; then
  echo "GATE: PASS"
  exit 0
else
  echo "GATE: FAIL (tests_ok=$tests_ok bench_ok=$bench_ok selftest_ok=$selftest_ok" \
    "perfbench_ok=$perfbench_ok)"
  exit 1
fi
