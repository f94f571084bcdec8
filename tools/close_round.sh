#!/usr/bin/env bash
# Round-closing gate runner (r14 verdict next #5): encode the gates
# that were previously run by hand — Verify → selfcheck --json → full
# sbt test → Bench (min-of-N closing board) → real-data scale sweep —
# into one invocation that leaves the round's committed artifacts in
# the repo root:
#
#   SELFCHECK_r{N}.json   driver-shaped correctness board at sf0.01
#   BENCH_DETAIL.json     best-of-N closing bench board at sf0.1
#   SCALEBOARD_r{N}.txt   sf0.1 → 10× real-data scale sweep
#
# Usage: tools/close_round.sh <round> [options]
#   --bench-reps K     bench runs to take the best of   (default 3)
#   --skip-test        skip the full sbt test suite
#   --skip-scale       skip the MakeScale build + scale sweep
#   --scale-only Q,..  run the scale sweep on a query subset only
#                      (passed through as SPARK_GRAFT_ONLY)
#   --scale-out F      scale-board artifact name
#                      (default SCALEBOARD_r{N}.txt; use a suffixed
#                      name for partial/subset sweeps)
#
# Every stage fails the script on failure (set -e), so a green exit
# means every gate passed; partial artifacts from a failed stage are
# left in place for diagnosis.
set -euo pipefail
cd "$(dirname "$0")/.."

ROUND="${1:?usage: close_round.sh <round> [--bench-reps K] [--skip-test] [--skip-scale] [--scale-only Q,..] [--scale-out F]}"
shift
BENCH_REPS=3
SKIP_TEST=0
SKIP_SCALE=0
SCALE_ONLY=""
SCALE_OUT="SCALEBOARD_r${ROUND}.txt"
while [[ $# -gt 0 ]]; do
  case "$1" in
    --bench-reps) BENCH_REPS="$2"; shift 2 ;;
    --skip-test) SKIP_TEST=1; shift ;;
    --skip-scale) SKIP_SCALE=1; shift ;;
    --scale-only) SCALE_ONLY="$2"; shift 2 ;;
    --scale-out) SCALE_OUT="$2"; shift 2 ;;
    *) echo "unknown option: $1" >&2; exit 2 ;;
  esac
done

SF01=/root/testdata/sf0.01
SF1=/root/testdata/sf0.1
SCALED=/tmp/sf1
VOUT=/tmp/verify_close_r${ROUND}

# Run one sbt invocation to a log file and FAIL on its exit status —
# piping sbt straight into grep under `set -euo pipefail` with a
# trailing `|| true` applied to the WHOLE pipeline (r15 ADVICE #1) let
# a dead Verify/Bench run sail through and downstream gates read stale
# artifacts as fresh results.
run_sbt() { # <logfile> <sbt-args...>
  local log="$1" rc=0; shift
  sbt -batch "$@" >"$log" 2>&1 || rc=$?
  if [[ "$rc" != 0 ]]; then
    echo "[close] FATAL: sbt $* failed (exit $rc); last lines:" >&2
    tail -15 "$log" >&2
    return 1
  fi
}

echo "[close] == gate 1/5: Verify at sf0.01 =="
run_sbt /tmp/close_verify_r${ROUND}.log "runMain graft.Verify $SF01 $VOUT"
grep -E '\[verify\]' /tmp/close_verify_r${ROUND}.log | tail -5 || true

echo "[close] == gate 2/5: selfcheck vs DuckDB oracle =="
python3 tools/selfcheck.py "$SF01" "$VOUT" \
  --json "SELFCHECK_r${ROUND}.json" | tail -3

if [[ "$SKIP_TEST" == 0 ]]; then
  echo "[close] == gate 3/5: full sbt test =="
  run_sbt /tmp/close_test_r${ROUND}.log test
  grep -E '^\[info\] (Tests:|All tests|Suites:)' /tmp/close_test_r${ROUND}.log | tail -5
else
  echo "[close] == gate 3/5: SKIPPED (--skip-test) =="
fi

echo "[close] == gate 4/5: Bench closing board (best of $BENCH_REPS) =="
BEST=""
for i in $(seq 1 "$BENCH_REPS"); do
  # a failed rep must not silently re-read the previous board as its
  # own (r15 ADVICE #1): delete the artifacts first — run_sbt aborts
  # on a dead run, and a missing/unparseable board aborts right here
  rm -f BENCH_DETAIL.json BENCH_SUMMARY.json
  SPARK_GRAFT_SF_DIR="$SF1" SPARK_GRAFT_CPUS=32 \
    run_sbt /tmp/close_bench_r${ROUND}_rep${i}.log "runMain graft.Bench"
  grep '"metric":"total_compact"' /tmp/close_bench_r${ROUND}_rep${i}.log || true
  # capture-independence check (r15 verdict #3): the summary FILE the
  # driver-independent record rides on must exist and parse
  TOTAL=$(python3 -c "import json; print(json.load(open('BENCH_DETAIL.json'))['value'])")
  SUMTOTAL=$(python3 -c "import json; print(json.load(open('BENCH_SUMMARY.json'))['value'])")
  echo "[close] bench rep $i/$BENCH_REPS: total=${TOTAL}s (BENCH_SUMMARY.json parses: ${SUMTOTAL}s)"
  if [[ -z "$BEST" ]] || python3 -c "import sys; sys.exit(0 if $TOTAL < $BEST else 1)"; then
    BEST="$TOTAL"
    cp BENCH_DETAIL.json /tmp/bench_detail_best_r${ROUND}.json
    cp BENCH_SUMMARY.json /tmp/bench_summary_best_r${ROUND}.json
  fi
done
cp /tmp/bench_detail_best_r${ROUND}.json BENCH_DETAIL.json
cp /tmp/bench_summary_best_r${ROUND}.json BENCH_SUMMARY.json
N_Q=$(python3 -c "import json; print(len(json.load(open('BENCH_DETAIL.json'))['queries']))")
echo "[close] closing board: ${BEST}s / ${N_Q} queries = $(python3 -c "print(f'{$BEST/$N_Q:.3f}')") s/query"

if [[ "$SKIP_SCALE" == 0 ]]; then
  echo "[close] == gate 5/5: real-data scale sweep (sf0.1 -> 10x) =="
  if [[ ! -d "$SCALED/documents.parquet" ]]; then
    echo "[close] building $SCALED = MakeScale($SF1, 10)"
    SPARK_GRAFT_CPUS=32 \
      run_sbt /tmp/close_makescale_r${ROUND}.log "runMain graft.tools.MakeScale $SF1 $SCALED 10"
    grep '\[makescale\]' /tmp/close_makescale_r${ROUND}.log | tail -3
  fi
  # an empty SCALE_ONLY selects every query
  SPARK_GRAFT_ONLY="$SCALE_ONLY" SPARK_GRAFT_CPUS=32 \
    sbt -batch "runMain graft.tools.ProbeScaleBoard $SF1 $SCALED" \
    >/tmp/close_scale_r${ROUND}.log 2>&1 \
    || { echo "[close] FATAL: scale sweep failed; last lines:" >&2;
         tail -15 /tmp/close_scale_r${ROUND}.log >&2; exit 1; }
  grep '\[scale-board\]' /tmp/close_scale_r${ROUND}.log | tee "$SCALE_OUT"
  echo "[close] scale board -> $SCALE_OUT ($(grep -c 'ratio=' "$SCALE_OUT" || true) lines)"
else
  echo "[close] == gate 5/5: SKIPPED (--skip-scale) =="
fi

echo "[close] round $ROUND gates complete: SELFCHECK_r${ROUND}.json, BENCH_DETAIL.json, BENCH_SUMMARY.json${SKIP_SCALE:+}$([[ $SKIP_SCALE == 0 ]] && echo ", $SCALE_OUT")"
# Closing checklist (r15 verdict #5: keep these in lockstep at close —
# echoed every run so the habit can't silently regress)
echo "[close] CHECKLIST (manual, before committing the round):"
echo "[close]   [ ] SURVEY.md §8 bumped to the current query count"
echo "[close]   [ ] BENCH_SUMMARY.json committed alongside BENCH_DETAIL.json"
echo "[close]   [ ] BASELINE.md round section written (board, movers, decisions)"
echo "[close]   [ ] memory project-state note updated for the next round"
