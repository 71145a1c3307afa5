#!/usr/bin/env bash
# Pre-commit smoke: the round-8 postmortem rule made executable.
#
# Round 8 shipped an end-of-round snapshot that did not compile (a
# private[spark] access in a "just a tool" file), which zeroed the
# round's bench and correctness gates. The rule since: no final commit
# without a full `sbt compile` + `sbt test` at the exact tree being
# committed. This script IS that rule — run it before any end-of-round
# commit; it exits non-zero on the first failure.
#
# Usage: scripts/ci_smoke.sh [quick]
#   quick  — compile (main + test) only, no test execution. For
#            mid-iteration sanity; the final commit gets the full run.
#
# The full run also runs the perfbench tests: the benchmark harness
# compiles against this checkout (GraftSession.tune,
# Materialize.materializeCount), so a refactor that breaks it fails here.
# It then runs the oracle gate: graft.Verify at sf0.01 (the TESTDATA.md
# location) and scripts/verify_local.py against DuckDB; any oracle
# mismatch fails the script. Without the sf0.01 tables the gate is
# skipped, and the script says so.
#
# The full suite runs under a watchdog of TEST_TIMEOUT_S seconds, the
# Tier-1 test timeout. If it fires, the script writes a jstack of every
# forked test JVM (sbt.ForkMain) to a temp file, prints that file's path,
# stops the run and exits non-zero, so a stalled suite leaves a thread
# dump to read instead of a bare timeout.
set -euo pipefail
cd "$(dirname "$0")/.."

TEST_TIMEOUT_S=2670

# `sbt -batch test`, killed after TEST_TIMEOUT_S with thread dumps first.
test_with_watchdog() {
  sbt -batch test &
  local sbt_pid=$! waited=0
  while kill -0 "$sbt_pid" 2>/dev/null; do
    if (( waited >= TEST_TIMEOUT_S )); then
      local dump forked
      dump="$(mktemp -t ci_smoke_jstack.XXXXXX)"
      forked="$(jps -l | awk '$2 == "sbt.ForkMain" {print $1}')"
      for jvm in $forked; do
        { echo "== jstack $jvm (sbt.ForkMain) =="; jstack "$jvm" || true; } >>"$dump" 2>&1
      done
      echo "== ci_smoke: sbt test still running after ${TEST_TIMEOUT_S}s; thread dumps of forked test JVMs: $dump ==" >&2
      for jvm in $forked; do kill "$jvm" 2>/dev/null || true; done
      pkill -P "$sbt_pid" 2>/dev/null || true
      kill "$sbt_pid" 2>/dev/null || true
      wait "$sbt_pid" 2>/dev/null || true
      exit 1
    fi
    sleep 5
    waited=$((waited + 5))
  done
  wait "$sbt_pid"
}

echo "== ci_smoke: sbt compile + Test/compile =="
sbt -batch compile Test/compile

if [[ "${1:-}" != "quick" ]]; then
  echo "== ci_smoke: sbt test (full suite, ${TEST_TIMEOUT_S}s watchdog) =="
  test_with_watchdog
  echo "== ci_smoke: perfbench tests =="
  python3 -m unittest discover -s perfbench/tests
  sf="$HOME/testdata/sf0.01"
  if [[ -d "$sf" ]]; then
    echo "== ci_smoke: oracle gate (graft.Verify $sf + verify_local.py) =="
    out="$(mktemp -d)"
    trap 'rm -rf "$out"' EXIT
    sbt -batch "runMain graft.Verify $sf $out"
    python3 scripts/verify_local.py "$sf" "$out"
  else
    echo "== ci_smoke: oracle gate SKIPPED: $sf not found =="
  fi
fi
echo "== ci_smoke: PASS =="
