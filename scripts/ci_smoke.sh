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
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== ci_smoke: sbt compile + Test/compile =="
sbt -batch compile Test/compile

if [[ "${1:-}" != "quick" ]]; then
  echo "== ci_smoke: sbt test (full suite) =="
  sbt -batch test
  echo "== ci_smoke: perfbench tests =="
  python3 -m unittest discover -s perfbench/tests
fi
echo "== ci_smoke: PASS =="
