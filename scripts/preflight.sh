#!/usr/bin/env bash
# Pre-snapshot gate: run before ANY end-of-round (or end-of-session) commit.
#
# Round 5 ended with a half-landed refactor committed unverified — HEAD did
# not compile, so the round's correctness and bench runs produced nothing.
# This script is the habit that prevents a repeat: a snapshot commit may only
# happen after it exits 0.
#
# Usage: scripts/preflight.sh [--full]
#   default : compile main + test sources (fast, ~10 s warm) — the minimum
#             bar for ANY commit.
#   --full  : also run the whole ScalaTest suite, the sf0.01 oracle
#             check, the driver's smoke check (`graft.Smoke`: entry rows
#             > 0), one `graft.tools.Dev explain` at sf0.001 (keeps the
#             shared session factory and the dev CLI from rotting), a
#             one-query `graft.Bench` whose last stdout line must parse as
#             JSON with `n_failed` 0 (the bench's output contract) and the
#             benchmark self-test — the bar for end-of-round snapshots.
#             The benchmark (perfbench/) is its own sbt build that the
#             root build does not compile, so its self-test is what
#             catches a library change that breaks its calls.
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch "Test/compile"

if [[ "${1:-}" == "--full" ]]; then
  sbt -batch test
  rm -rf /tmp/preflight_vout
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/preflight_vout"
  python3 scripts/check_oracle.py /root/testdata/sf0.01 /tmp/preflight_vout
  sbt -batch "runMain graft.Smoke" | grep -E "SMOKE rows=[1-9]"
  sbt -batch "runMain graft.tools.Dev explain /root/testdata/sf0.001 q1_agg" \
    | grep "##PLAN q1_agg" >/dev/null
  # the bench's LAST stdout line is its machine-readable JSON summary
  SPARK_GRAFT_BENCH_ONLY=q1_agg SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 \
    SPARK_GRAFT_BENCH_OUT=/tmp/preflight_bench.json \
    sbt -batch "runMain graft.Bench" | tail -n 1 \
    | python3 -c 'import json, sys; assert json.load(sys.stdin)["n_failed"] == 0'
  python3 perfbench/run.py --selftest
fi

echo "preflight OK"
