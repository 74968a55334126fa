#!/usr/bin/env bash
# Regenerate PLANS.md from `graft.tools.Dev plans` (the curated
# physical-plan evidence for representative contract queries). Run from the
# repo root after adding a query to Dev's plan picks or changing an
# operator's plan. The hand-written appendices at the end of PLANS.md (from
# the "## Bench-action honesty audit" heading on) are carried over as-is.
set -euo pipefail
cd "$(dirname "$0")/.."

appendix="$(mktemp)"
trap 'rm -f "$appendix"' EXIT
awk '/^## Bench-action honesty audit/{keep=1} keep' PLANS.md > "$appendix"

{
  cat <<'EOF'
# PLANS -- physical-plan evidence for representative queries

Generated by `scripts/gen_plans.sh` (`graft.tools.Dev plans`, sf0.01,
local[8], AQE on). The count-mode view the round-15 appendix below
describes is now `graft.tools.Dev explain --count <sfDir> <names>`.
What to look for: `PushedFilters`/`ReadSchema` on every parquet scan
(pushdown + pruning), `BroadcastHashJoin` for dimension sides,
`HashAggregate` pairs (partial then final = map-side combine), and
`ObjectHashAggregate` for the bounded top-k.
EOF
  # program stdout arrives unprefixed (build.sbt's `run / outputStrategy`);
  # drop sbt's own `[...]` lines and blank lines (PLANS.md's layout) and
  # start at the first section header
  SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.tools.Dev plans" 2>/dev/null \
    | sed -e '/^\[/d' -e '/^$/d' \
    | awk '/^## /{found=1} found'
  echo
  cat "$appendix"
} > PLANS.md.new
mv PLANS.md.new PLANS.md

echo "wrote PLANS.md ($(grep -c '^## ' PLANS.md) sections)"
