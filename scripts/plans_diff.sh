#!/usr/bin/env bash
# Compare two PLANS.md files (e.g. a regeneration by scripts/gen_plans.sh
# before and after an operator change) section by section. Before
# comparing, it normalizes what differs between two regenerations of the
# same plan: expression ids (#123), plan ids (plan_id=45), object hashes
# (@1a2b3c4d), JVM lambda class names, temp paths (/tmp/...) and
# byte-size figures (784.8 KiB).
# Prints a unified diff per differing `## <name>` section and exits 1 on
# any difference, 0 when all compared sections match.
#
#   scripts/plans_diff.sh A.md B.md [section...]
#
# With section names (the first word after `## `, e.g. minhash_pairs) only
# those sections are compared; a named section missing from either file
# counts as a difference.
set -euo pipefail

if [ $# -lt 2 ]; then
  echo "usage: $0 A.md B.md [section...]" >&2
  exit 2
fi
a="$1"; b="$2"; shift 2

tmp="$(mktemp -d)"
trap 'rm -rf "$tmp"' EXIT

# one file per section under $2, named after the section's first word
split_sections() {
  mkdir -p "$2"
  sed -E \
    -e 's/#[0-9]+/#N/g' \
    -e 's/plan_id=[0-9]+/plan_id=N/g' \
    -e 's/@[0-9a-f]{4,}\b/@HASH/g' \
    -e 's#Lambda\$[0-9]+/0x[0-9a-f]+#Lambda#g' \
    -e 's#/tmp/[^], )]*#/tmp/TMP#g' \
    -e 's/[0-9]+(\.[0-9]+)? (B|KiB|MiB|GiB|TiB)\b/N \2/g' \
    "$1" |
    awk -v dir="$2" '
      /^## / { if (out) close(out); out = dir "/" $2; print $2 > (dir "/.order") }
      out { print > out }'
  touch "$2/.order"
}
split_sections "$a" "$tmp/a"
split_sections "$b" "$tmp/b"

if [ $# -gt 0 ]; then
  sections="$(printf '%s\n' "$@")"
else
  sections="$(cat "$tmp/a/.order" "$tmp/b/.order" | awk '!seen[$0]++')"
fi

status=0
while IFS= read -r s; do
  [ -n "$s" ] || continue
  if [ ! -f "$tmp/a/$s" ] || [ ! -f "$tmp/b/$s" ]; then
    if [ -f "$tmp/a/$s" ]; then where="only in $a"
    elif [ -f "$tmp/b/$s" ]; then where="only in $b"
    else where="in neither file"; fi
    echo "### $s: $where"
    status=1
  elif ! out="$(diff -u --label "$a" --label "$b" "$tmp/a/$s" "$tmp/b/$s")"; then
    echo "### $s"
    echo "$out"
    status=1
  fi
done <<< "$sections"

if [ "$status" -eq 0 ]; then
  echo "no differences ($(printf '%s\n' "$sections" | grep -c .) sections)"
fi
exit "$status"
