#!/bin/bash
# Net line count of the working tree against a base ref, split into
# src/main and src/test: lines added, removed and net per tree, from
# `git diff --numstat` alone. New files count once they are tracked
# (stage them with `git add` first); binary files count as 0.
#
# usage: tools/net_lines.sh <base-ref>
#   e.g. tools/net_lines.sh HEAD~1
set -euo pipefail
if [ $# -ne 1 ]; then
  echo "usage: $0 <base-ref>" >&2
  exit 2
fi
base=$1
cd "$(dirname "$0")/.."
git rev-parse --verify --quiet "$base^{commit}" > /dev/null ||
  { echo "unknown ref: $base" >&2; exit 2; }
printf '%-9s %8s %8s %8s\n' tree added removed net
for tree in src/main src/test; do
  git diff --numstat "$base" -- "$tree" | awk -v tree="$tree" '
    { if ($1 != "-") a += $1; if ($2 != "-") r += $2 }
    END { printf "%-9s %8d %8d %+8d\n", tree, a, r, a - r }'
done
