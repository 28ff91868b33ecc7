#!/usr/bin/env bash
# Added, removed and net lines under src/main between `base` (default
# HEAD~1) and the working tree, from `git diff --numstat`; a new file
# counts once it is staged (`git add`).
# Usage: tools/netlines.sh [base]
set -euo pipefail
base="${1:-HEAD~1}"
cd "$(git rev-parse --show-toplevel)"
git diff --numstat "$base" -- src/main | awk '
  $1 != "-" { added += $1; removed += $2 }
  END { printf "src/main: +%d -%d net %+d\n", added, removed, added - removed }'
