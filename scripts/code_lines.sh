#!/usr/bin/env bash
# Net change in non-blank, non-comment lines of src/main/**/*.scala
# between two git revisions — the unit the ROADMAP's size goals are
# stated in.
#
# Usage: scripts/code_lines.sh BASE [HEAD]
#   HEAD defaults to HEAD. Prints the count at each revision and the
#   net change (negative = lines removed).
#
# Counting rule: a line is code unless it is blank, starts (after
# whitespace) with `//`, or lies inside a `/* … */` block that opens
# at the start of a line (Scaladoc and block comments). A comment
# trailing code on the same line still counts as code.
set -euo pipefail
if [[ $# -lt 1 || $# -gt 2 ]]; then
  echo "usage: $0 BASE [HEAD]" >&2
  exit 2
fi
base="$1"
head="${2:-HEAD}"
cd "$(git -C "$(dirname "$0")" rev-parse --show-toplevel)"

count() {
  local rev="$1"
  git ls-tree -r --name-only "$rev" -- src/main \
    | grep '\.scala$' \
    | while read -r f; do git show "$rev:$f"; echo; done \
    | awk '
        BEGIN { inblock = 0; n = 0 }
        {
          line = $0
          sub(/^[ \t]+/, "", line)
          if (inblock) {
            if (index(line, "*/") > 0) inblock = 0
            next
          }
          if (line == "") next
          if (substr(line, 1, 2) == "//") next
          if (substr(line, 1, 2) == "/*") {
            if (index(substr(line, 3), "*/") == 0) inblock = 1
            next
          }
          n++
        }
        END { print n }'
}

b="$(count "$base")"
h="$(count "$head")"
echo "src/main code lines: $base=$b $head=$h net=$((h - b))"
