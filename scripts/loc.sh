#!/bin/bash
# Net lines of code of the working tree against a git ref, reported
# separately for main sources (src/main) and tests (src/test). A line
# counts when it is neither blank nor comment-only (`//`, `/*`, `*`), in
# .scala and .java files; untracked files count, ignored ones do not.
#
# src/main is further split into library and certification-harness
# lines. Harness lines are the counted lines inside each
# `val defs: Seq[QueryDef] = Seq(` ... `)` block (the declared-query
# closures), the block's end found by balancing parentheses on counted
# lines; library lines are the rest.
#
# usage: scripts/loc.sh <base-ref>
set -e
cd "$(dirname "$0")/.."
[ $# -eq 1 ] || { echo "usage: $0 <base-ref>" >&2; exit 2; }
base=$1
git rev-parse --verify --quiet "$base^{commit}" >/dev/null ||
  { echo "$0: not a commit: $base" >&2; exit 2; }

code_lines() { grep -Ev '^[[:space:]]*($|//|/\*|\*)' | wc -l; }

harness_lines() {
  grep -Ev '^[[:space:]]*($|//|/\*|\*)' | awk '
    function parens(s,   o, c) { o = gsub(/\(/, "(", s); c = gsub(/\)/, ")", s); return o - c }
    !inside && /val defs: Seq\[QueryDef\] = Seq\(/ {
      inside = 1; n++; depth = parens(substr($0, index($0, "val defs")))
      if (depth <= 0) inside = 0
      next
    }
    inside { n++; depth += parens($0); if (depth <= 0) inside = 0 }
    END { print n + 0 }'
}

at_base() {
  git archive "$base" -- "$1" 2>/dev/null | tar -xO --wildcards '*.scala' '*.java' 2>/dev/null
}

in_tree() {
  git ls-files -z --cached --others --exclude-standard -- "$1/*.scala" "$1/*.java" |
    while IFS= read -r -d '' f; do [ -f "$f" ] && cat "$f"; done
}

row() { printf '%-14s %7d -> %7d  net %+d\n' "$1" "$2" "$3" "$(($3 - $2))"; }

for dir in src/main src/test; do
  before=$(at_base "$dir" | code_lines)
  after=$(in_tree "$dir" | code_lines)
  row "$dir" "$before" "$after"
done
hb=$(at_base src/main | harness_lines)
ha=$(in_tree src/main | harness_lines)
lb=$(($(at_base src/main | code_lines) - hb))
la=$(($(in_tree src/main | code_lines) - ha))
row "  library" "$lb" "$la"
row "  harness" "$hb" "$ha"
