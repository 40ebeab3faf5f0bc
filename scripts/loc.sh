#!/bin/bash
# Net lines of code of the working tree against a git ref, reported
# separately for main sources (src/main) and tests (src/test). A line
# counts when it is neither blank nor comment-only (`//`, `/*`, `*`), in
# .scala and .java files; untracked files count, ignored ones do not.
#
# usage: scripts/loc.sh <base-ref>
set -e
cd "$(dirname "$0")/.."
[ $# -eq 1 ] || { echo "usage: $0 <base-ref>" >&2; exit 2; }
base=$1
git rev-parse --verify --quiet "$base^{commit}" >/dev/null ||
  { echo "$0: not a commit: $base" >&2; exit 2; }

code_lines() { grep -Ev '^[[:space:]]*($|//|/\*|\*)' | wc -l; }

at_base() {
  git archive "$base" -- "$1" 2>/dev/null | tar -xO --wildcards '*.scala' '*.java' 2>/dev/null |
    code_lines
}

in_tree() {
  git ls-files -z --cached --others --exclude-standard -- "$1/*.scala" "$1/*.java" |
    while IFS= read -r -d '' f; do [ -f "$f" ] && cat "$f"; done | code_lines
}

for dir in src/main src/test; do
  before=$(at_base "$dir")
  after=$(in_tree "$dir")
  printf '%-9s %7d -> %7d  net %+d\n' "$dir" "$before" "$after" "$((after - before))"
done
