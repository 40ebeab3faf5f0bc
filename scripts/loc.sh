#!/bin/bash
# Net lines of code of the working tree against a git ref, reported
# separately for main sources (src/main) and tests (src/test). A line
# counts when it is neither blank nor comment-only (`//`, `/*`, `*`), in
# .scala and .java files; untracked files count, ignored ones do not.
#
# src/main is further split by file into library and certification
# harness: the harness is the `*Queries.scala` files (the declared-query
# rows and the helpers only they use); the library is every other file.
#
# usage: scripts/loc.sh <base-ref>
set -e
cd "$(dirname "$0")/.."
[ $# -eq 1 ] || { echo "usage: $0 <base-ref>" >&2; exit 2; }
base=$1
git rev-parse --verify --quiet "$base^{commit}" >/dev/null ||
  { echo "$0: not a commit: $base" >&2; exit 2; }

code_lines() { grep -Ev '^[[:space:]]*($|//|/\*|\*)' | wc -l; }

# at_base <dir> <glob>...: the matching files of <dir> at the base ref
at_base() {
  local dir=$1; shift
  git archive "$base" -- "$dir" 2>/dev/null | tar -xO --wildcards "$@" 2>/dev/null || true
}

# in_tree <dir> <glob>...: the matching files of <dir> in the working tree
in_tree() {
  local dir=$1; shift
  local specs=()
  for g in "$@"; do specs+=("$dir/$g"); done
  git ls-files -z --cached --others --exclude-standard -- "${specs[@]}" |
    while IFS= read -r -d '' f; do [ -f "$f" ] && cat "$f"; done
}

row() { printf '%-14s %7d -> %7d  net %+d\n' "$1" "$2" "$3" "$(($3 - $2))"; }

for dir in src/main src/test; do
  row "$dir" "$(at_base "$dir" '*.scala' '*.java' | code_lines)" \
    "$(in_tree "$dir" '*.scala' '*.java' | code_lines)"
done
hb=$(at_base src/main '*Queries.scala' | code_lines)
ha=$(in_tree src/main '*Queries.scala' | code_lines)
lb=$(($(at_base src/main '*.scala' '*.java' | code_lines) - hb))
la=$(($(in_tree src/main '*.scala' '*.java' | code_lines) - ha))
row "  library" "$lb" "$la"
row "  harness" "$hb" "$ha"
