#!/bin/sh
# Line counts of the library sources (src/main/**/*.scala): the total,
# and the count without blank lines and comment lines (lines whose
# first non-blank characters are //, /* or *). The same two counts
# follow for src/main/scala/graft/api (the Facade plus the gate
# catalog) and for the rest of src/main, so a change shows whether
# lines left the engine or the gates. Run from anywhere:
#   tools/loc.sh [repo-root]
root="${1:-$(dirname "$0")/..}"
api="$root/src/main/scala/graft/api"
count() {
  label=$1; shift
  total=$(cat "$@" | wc -l)
  code=$(cat "$@" | grep -v '^[[:space:]]*$' \
    | grep -v '^[[:space:]]*\(//\|/\*\|\*\)' | wc -l)
  echo "$label total lines: $total"
  echo "$label code lines (no blank, no comment): $code"
}
count src/main $(find "$root/src/main" -name '*.scala')
count "src/main api" $(find "$api" -name '*.scala')
count "src/main rest" $(find "$root/src/main" -name '*.scala' -not -path "$api/*")
