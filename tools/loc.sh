#!/bin/sh
# Line counts of the library sources (src/main/**/*.scala): the total,
# and the count without blank lines and comment lines (lines whose
# first non-blank characters are //, /* or *). Run from anywhere:
#   tools/loc.sh [repo-root]
root="${1:-$(dirname "$0")/..}"
files=$(find "$root/src/main" -name '*.scala')
total=$(cat $files | wc -l)
code=$(cat $files | grep -v '^[[:space:]]*$' \
  | grep -v '^[[:space:]]*\(//\|/\*\|\*\)' | wc -l)
echo "src/main total lines: $total"
echo "src/main code lines (no blank, no comment): $code"
