#!/bin/sh
# Module-boundary check of the library sources (src/main/**/*.scala).
# Comment lines (first non-blank characters //, /* or *) are skipped.
# Exits 1 when either boundary is crossed, printing the offending lines:
#   - a line outside src/main/scala/graft/catalog/ tests a Layout part
#     kind ("m_", "dv_", "bf_", "rw_", "rs_") or builds a provenance
#     name: the part format is graft.catalog's alone;
#   - a line outside SnapshotManifest.scala names
#     ConcurrentCommitException or calls casFlip(: the one retry loop,
#     SnapshotManifest.publish, is their only handler.
# Then prints the site counts a simplicity change reports (each with
# the pattern it counts), so they come from one command. Run from
# anywhere:
#   tools/boundaries.sh [repo-root]
root="${1:-$(dirname "$0")/..}"
main="$root/src/main/scala"
all=$(find "$main" -name '*.scala')
notcatalog=$(find "$main" -name '*.scala' -not -path "$main/graft/catalog/*")
notsm=$(find "$main" -name '*.scala' -not -name SnapshotManifest.scala)
# file:line:text of every non-comment line of the files matching ERE $1
hits() {
  pat=$1; shift
  grep -nE "$pat" "$@" /dev/null \
    | grep -vE '^[^:]+:[0-9]+:[[:space:]]*(//|/\*|\*)'
}
n() { hits "$@" | wc -l | tr -d ' '; }

status=0
check() {
  label=$1; shift
  c=$(n "$@")
  echo "$label: $c"
  if [ "$c" -ne 0 ]; then hits "$@" | sed 's/^/  /'; status=1; fi
}
check "part-kind tests outside graft/catalog" \
  '"(m|dv|bf|rw|rs)_' $notcatalog
check "ConcurrentCommitException / casFlip( outside SnapshotManifest" \
  'ConcurrentCommitException|casFlip\(' $notsm

echo "site counts:"
echo "  data-file listing-rule lines (startsWith(\"_\"), startsWith(\"sym_bucket=\"), endsWith(\".parquet\")): $(n 'startsWith\("_"\)|startsWith\("sym_bucket="\)|endsWith\("\.parquet"\)' $all)"
echo "  spark.read in TableState.scala: $(n 'spark\.read' "$main/graft/plans/TableState.scala")"
echo "  provenance name builders (__\${SnapshotManifest.token()}): $(n '__\$\{SnapshotManifest\.token\(\)\}' $all)"
echo "  provenance name parsers (split(\"__\")): $(n 'split\("__"\)' $all)"
echo "  position-stamped scans (withPos( calls): $(hits 'withPos\(' $all | grep -cv 'def withPos')"
echo "  CAS retry loops (var attempts, to MaxAttempts): $(n 'var attempts|to MaxAttempts' $all)"
echo "  files outside SnapshotManifest handling a lost CAS: $(hits 'ConcurrentCommitException|casFlip\(' $notsm | cut -d: -f1 | sort -u | wc -l | tr -d ' ')"
exit $status
