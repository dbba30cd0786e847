#!/bin/sh
# Code lines (not blank, not comment) per Scala file, then the total.
# A line counts unless it is blank, starts with //, or lies in a /* */
# or scaladoc block that opens at the start of a line.
#   sh scripts/codelines.sh src/main/scala/graft/operators/Dedup.scala
#   sh scripts/codelines.sh $(find src/main -name '*.scala')
# With no arguments: one total for src/main and one for src/test.
count() {
  for f in "$@"; do
    awk '/^[ \t]*$/ {next} /^[ \t]*\/\*/ {c=1} c {if (/\*\//) c=0; next}
         /^[ \t]*\/\// {next} {n++} END {printf "%6d %s\n", n, FILENAME}' "$f"
  done | awk -v label="$label" '{if (label == "") print; t += $1}
    END {printf "%6d total%s\n", t, label}'
}
if [ $# -gt 0 ]; then
  label="" count "$@"
else
  root=$(dirname "$0")/..
  for d in src/main src/test; do
    label=" $d" count $(find "$root/$d" -name '*.scala' | sort)
  done
fi
