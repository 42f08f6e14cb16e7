#!/usr/bin/env bash
# Code-line counter: non-blank lines that are not comments — a line
# counts unless it is blank or starts (after indentation) with `//`,
# `/*` or `*` (scaladoc and block-comment bodies). Prints per-file
# counts and the total for a source tree.
# Usage: scripts/code_lines.sh [dir]   (default: src/main)
set -euo pipefail
root="${1:-src/main}"
find "$root" -name '*.scala' | sort | while read -r f; do
  awk '/^[[:space:]]*$/ { next }
       /^[[:space:]]*(\/\/|\/\*|\*)/ { next }
       { n++ }
       END { printf "%6d %s\n", n, FILENAME }' "$f"
done | awk '{ print; total += $1 } END { printf "%6d total\n", total }'
