#!/usr/bin/env bash
# Line counts for the Scala sources under a directory (default: src/main).
#
#   tools/src_lines.sh [dir]
#
# Prints the total number of lines of every *.scala file under <dir> and
# the number of code lines: lines that are neither blank nor comment. A
# line is a comment when, trimmed, it starts with `//` or it lies inside a
# `/* ... */` block (scaladoc included), the opening and closing lines of
# the block counted as comment too.
set -euo pipefail
dir="${1:-src/main}"
find "$dir" -name '*.scala' -type f -print0 | sort -z | xargs -0 cat | awk '
  { total++ }
  {
    line = $0
    sub(/^[ \t]+/, "", line)
    sub(/[ \t\r]+$/, "", line)
    if (inblock) {
      if (index(line, "*/") > 0) inblock = 0
      next
    }
    if (line == "" || substr(line, 1, 2) == "//") next
    if (substr(line, 1, 2) == "/*") {
      if (index(substr(line, 3), "*/") == 0) inblock = 1
      next
    }
    code++
  }
  END { printf "%s: %d total lines, %d code lines\n", dir, total, code }
' dir="$dir"
