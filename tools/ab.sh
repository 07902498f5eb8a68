#!/bin/bash
# Interleaved A/B of two class builds over a query subset: each round runs
# both sides (A first in odd rounds, B first in even ones), each in a fresh
# JVM through `graft.Probe time` (which itself takes the min of 2 runs per
# query and checks their checksums).
# Usage:
#   tools/ab.sh <classesA> <classesB> <queries> [sfDir] [rounds]
# Prints, per query, each side's min over its successful runs and the number
# of samples behind it. Alternating order cancels slow host drift; per-query
# min cancels JIT/GC noise between JVMs. A run that exits non-zero prints a
# FAILED line (its samples are not counted) and makes the script exit 1.
set -u
A="$1"; B="$2"; Q="$3"; N="${5:-3}"
SF=(); [ -n "${4:-}" ] && SF=("$4")
samples=$(mktemp); trap 'rm -f "$samples"' EXIT
failed=0
for i in $(seq 1 "$N"); do
  sides="A B"; [ $((i % 2)) -eq 0 ] && sides="B A"
  for side in $sides; do
    if [ "$side" = A ]; then cls="$A"; else cls="$B"; fi
    out=$(GRAFT_CLASSES="$cls" tools/run.sh graft.Probe time "$Q" "${SF[@]}" 2>/dev/null)
    rc=$?
    if [ "$rc" -ne 0 ]; then
      echo "FAILED side $side round $i (exit $rc, classes $cls)"
      failed=1
      continue
    fi
    echo "$out" | awk -v s="$side" '$1 == "[probe-time]" && $2 != "TOTAL" { print s, $2, $3 }' >> "$samples"
  done
done
awk '
  { k = $2 " " $1; n[k]++; if (!(k in m) || $3 < m[k]) m[k] = $3; q[$2] = 1 }
  function side(x, s,   k) { k = x " " s; return (k in m) ? sprintf("%8.3f s (n=%d)", m[k], n[k]) : sprintf("%8s   (n=0)", "-") }
  END { for (x in q) printf "%-36s A %s  B %s\n", x, side(x, "A"), side(x, "B") }' "$samples" | sort
exit "$failed"
