#!/usr/bin/env bash
# Count the file-metadata commands a program spawns.
#
#   tools/forkaudit.sh <cmd> [args...]
#
# Runs <cmd> with PATH shims for chmod, readlink, ls, stat and chown (each
# logs its argument list, then execs the real binary), and prints to stderr
# how many times each was spawned, with chmod split by mode. Hadoop's local
# file system forks these when libhadoop is absent, e.g.
#
#   tools/forkaudit.sh python3 perfbench/run.py --workload stream_replay --seed 1
#
# Exits with <cmd>'s status. The shims live in a temp dir removed on exit.
set -euo pipefail
[ $# -ge 1 ] || { echo "usage: $0 <cmd> [args...]" >&2; exit 2; }

shims=$(mktemp -d "${TMPDIR:-/tmp}/forkaudit.XXXXXX")
trap 'rm -rf "$shims"' EXIT
log="$shims/spawns.log"
: > "$log"
cmds="chmod readlink ls stat chown"
for c in $cmds; do
  real=$(command -v "$c") || continue
  # one short line per spawn, appended with O_APPEND, so parallel writers do not interleave
  printf '#!/bin/sh\necho "%s $*" >> "%s"\nexec "%s" "$@"\n' "$c" "$log" "$real" > "$shims/$c"
  chmod +x "$shims/$c"
done

set +e
PATH="$shims:$PATH" "$@"
rc=$?
set -e

{
  echo "[forkaudit] spawns: $(wc -l < "$log")"
  for c in $cmds; do
    echo "[forkaudit] $c: $(awk -v c="$c" '$1 == c' "$log" | wc -l)"
  done
  awk '$1 == "chmod" { n[$2]++ } END { for (m in n) printf "[forkaudit]   chmod %s: %d\n", m, n[m] }' "$log" | sort
} >&2
exit $rc
