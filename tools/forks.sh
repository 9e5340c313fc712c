#!/usr/bin/env bash
# Counts the processes a command starts: reads the `processes` counter of
# /proc/stat before and after the command and prints the difference on
# standard error, so the command's own standard output stays as it is.
# It only reads. The counter is host-wide and counts every fork and clone,
# threads included, so the figure is only the command's on a quiet box;
# run it twice with nothing else going on, or subtract an idle baseline
# (`tools/forks.sh sleep 40`).
#
# Usage: tools/forks.sh <command> [args...]
set -u
count() { awk '$1 == "processes" { print $2 }' /proc/stat; }
before=$(count)
"$@"
rc=$?
after=$(count)
echo "forks: $((after - before)) processes started (processes $before -> $after)" >&2
exit "$rc"
