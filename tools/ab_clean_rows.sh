#!/bin/bash
# Clean per-row A/B between two checkouts of this repo: a FRESH
# process per (row, tree) — this checkout's profiler,
# hyppo_worker_spark/profile.py, run as a file with the tree's package
# first on PYTHONPATH (sf0.001 warm-up, min-of-3 timed runs, jobs/run)
# — alternating trees so host drift cancels.
#
# Why fresh processes: rows late in a shared session run up to 4x
# faster than the same row first in a session (JIT + codegen warm-up),
# so batch runs systematically flatter whichever tree ran later rows
# hotter. This harness is what exposed the round-12 in-row assignment
# rewrite as 1.2-1.9x slower end-to-end after batch runs and the
# isolated noop A/B had both read parity (OPTIMIZATION_r12.md item 1).
#
# Usage: tools/ab_clean_rows.sh /path/to/other/worktree row1 [row2 ...]
set -u
other="$1"; shift
here="$(cd "$(dirname "$0")/.." && pwd)"
for row in "$@"; do
  for tree in "$other" "$here"; do
    cd "$tree" || exit 1
    # keep stderr in a file and flag failures explicitly (ADVICE r12):
    # a silent empty result must never read as a valid A/B data point
    out=$(PYTHONPATH="$tree" python "$here/hyppo_worker_spark/profile.py" \
      --runs 3 "$row" 2>/tmp/ab_clean_rows.stderr | grep -E "^$row")
    rc=$?
    if [ $rc -ne 0 ] || [ -z "$out" ]; then
      echo "$(basename "$tree") $row FAILED (rc=$rc; stderr tail:" \
        "$(tail -c 200 /tmp/ab_clean_rows.stderr | tr '\n' ' '))"
    else
      echo "$(basename "$tree") $out"
    fi
  done
done
