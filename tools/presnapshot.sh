#!/usr/bin/env bash
# Pre-snapshot gate: run before ANY end-of-round (or otherwise final)
# commit. A round was once voided by a helper extraction committed
# without compiling — this script is the "never again".
#
# Usage:
#   tools/presnapshot.sh           # full gate: the ROADMAP.md Tier-1 command
#   tools/presnapshot.sh compile   # minimum gate: sbt compile only
#
# The full gate runs the Tier-1 command exactly as ROADMAP.md states it
# (its environment, offline sbt flags and timeouts included) and prints
# its wall time, so a suite drifting past its budget fails here before
# it fails Tier-1.
#
# Both modes also run the benchmark's own build step (perfbench/src
# compiled against src/main), so a change that breaks a call the
# harness compiles against fails here instead of in every benchmark run.
# The full gate then runs one short hw_pipelines benchmark pass: run.py
# exits non-zero on any failed check (the exact-outlier and catalog
# references among them), so a kernel that changes an answer fails here.
#
# Exit 0 iff the gate passes; commit only on exit 0.
set -euo pipefail
cd "$(dirname "$0")/.."

python3 -c 'import sys; sys.path.insert(0, "perfbench"); import build; build.build(".")'
if [[ "${1:-test}" == "compile" ]]; then
  sbt -batch compile
else
  tier1=$(sed -n 's/^\*\*Tier-1 verify:\*\* `\(.*\)`$/\1/p' ROADMAP.md)
  if [[ -z "$tier1" ]]; then
    echo "presnapshot: no Tier-1 command found in ROADMAP.md" >&2
    exit 1
  fi
  t0=$(date +%s)
  rc=0
  bash -c "$tier1" || rc=$?
  echo "presnapshot: Tier-1 command took $(( $(date +%s) - t0 )) s wall (exit $rc)"
  [[ $rc -eq 0 ]] || exit "$rc"
  python3 perfbench/run.py --workload hw_pipelines --seed 1 --seconds 1 --trace 0 \
    || { echo "presnapshot: hw_pipelines benchmark checks failed" >&2; exit 1; }
fi
echo "presnapshot: gate passed ($(git rev-parse --short HEAD) + working tree)"
