#!/usr/bin/env bash
# Pre-snapshot gate: run before ANY end-of-round (or otherwise final)
# commit. A round was once voided by a helper extraction committed
# without compiling — this script is the "never again".
#
# Usage:
#   tools/presnapshot.sh           # full gate: sbt test (compile + all specs)
#   tools/presnapshot.sh compile   # minimum gate: sbt compile only
#
# Both modes also run the benchmark's own build step (perfbench/src
# compiled against src/main), so a change that breaks a call the
# harness compiles against fails here instead of in every benchmark run.
#
# Exit 0 iff the gate passes; commit only on exit 0.
set -euo pipefail
cd "$(dirname "$0")/.."

python3 -c 'import sys; sys.path.insert(0, "perfbench"); import build; build.build(".")'
if [[ "${1:-test}" == "compile" ]]; then
  sbt -batch compile
else
  sbt -batch test
fi
echo "presnapshot: gate passed ($(git rev-parse --short HEAD) + working tree)"
