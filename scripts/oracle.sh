#!/usr/bin/env bash
# The oracle gate as one command: runs graft.Verify over <sfDir> into a
# temporary directory, then compares every query's result with its DuckDB
# oracle (scripts/check_oracle.py). Exits non-zero on any mismatch, on any
# query whose result is missing, or when Verify itself fails. Naming queries
# checks only those (an unknown name fails).
#
# Usage: scripts/oracle.sh <sfDir> [query...]
#   e.g. SPARK_DRIVER_MEM=4g scripts/oracle.sh /path/to/sf0.01
#        scripts/oracle.sh /path/to/sf0.1 q_stream_sessions q_stream_restart
set -euo pipefail
if [ $# -lt 1 ] || [ ! -d "$1" ]; then
  echo "usage: $0 <sfDir> [query...]" >&2
  exit 2
fi
SF=$(cd "$1" && pwd)
shift
ROOT=$(cd "$(dirname "$0")/.." && pwd)
OUT=$(mktemp -d "${TMPDIR:-/tmp}/graft-oracle.XXXXXX")
trap 'rm -rf "$OUT"' EXIT
cd "$ROOT"
sbt -batch "runMain graft.Verify $SF $OUT $*"
python3 scripts/check_oracle.py "$SF" "$OUT" "$@"
