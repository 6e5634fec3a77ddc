#!/usr/bin/env bash
# The oracle gate as one command: runs graft.Verify over <sfDir> into a
# temporary directory, then compares every query's result with its DuckDB
# oracle (scripts/check_oracle.py). Exits non-zero on any mismatch, on any
# query whose result is missing, or when Verify itself fails.
#
# Usage: scripts/oracle.sh <sfDir>
#   e.g. SPARK_DRIVER_MEM=4g scripts/oracle.sh /path/to/sf0.01
set -euo pipefail
if [ $# -ne 1 ] || [ ! -d "$1" ]; then
  echo "usage: $0 <sfDir>" >&2
  exit 2
fi
SF=$(cd "$1" && pwd)
ROOT=$(cd "$(dirname "$0")/.." && pwd)
OUT=$(mktemp -d "${TMPDIR:-/tmp}/graft-oracle.XXXXXX")
trap 'rm -rf "$OUT"' EXIT
cd "$ROOT"
sbt -batch "runMain graft.Verify $SF $OUT"
python3 scripts/check_oracle.py "$SF" "$OUT"
