#!/usr/bin/env bash
# Real `spark-submit` of the packaged SketchJob jar — the north rule's
# deployment path (spark-submit, not sbt runMain). Builds nothing: expects
# `sbt package` to have produced target/scala-2.13/datalibsketchspark_2.13-*.jar.
#
# Usage: scripts/submit_sketchjob.sh <cores> <input_parquet_dir> <out_dir>
#
# The job writes its own in-JVM metrics (stage1/stage2 wall, rows,
# throughput, per-partition lineage) to <out_dir>/result/_metrics.json —
# read throughput from there, NOT from the submit wall clock (JVM + sbt
# startup is a fixed ~15-20 s constant that has nothing to do with the job).
#
# Confs mirror graft.Bench.session() so a spark-submit run is comparable to
# the bench ladder's SketchJob column at the same core count.
set -euo pipefail
CORES=$1
INPUT=$2
OUT=$3
JAR=$(ls "$(dirname "$0")"/../target/scala-2.13/datalibsketchspark_2.13-*.jar | head -1)

rm -rf "$OUT"
mkdir -p "$OUT"

SPARK_SHUFFLE_PARTITIONS=$((2 * CORES)) /opt/spark/bin/spark-submit \
  --master "local[$CORES]" \
  --driver-memory "${SPARK_DRIVER_MEM:-8g}" \
  --class graft.jobs.SketchJob \
  --conf spark.sql.files.maxPartitionBytes=134217728 \
  --conf spark.sql.files.openCostInBytes=4194304 \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.ui.enabled=false \
  "$JAR" \
  --input "$INPUT" --output "$OUT/result" --checkpoint "$OUT/ckpt"

echo "---- $OUT/result/_metrics.json (summary) ----"
python3 - "$OUT/result/_metrics.json" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
print(json.dumps({k: d[k] for k in ("stage1_sec", "stage2_sec", "rows",
                                    "throughput_rows_per_sec")}, indent=1))
print("partitions:", len(d["partitions"]))
EOF
