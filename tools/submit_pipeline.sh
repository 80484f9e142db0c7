#!/usr/bin/env bash
# Package the library and run the pipeline exactly as the north rule
# deploys it: spark-submit --py-files at a chosen parallelism.
#
#   tools/submit_pipeline.sh <in_dir> <out_dir> [cores=nproc] [batches=8]
#
# Only launch settings are passed here, all from
# console_log_parser_spark/session.py: the package zip, the allocator
# environment, get_spark's local[N,2] master and its driver heap
# (SPARK_GRAFT_DRIVER_MEM overrides it). The job applies
# session.RUNTIME_CONF (shuffle width, UTC, Arrow batch cap) itself.
set -euo pipefail
cd "$(dirname "$0")/.."

IN_DIR=${1:?in_dir}
OUT_DIR=${2:?out_dir}
CORES=${3:-$(nproc)}
BATCHES=${4:-8}

LAUNCH=$(python - <<'EOF'
import os
import shlex

from console_log_parser_spark import session

for k, v in session.ALLOCATOR_ENV.items():
    print(f"export {k}={shlex.quote(os.environ.get(k, v))}")
print(f"ZIP={shlex.quote(session.package_zip())}")
print(f"MEM={shlex.quote(session.driver_mem())}")
EOF
)
eval "$LAUNCH"

exec spark-submit \
    --master "local[$CORES,2]" \
    --driver-memory "$MEM" \
    --conf spark.driver.extraJavaOptions="-Xms$MEM -XX:+AlwaysPreTouch" \
    --conf spark.ui.enabled=false \
    --py-files "$ZIP" \
    jobs/run_pipeline.py --in-dir "$IN_DIR" --out-dir "$OUT_DIR" \
    --batches "$BATCHES"
