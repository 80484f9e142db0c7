#!/usr/bin/env bash
# Package the library and run the pipeline exactly as the north rule
# deploys it: spark-submit --py-files at a chosen parallelism.
#
#   tools/submit_pipeline.sh <in_dir> <out_dir> [cores=nproc] [batches=8]
#
# The driver heap defaults to get_spark's size, min(24g, 40% of
# MemTotal); SPARK_GRAFT_DRIVER_MEM overrides it.
set -euo pipefail
cd "$(dirname "$0")/.."

IN_DIR=${1:?in_dir}
OUT_DIR=${2:?out_dir}
CORES=${3:-$(nproc)}
BATCHES=${4:-8}

ZIP=$(python - <<'EOF'
from console_log_parser_spark.session import package_zip
print(package_zip())
EOF
)

# Same allocator pinning as session.py (large transient Arrow/decode
# buffers must come off the reused heap, not mmap/munmap cycles).
export MALLOC_MMAP_THRESHOLD_=${MALLOC_MMAP_THRESHOLD_:-536870912}
export MALLOC_TRIM_THRESHOLD_=${MALLOC_TRIM_THRESHOLD_:-536870912}

MEM="${SPARK_GRAFT_DRIVER_MEM:-$(python -c \
    'from console_log_parser_spark.session import _default_driver_mem
print(_default_driver_mem())')}"
exec spark-submit \
    --master "local[$CORES]" \
    --driver-memory "$MEM" \
    --conf spark.sql.shuffle.partitions="$CORES" \
    --conf spark.driver.extraJavaOptions="-Xms$MEM -XX:+AlwaysPreTouch" \
    --conf spark.ui.enabled=false \
    --py-files "$ZIP" \
    jobs/run_pipeline.py --in-dir "$IN_DIR" --out-dir "$OUT_DIR" \
    --batches "$BATCHES"
