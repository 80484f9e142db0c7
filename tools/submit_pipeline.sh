#!/usr/bin/env bash
# Package the library and run the pipeline exactly as the north rule
# deploys it: spark-submit --py-files at a chosen parallelism.
#
#   tools/submit_pipeline.sh <in_dir> <out_dir> [cores] [batches=8]
#
# Only launch settings are passed here, all printed by
# console_log_parser_spark/session.py: the allocator environment and
# session.launch_settings, which get_spark also starts from — the
# local[N,2] master (N = cores, default as get_spark's), the
# pre-touched driver heap (SPARK_GRAFT_DRIVER_MEM overrides it), no UI
# and the package zip. The job applies session.RUNTIME_CONF (shuffle
# width, UTC, Arrow batch cap) itself.
set -euo pipefail
cd "$(dirname "$0")/.."

IN_DIR=${1:?in_dir}
OUT_DIR=${2:?out_dir}
CORES=${3:-}
BATCHES=${4:-8}

LAUNCH=$(python - "$CORES" <<'EOF'
import os
import shlex
import sys

from console_log_parser_spark import session

for k, v in session.ALLOCATOR_ENV.items():
    print(f"export {k}={shlex.quote(os.environ.get(k, v))}")
master, conf = session.launch_settings(
    f"local[{sys.argv[1]}]" if sys.argv[1] else None)
args = ["--master", master]
for k, v in conf.items():
    args += ["--conf", f"{k}={v}"]
print("SUBMIT_ARGS=(" + " ".join(map(shlex.quote, args)) + ")")
EOF
)
eval "$LAUNCH"

exec spark-submit "${SUBMIT_ARGS[@]}" \
    jobs/run_pipeline.py --in-dir "$IN_DIR" --out-dir "$OUT_DIR" \
    --batches "$BATCHES"
