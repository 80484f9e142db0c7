"""spark-submit entry point for the parse -> enrich -> route ->
aggregate pipeline (the north rule's deployment shape: ``spark-submit
--py-files <package.zip> jobs/run_pipeline.py``).

The script takes the master and the memory from spark-submit and
applies the program's runtime settings (``session.RUNTIME_CONF``:
shuffle width, UTC, the 256-record Arrow cap) to its session. It reads
the tokenized-log table, runs the micro-batch checkpointed pipeline,
and prints one JSON line of observed metrics. Re-running after a kill
resumes from the lineage manifests (plans/checkpoint.py); a resume
must pass the same ``--batches`` as the run it continues, or is refused.

Usage:
    spark-submit --master local[8,2] \
        --py-files /tmp/console_log_parser_spark.zip \
        jobs/run_pipeline.py --in-dir DATA --out-dir OUT \
        [--batches 8] [--tokens-table TABLE] [--max-batches N]

``--in-dir`` holds ``route_metadata.parquet`` and, unless
``--tokens-table`` names another table, ``tokenized_logs.parquet``.
"""
from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--in-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--tokens-table", default=None,
                    help="tokenized corpus: an Iceberg identifier "
                         "(catalog.db.table; needs the runtime jar + "
                         "catalog conf) or a parquet path; default: "
                         "parquet in --in-dir")
    ap.add_argument("--max-batches", type=int, default=None,
                    help="run at most N uncommitted batches this call; "
                         "they are written in one job, so N bounds what "
                         "a kill loses")
    args = ap.parse_args()

    from console_log_parser_spark.plans.checkpoint import (
        run_with_checkpoints)
    from console_log_parser_spark.plans.pipeline import PipelineConfig
    from console_log_parser_spark.session import RUNTIME_CONF

    spark = (SparkSession.builder
             .appName("console_log_parser_spark.pipeline")
             .config(map=RUNTIME_CONF)
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    cfg = PipelineConfig(in_dir=args.in_dir, out_dir=args.out_dir,
                         tokens_table=args.tokens_table)
    result = run_with_checkpoints(spark, cfg, n_batches=args.batches,
                                  max_batches=args.max_batches)
    print(json.dumps({"job": "pipeline", **result}))
    spark.stop()


if __name__ == "__main__":
    main()
