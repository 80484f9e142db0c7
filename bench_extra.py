"""Component-isolation benchmarks (guide §1.4): time each stage of the
flagship pipeline with the noop sink so the computation is measured,
not the sink. Complements the FROZEN bench.py (which owns the official
protocol); numbers from here are cited in OPTIMIZATION_r06.md.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py
Prints one JSON line with per-component medians.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from bench import build_pipeline, ensure_tokens_table  # noqa: E402
from console_log_parser_spark.session import get_spark  # noqa: E402


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, df, n_warm=2, n_timed=3):
    spark.sparkContext.setJobDescription(label)
    runs = []
    for _ in range(n_warm + n_timed):
        t0 = time.time()
        _noop(df)
        runs.append(round(time.time() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    timed_runs = runs[n_warm:]
    return sorted(timed_runs)[len(timed_runs) // 2], runs


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = get_spark(app="bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=max(int(cpus), 8))

    tokens_path = ensure_tokens_table(spark, sf_dir)
    tbl_bytes = sum(
        os.path.getsize(os.path.join(tokens_path, f))
        for f in os.listdir(tokens_path) if f.endswith(".parquet"))
    split = min(max(tbl_bytes // (int(cpus) * 3), 1 << 20), 128 << 20)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))

    from console_log_parser_spark.operators.parse import parse_stage

    logs = spark.read.parquet(tokens_path)
    out = {}

    # (a) parquet scan floor: every column decoded, no Python
    out["scan_noop"], runs_a = timed(spark, "scan only", logs)

    # (b) Arrow boundary floor: ship tokens to Python and back, no parse
    import pyarrow as pa

    def passthrough(it):
        for b in it:
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id"), b.column("n_tok")],
                names=["doc_id", "n_tok"])

    pass_df = logs.mapInArrow(passthrough, "doc_id string, n_tok int")
    out["arrow_passthrough"], runs_b = timed(spark, "arrow passthrough",
                                             pass_df)

    # (c) scan -> parse -> noop (no enrich/route/agg)
    parsed = parse_stage(logs)
    out["scan_parse"], runs_c = timed(spark, "scan+parse", parsed)

    # (d) full pipeline exactly as bench.py times it
    aggs, _routed = build_pipeline(spark, sf_dir, tokens_path)
    out["full_pipeline"], runs_d = timed(spark, "full pipeline", aggs)

    out["runs"] = {"scan": runs_a, "arrow": runs_b, "parse": runs_c,
                   "full": runs_d}
    out["sf_dir"] = sf_dir
    out["split"] = split
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
