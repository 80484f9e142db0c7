"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on a
``session.get_spark`` session; prints ONE JSON line.

The flagship measurement is the parse->enrich->route->aggregate
pipeline over deterministically synthesized tokenized transcripts
(seed=42, cardinality derived from the sf documents table with
$SPARK_GRAFT_AMPLIFY-fold amplification, default 20), reported as
elapsed seconds plus sequences/sec and tokens/sec. Remaining entries
time the headline relational / dedup / similarity operators against
the driver tables. Actions use the noop sink so timings measure
compute, not driver materialization.
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as em  # noqa: E402
from console_log_parser_spark.session import get_spark  # noqa: E402

AMPLIFY = int(os.environ.get("SPARK_GRAFT_AMPLIFY", "20"))
# Fixed file count of the tokens table, independent of the writing
# session's parallelism: each ~3 MB parquet file is one row group, the
# unsplittable unit of read parallelism, so a table built by a
# low-core session must not cap the scan of a wider one. 96 files give
# a 4-core session 24 scan tasks per core. The count is part of the
# cache key, so a fixed value keeps every run on the same table.
TOKENS_PARTS = 96


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def ensure_tokens_table(spark, sf_dir: str) -> str:
    """Materialize the tokenized-log input table ONCE (untimed setup).

    The job under test is the real engine shape — scan an existing
    tokenized-sequence table (the sandbox stand-in for the Iceberg
    table of BASELINE.json:15) -> parse -> enrich -> route ->
    aggregate, with exactly ONE JVM->Python Arrow boundary. Synthesis
    is datagen, not the engine, so it runs here, not in the timed
    region. The table is deterministic in (sf, AMPLIFY, seed=42) and
    cached across bench processes, so repeated runs read the identical
    input.
    """
    import hashlib
    import shutil

    from console_log_parser_spark import datagen
    from console_log_parser_spark.operators import parse as parse_mod
    from console_log_parser_spark.functions import ansi
    from console_log_parser_spark.operators.parse import synth_tokens_stage

    # content tag: the cached table is only valid for the generator +
    # tokenizer code that produced it — hash their sources into the key
    # so a datagen/parse change can never silently reuse a stale table
    h = hashlib.sha1()
    for mod in (datagen, parse_mod, ansi):
        with open(mod.__file__, "rb") as fh:
            h.update(fh.read())
    tag = h.hexdigest()[:8]

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    # ~4 KiB of int32 tokens per synthesized doc; prefer RAM-backed
    # /dev/shm but fall back to disk when the estimate would eat more
    # than half the free tmpfs (RAM exhaustion kills the whole bench)
    est_bytes = n_docs * AMPLIFY * 6000
    base = tempfile.gettempdir()
    if os.path.isdir("/dev/shm") and \
            est_bytes <= shutil.disk_usage("/dev/shm").free // 2:
        base = "/dev/shm"
    out = os.path.join(
        base, f"bench_tokens_{sf_tag}_x{AMPLIFY}_s42_p{TOKENS_PARTS}_{tag}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    ids = (docs.select(F.col("doc_id").cast("long").alias("base_id"))
           .crossJoin(spark.range(AMPLIFY).withColumnRenamed("id", "k"))
           .select((F.col("base_id") * AMPLIFY + F.col("k"))
                   .alias("doc_id_num"))
           .repartition(TOKENS_PARTS))
    tmp = out + f".tmp{os.getpid()}"
    synth_tokens_stage(ids).write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, out)  # atomic publish (same filesystem)
    except OSError:
        # narrow race handling: fine ONLY if another process already
        # published the identical table; anything else re-raises
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        shutil.rmtree(tmp, ignore_errors=True)  # lost the race: clean up
    return out


def build_pipeline(spark, sf_dir, tokens_path=None):
    """Construct the full parse->enrich->route->aggregate DataFrame
    ONCE (untimed setup). Returns (aggs, routed).

    The steady-state protocol executes this same prebuilt plan per
    timed run — exactly what a production micro-batch loop does: the
    parquet file listing/footers are resolved once in the plan's
    FileIndex, and the route dimension is built once. Per-run work is
    what a batch genuinely pays: optimization + physical planning of
    the action, scheduling, and the executors' full scan->parse->
    shuffle->aggregate execution."""
    from console_log_parser_spark import datagen
    from console_log_parser_spark.operators import aggregate as agg_ops
    from console_log_parser_spark.plans.pipeline import build_routed

    tokens_path = tokens_path or ensure_tokens_table(spark, sf_dir)
    routed = build_routed(
        spark.read.parquet(tokens_path),
        spark.createDataFrame(datagen.route_metadata_rows()))
    return agg_ops.severity_histogram(routed), routed


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) \
        if "sf" in sf_dir else 0.0
    spark = get_spark(app="bench")
    cpus = spark.sparkContext.defaultParallelism

    timings: dict[str, float] = {}

    # Protocol (BASELINE.md): steady-state throughput. Warm-up runs
    # amortize one-time costs a long-running cluster job never sees per
    # batch (python worker forks + imports, JVM JIT of the
    # parquet/codegen paths, heap pre-touch): run until the current
    # run is within 15% of the best so far (>=2 warm-ups, <=6), then
    # report the median of 3 timed runs. All runs are printed for
    # transparency.
    orig_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    tokens_path = ensure_tokens_table(spark, sf_dir)  # untimed setup
    # split the scan so each core gets ~3 tasks per wave: stragglers
    # rebalance instead of serializing the stage on its slowest task.
    # (At 100 TB the default 128MB splits already give millions of
    # tasks; this only matters for small-SF runs.)
    tbl_bytes = sum(
        os.path.getsize(os.path.join(tokens_path, f))
        for f in os.listdir(tokens_path) if f.endswith(".parquet"))
    split = min(max(tbl_bytes // (cpus * 3), 1 << 20), 128 << 20)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))

    # Build the pipeline plan ONCE and count the (run-invariant) routed
    # rows/tokens untimed: a production micro-batch loop plans its DAG
    # once and observes metrics asynchronously; re-measuring a constant
    # inside every timed run would bill steady-state throughput for a
    # per-run metrics-listener round-trip, a fixed cost that weighs
    # most on the smallest inputs.
    aggs, routed = build_pipeline(spark, sf_dir, tokens_path)
    mrow = routed.agg(F.count(F.lit(1)).alias("rows"),
                      F.sum("n_tok").alias("tokens")).collect()[0]
    n_docs, n_tokens = int(mrow["rows"]), int(mrow["tokens"])

    runs = []

    def one_run():
        t0 = time.time()
        _noop(aggs)
        runs.append(time.time() - t0)
        return runs[-1]

    n_warm = 0
    for i in range(7):
        one_run()
        n_warm += 1
        # stable = two consecutive runs within 15% of each other,
        # after at least 3 runs (comparing against the session minimum
        # is too lenient when the first run is pathological, and a
        # 2-run minimum can stop inside a still-descending JIT ramp —
        # observed: 47s, 41s "stable" on the way down to 10s)
        if i >= 2 and abs(runs[-1] - runs[-2]) <= \
                0.15 * min(runs[-1], runs[-2]):
            break
    timed = [one_run() for _ in range(3)]
    pipeline_sec = sorted(timed)[1]
    timings["pipeline_parse_route_aggregate"] = round(pipeline_sec, 3)

    # The pipeline section above tunes maxPartitionBytes for the
    # amplified tokens table (split sized so the parse scan gets
    # cpus*3 tasks). Leaking that split into the ad-hoc queries below
    # mis-shapes THEIR plans against much smaller inputs — at sf0.1 it
    # shrank the bound to ~3 MB, flipping range_partitioned_lag's one
    # size test (Catalyst's sizeInBytes x 4 against maxPartitionBytes)
    # so events_asof_interleave paid a 32-way range exchange for a
    # 0.8 MB input (r4 bench: 0.93 s vs 0.36 s). Ad-hoc
    # queries measure what a user running ONE query on a default
    # session pays, so restore the value the session started with
    # (not a hard-coded Spark default — the user may have configured
    # their own).
    spark.conf.set("spark.sql.files.maxPartitionBytes", orig_split)

    bench_queries = [
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
        "q_top_customers_window", "events_sessionize",
        "events_asof_interleave", "doc_dedup_exact", "doc_token_count",
        "doc_minhash_dedup", "doc_simhash_pairs", "ann_bruteforce_top10",
    ]
    qs = em.queries()
    for name in bench_queries:
        # Ad-hoc query protocol (deliberately NOT the pipeline's
        # plan-reuse protocol): rebuild the DataFrame every execution
        # and report the SECOND one — the warm-JVM cost a user pays to
        # run the query once, including driver-side plan construction
        # and any eager materialization the operator performs (e.g.
        # minhash's persist lifecycle). Build-once would leak those
        # real costs out of the timed region. (Second-run, not
        # best-of-N — a fixed protocol can't cherry-pick its fastest.)
        # The cache is cleared before each call: operators that
        # persist their result (dedup's _materialize_and_release) would
        # otherwise hand the second call the first call's cached rows.
        dt = None
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.time()
            _noop(qs[name](spark, sf_dir))
            dt = time.time() - t0
        timings[name] = round(dt, 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "pipeline": {
            "n_docs": n_docs,
            "n_tokens": n_tokens,
            "seq_per_sec": round(n_docs / pipeline_sec, 1),
            "tok_per_sec": round(n_tokens / pipeline_sec, 1),
            "runs_sec": [round(r, 2) for r in runs],
            "n_warmup": n_warm,
        },
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
