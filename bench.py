"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

The flagship measurement is the parse->enrich->route->aggregate
pipeline over deterministically synthesized tokenized transcripts
(seed=42, cardinality derived from the sf documents table with 4x
amplification), reported as elapsed seconds plus sequences/sec and
tokens/sec. Remaining entries time the headline relational / dedup /
similarity operators against the driver tables. Actions use the noop
sink so timings measure compute, not driver materialization.
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


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def ensure_tokens_table(spark, sf_dir: str, amplify: int | None = None,
                        base: str | None = None) -> str:
    """Materialize the tokenized-log input table ONCE (untimed setup).

    The job under test is the real engine shape — scan an existing
    tokenized-sequence table (the sandbox stand-in for the Iceberg
    table of BASELINE.json:15) -> parse -> enrich -> route ->
    aggregate, with exactly ONE JVM->Python Arrow boundary. Synthesis
    is datagen, not the engine, so it runs here, not in the timed
    region. The table is deterministic in (sf, AMPLIFY, seed=42) and
    cached across bench processes, so the N- and 4N-level runs of the
    scaling harness read the identical input.
    """
    import hashlib
    import shutil

    amplify = AMPLIFY if amplify is None else int(amplify)

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
    est_bytes = n_docs * amplify * 6000
    # explicit base (marginal mode passes one so BOTH points of the
    # two-point pair land on the SAME medium) > env override > auto
    if base is None:
        base = os.environ.get("SPARK_GRAFT_TOKENS_DIR")
    if base is None:
        base = tempfile.gettempdir()
        if os.path.isdir("/dev/shm"):
            free = shutil.disk_usage("/dev/shm").free
            if est_bytes <= free // 2:
                base = "/dev/shm"
    # FIXED file count, independent of the builder's parallelism: the
    # table is shared across scaling levels, and each ~3 MB parquet
    # file is one row group — the unsplittable unit of read
    # parallelism. Building it from a low-cpu level once produced a
    # 6-file table that silently capped every later 32-core read at
    # 6-way parallelism (8->32 "efficiency" 0.185 measured, entirely
    # an input artifact). 96 = 3 waves on the widest (32-core) level.
    n_parts = int(os.environ.get("SPARK_GRAFT_TOKENS_PARTS", "96"))
    out = os.path.join(
        base, f"bench_tokens_{sf_tag}_x{amplify}_s42_p{n_parts}_{tag}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    ids = (docs.select(F.col("doc_id").cast("long").alias("base_id"))
           .crossJoin(spark.range(amplify).withColumnRenamed("id", "k"))
           .select((F.col("base_id") * amplify + F.col("k"))
                   .alias("doc_id_num"))
           .repartition(n_parts))
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


def _med(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def pointwise_monotone(small_rate: float, big_rate: float,
                       margin: float = 0.05) -> bool:
    """True unless the big-input pointwise rate fell more than
    ``margin`` below the small-input rate (pure protocol-3
    arithmetic, unit-tested)."""
    return big_rate >= (1.0 - margin) * small_rate


def marginal_estimate(counts_small, counts_big, t_small, t_big):
    """Pure protocol-3 arithmetic (unit-tested): marginal rate between
    two (docs, tokens) measurement points, with a degeneracy guard.

    The time difference must be a real measurement, not noise: require
    it to be at least 25% of the big run (at the designed 20/80
    amplify pair the true value is ~65-70%). A degenerate pair falls
    back to the pointwise big rate with ok=False — the scaling harness
    auto-invalidates the ledger row on that flag."""
    d_docs = counts_big[0] - counts_small[0]
    d_tok = counts_big[1] - counts_small[1]
    dt = t_big - t_small
    ok = dt > 0.25 * t_big
    if ok:
        rate, tok_rate = d_docs / dt, d_tok / dt
        fixed = t_small - counts_small[0] / rate
    else:
        rate = counts_big[0] / t_big
        tok_rate = counts_big[1] / t_big
        fixed = None
    return {"seq_per_sec": rate, "tok_per_sec": tok_rate, "ok": ok,
            "fixed_cost_sec": fixed}


def marginal_pipeline_bench(spark, sf_dir, cpus):
    """Protocol-3 steady-state throughput: TWO-POINT MARGINAL estimator.

    Times the identical prebuilt pipeline plan over two input sizes in
    the same process (AMPLIFY=small and AMPLIFY=big, interleaved
    S-B-S-B so window drift cancels) and reports

        rate = (docs_big - docs_small) / (t_big - t_small)

    Why: each bench job carries a scale-invariant fixed cost — Catalyst
    optimization + physical planning of the action, task scheduling,
    the noop commit — measured at 1.5 s (32 cores) / 2.3 s (8 cores)
    by a same-process ABAB A/B (tools/probe_amplify.py, round 5). At
    the north rule's 10^12-sequence scale a job runs hours and that
    cost is ~0% of wall-clock; at bench scale (4-35 s jobs) it taxes
    the 4N level 4x as hard relatively and suppresses the measured
    8->32 efficiency by ~0.15 even though the per-executor work scales
    cleanly. The two-point difference cancels exactly that constant —
    the same subtraction a STREAM bandwidth fit does for loop overhead
    — while keeping every marginal byte of scan/parse/shuffle/agg in
    the measurement. Both single-point rates are reported alongside;
    ``marginal_ok`` is false (and the scaling harness auto-invalidates
    the row) if the time difference is too small to carry a claim.
    """
    a_small = int(os.environ.get("SPARK_GRAFT_AMPLIFY_SMALL", "20"))
    a_big = AMPLIFY
    if a_big <= a_small:
        raise SystemExit(
            f"marginal mode needs AMPLIFY ({a_big}) > AMPLIFY_SMALL "
            f"({a_small})")
    # Decide the storage medium ONCE for the pair: per-call auto
    # choice could put the small table in tmpfs and the big one on
    # disk (building the small table shrinks the free-tmpfs check the
    # big table then fails), and a media split corrupts the two-point
    # subtraction with I/O latency the estimator would attribute to
    # per-doc cost (r5 review finding). Budget = BOTH tables' bytes.
    base = os.environ.get("SPARK_GRAFT_TOKENS_DIR")
    if base is None:
        import shutil as _sh
        base = tempfile.gettempdir()
        if os.path.isdir("/dev/shm"):
            n_docs_est = spark.read.parquet(
                f"{sf_dir}/documents.parquet").count()
            pair_bytes = n_docs_est * (a_small + a_big) * 6000
            if pair_bytes <= _sh.disk_usage("/dev/shm").free // 2:
                base = "/dev/shm"
    path_s = ensure_tokens_table(spark, sf_dir, a_small, base=base)
    path_b = ensure_tokens_table(spark, sf_dir, a_big, base=base)
    # split sized for the BIG table; the small table's files are ~4x
    # smaller than the big table's, and both stay below the split +
    # openCost packing threshold, so each parquet file (= one row
    # group, the unsplittable unit) gets its own partition at either
    # size: identical 96-way scan parallelism for both points.
    tbl_bytes = sum(
        os.path.getsize(os.path.join(path_b, f))
        for f in os.listdir(path_b) if f.endswith(".parquet"))
    # waves/level: 3 is the protocol-3 default; SPARK_GRAFT_SCAN_WAVES
    # exists for the straggler-tail A/B (tools/probe_waves.py) — more,
    # smaller tasks amortize the last-wave straggler that taxes the
    # wide level hardest. Only a measured win may flip the default
    # (and that flip is a protocol bump).
    waves = int(os.environ.get("SPARK_GRAFT_SCAN_WAVES", "3"))
    split = min(max(tbl_bytes // (int(cpus) * waves), 1 << 20), 128 << 20)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    aggs_s, routed_s = build_pipeline(spark, sf_dir, path_s)
    aggs_b, routed_b = build_pipeline(spark, sf_dir, path_b)
    counts = {}
    for key, routed in (("small", routed_s), ("big", routed_b)):
        m = routed.agg(F.count(F.lit(1)).alias("rows"),
                       F.sum("n_tok").alias("tokens")).collect()[0]
        counts[key] = (int(m["rows"]), int(m["tokens"]))
    # Warm-up on the SMALL plan until stable (same convergence rule as
    # the pointwise protocol — it JITs the identical code paths at a
    # quarter of the cost), then one untimed big run to touch the big
    # table's pages.
    warm = []
    for i in range(6):
        t0 = time.time()
        _noop(aggs_s)
        warm.append(time.time() - t0)
        if i >= 2 and abs(warm[-1] - warm[-2]) <= \
                0.15 * min(warm[-1], warm[-2]):
            break
    t0 = time.time()
    _noop(aggs_b)
    warm.append(time.time() - t0)
    ts, tb = [], []
    for _ in range(2):
        t0 = time.time()
        _noop(aggs_s)
        ts.append(time.time() - t0)
        t0 = time.time()
        _noop(aggs_b)
        tb.append(time.time() - t0)
    t_small, t_big = _med(ts), _med(tb)
    est = marginal_estimate(counts["small"], counts["big"],
                            t_small, t_big)
    rate, tok_rate = est["seq_per_sec"], est["tok_per_sec"]
    ok, fixed = est["ok"], est["fixed_cost_sec"]
    d_docs = counts["big"][0] - counts["small"][0]
    d_tok = counts["big"][1] - counts["small"][1]
    return {
        "n_docs": d_docs,
        "n_tokens": d_tok,
        "seq_per_sec": round(rate, 1),
        "tok_per_sec": round(tok_rate, 1),
        "estimator": "marginal_2pt",
        "marginal_ok": ok,
        "amplify_points": {"small": a_small, "big": a_big},
        "n_docs_points": {"small": counts["small"][0],
                          "big": counts["big"][0]},
        "runs_sec_small": [round(t, 2) for t in ts],
        "runs_sec_big": [round(t, 2) for t in tb],
        "warmup_sec": [round(t, 2) for t in warm],
        "pointwise_seq_per_sec": {
            "small": round(counts["small"][0] / t_small, 1),
            "big": round(counts["big"][0] / t_big, 1)},
        # Physical sanity: pointwise rate = docs/(c + docs/m) is
        # STRICTLY INCREASING in docs on a stable window (the fixed
        # cost amortizes better at the bigger size). An inversion
        # means the effective machine changed between the interleaved
        # S-B-S-B runs — ledger row 23 (2026-08-18) showed 31.8k
        # small vs 28.2k big at 32 cores under clean gates and a
        # nonsense 0.424 ratio. Prospective validity condition, the
        # degeneracy guard's sibling; the harness auto-invalidates on
        # it. The 5% NOISE MARGIN matters for honesty, not just
        # convenience: medians of 2 runs carry ~10% spread, and a
        # zero-margin gate censors exactly the rows whose noise went
        # one way — a value-correlated filter that would bias the
        # surviving-row median upward (r5 review finding). Only an
        # inversion too big for timing noise may invalidate.
        "pointwise_monotone_ok": pointwise_monotone(
            counts["small"][0] / t_small, counts["big"][0] / t_big),
        "fixed_cost_sec": round(fixed, 3) if fixed is not None else None,
        "t_big_sec": round(t_big, 3),
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) \
        if "sf" in sf_dir else 0.0
    spark = get_spark(app="bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(int(cpus), 8))

    if os.environ.get("SPARK_GRAFT_MARGINAL"):
        pipeline = marginal_pipeline_bench(spark, sf_dir, cpus)
        out = {
            "metric": "headline_total_sec",
            "value": pipeline["t_big_sec"],
            "unit": "sec",
            "pipeline_only": True,
            "marginal": True,
            "queries": {
                "pipeline_parse_route_aggregate": pipeline["t_big_sec"]},
            "sf": sf,
            "cpus": int(cpus),
            "pipeline": pipeline,
        }
        spark.stop()
        print(json.dumps(out))
        return

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
    split = min(max(tbl_bytes // (int(cpus) * 3), 1 << 20), 128 << 20)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))

    # Build the pipeline plan ONCE and count the (run-invariant) routed
    # rows/tokens untimed: a production micro-batch loop plans its DAG
    # once and observes metrics asynchronously; re-measuring a constant
    # inside every timed run would bill steady-state throughput for a
    # per-run metrics-listener round-trip that scale-invariant fixed
    # cost the 4N level pays 4x as dearly as the N level.
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
    # shrank the bound to ~3 MB, flipping range_partitioned_lag's
    # auto-narrow gate so events_asof_interleave paid a 32-way range
    # exchange for a 0.8 MB input (r4 bench: 0.93 s vs 0.36 s). Ad-hoc
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
    if os.environ.get("SPARK_GRAFT_PIPELINE_ONLY"):
        # Scaling-harness mode: the 8->32 efficiency claim consumes
        # ONLY pipeline.seq_per_sec, but the ad-hoc queries above add
        # ~30-40% to a level's wall-clock for zero scaling signal.
        # Hypervisor windows on this box open and collapse on a
        # minutes timescale (three round-4 runs auto-invalidated
        # mid-run), so every signal-free minute inside a gated window
        # directly raises the chance the window dies before the claim-
        # bearing levels finish. The headline-total protocol is
        # unchanged; ad-hoc timings simply aren't taken in this mode.
        bench_queries = []
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
        dt = None
        for _ in range(2):
            t0 = time.time()
            _noop(qs[name](spark, sf_dir))
            dt = time.time() - t0
        timings[name] = round(dt, 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        # provenance: a pipeline-only total is NOT comparable to a
        # full-headline total — stamp the mode so archived bench JSON
        # is mechanically distinguishable (the gate_instrument rule)
        "pipeline_only": bool(os.environ.get("SPARK_GRAFT_PIPELINE_ONLY")),
        "queries": timings,
        "sf": sf,
        "cpus": int(cpus),
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
