"""Structured Streaming jobs: the streaming pipeline must produce the
SAME routed rows as the batch pipeline (one code path, two execution
modes), and the stateful sessionizer must agree with the lag()-based
batch sessionizer even when events arrive over several micro-batches."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _wait(q, timeout=120):
    q.awaitTermination(timeout)
    assert not q.isActive


@pytest.fixture(scope="module")
def events_split_dir(spark, tmp_path_factory):
    """events from the driver table, re-written as 4 files ordered by
    (ts, event_id) so file-per-trigger streaming yields 4 ordered
    micro-batches. The directory is named events.parquet, so its parent
    reads as an sf directory for the batch queries in __spark_entry__."""
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    d = tmp_path_factory.mktemp("events_stream")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .orderBy("ts", "event_id")
    rows = ev.collect()
    q = (len(rows) + 3) // 4
    for i in range(4):
        chunk = rows[i * q:(i + 1) * q]
        if chunk:
            (spark.createDataFrame(chunk, ev.schema).coalesce(1)
             .write.mode("overwrite").parquet(str(d / f"part_{i}")))
    # flatten: move each part's parquet file up so the dir is one source
    src = str(d / "flat" / "events.parquet")
    os.makedirs(src)
    import glob
    import shutil
    for i in range(4):
        for j, f in enumerate(sorted(
                glob.glob(str(d / f"part_{i}" / "*.parquet")))):
            shutil.copy(f, os.path.join(src, f"{i:02d}_{j}.parquet"))
    return src


def test_stream_pipeline_matches_batch(spark, small_dataset,
                                       tmp_path_factory):
    from console_log_parser_spark.plans.pipeline import build_routed
    from console_log_parser_spark.streaming import jobs

    out = str(tmp_path_factory.mktemp("stream_out"))
    # the streaming file source needs a directory of files
    src = str(tmp_path_factory.mktemp("stream_src"))
    import glob
    import shutil
    pq = f"{small_dataset}/tokenized_logs.parquet"
    if os.path.isdir(pq):
        for i, f in enumerate(sorted(glob.glob(f"{pq}/*.parquet"))):
            shutil.copy(f, os.path.join(src, f"{i}.parquet"))
    else:
        shutil.copy(pq, os.path.join(src, "0.parquet"))
    routes = spark.read.parquet(f"{small_dataset}/route_metadata.parquet")
    q = jobs.stream_pipeline(spark, src, out, f"{out}/_ckpt", routes)
    _wait(q)

    got = spark.read.parquet(f"{out}/routed")
    logs = spark.read.parquet(f"{small_dataset}/tokenized_logs.parquet")
    want = build_routed(logs, routes)
    # the streaming twin writes exactly the batch routed schema
    assert set(got.columns) == set(want.columns)

    cols = ["doc_id", "sink", "severity", "n_stripped", "n_events",
            "prompt_count", "n_cmd_routed"]
    g = sorted(map(tuple, got.select(*cols).collect()))
    w = sorted(map(tuple, want.select(*cols).collect()))
    assert g == w
    assert got.select("sink").distinct().count() >= 2  # fan-out happened


def test_stateful_sessionize_matches_batch_lag(spark, events_split_dir,
                                               tmp_path_factory):
    from console_log_parser_spark.streaming import jobs
    ckpt = str(tmp_path_factory.mktemp("sess_ckpt"))
    q = jobs.run_to_memory(spark, events_split_dir, ckpt, "sess_test",
                           jobs.stateful_sessionize)
    _wait(q)
    updates = spark.sql("SELECT * FROM sess_test")
    # memory sink in update mode accumulates one row per (user, batch);
    # the final state is the row with the highest n_events per user
    final = {r["user_id"]: (r["n_sessions"], r["n_events"])
             for r in updates.orderBy("n_events").collect()}

    import __spark_entry__ as em
    batch = em.events_sessionize(spark, os.path.dirname(events_split_dir))
    want = {r["user_id"]: (r["n_sessions"], r["n_events"])
            for r in batch.collect()}
    assert final == want


def test_stream_dedup_exact_survives_redelivery(spark, events_split_dir,
                                                tmp_path):
    """dropDuplicatesWithinWatermark under at-least-once redelivery:
    streaming the 4 micro-batch files with EVERY file delivered twice
    must leave exactly the original rows in the sink — count and
    distinct-event_id per type equal the batch table."""
    import glob
    import shutil

    from console_log_parser_spark.streaming import jobs

    src = str(tmp_path / "redelivered")
    os.makedirs(src)
    for f in sorted(glob.glob(os.path.join(events_split_dir,
                                           "*.parquet"))):
        base = os.path.basename(f)
        shutil.copy(f, os.path.join(src, base))
        shutil.copy(f, os.path.join(src, base + ".redelivered.parquet"))
    q = jobs.run_to_memory(spark, src, str(tmp_path / "ckpt"),
                           "t_stream_dedup", jobs.dedup_exact,
                           output_mode="append")
    q.awaitTermination(300)
    got = {r["event_type"]: (r["n"], r["nd"]) for r in
           spark.sql("SELECT * FROM t_stream_dedup")
           .groupBy("event_type")
           .agg(F.count("*").alias("n"),
                F.countDistinct("event_id").alias("nd")).collect()}
    ev = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet")
    want = {r["event_type"]: (r["n"], r["n"]) for r in
            ev.groupBy("event_type").agg(F.count("*").alias("n"))
            .collect()}
    assert got == want


def test_stateful_funnel_matches_batch(spark, events_split_dir,
                                       tmp_path_factory):
    """The carried-state streaming funnel over 4 time-ordered
    micro-batches must equal the batch funnel operator on the same
    events — including chains that only complete across batch
    boundaries."""
    from console_log_parser_spark.operators.funnel import funnel_times
    from console_log_parser_spark.streaming import jobs
    ckpt = str(tmp_path_factory.mktemp("funnel_ckpt"))
    q = jobs.run_to_memory(spark, events_split_dir, ckpt, "funnel_test",
                           jobs.stateful_funnel)
    _wait(q)
    # stage times are set-once -> max over update rows == final state
    final = {r["user_id"]: (r["t1_us"], r["t2_us"], r["t3_us"])
             for r in (spark.sql("SELECT * FROM funnel_test")
                       .groupBy("user_id")
                       .agg(F.max("t1_us").alias("t1_us"),
                            F.max("t2_us").alias("t2_us"),
                            F.max("t3_us").alias("t3_us"))
                       .collect())}
    ev = spark.read.parquet(events_split_dir)
    us = [f"timestampdiff(MICROSECOND, timestamp'1970-01-01', t{i})"
          for i in (1, 2, 3)]
    want = {r["user_id"]: (r["u1"], r["u2"], r["u3"])
            for r in funnel_times(ev, ["view", "click", "purchase"])
            .selectExpr("user_id", f"{us[0]} as u1",
                        f"{us[1]} as u2", f"{us[2]} as u3")
            .collect()}
    assert final == want
    # at least one user must have completed the chain for the test to
    # mean anything
    assert any(t[2] is not None for t in final.values())


def test_stateful_transitions_match_batch(spark, events_split_dir,
                                          tmp_path_factory):
    """The carried-last-event streaming transition counter over 4
    time-ordered micro-batches must equal the batch operator —
    including the transitions that only exist across batch
    boundaries."""
    from console_log_parser_spark.operators.transitions import (
        transition_counts)
    from console_log_parser_spark.streaming import jobs

    ckpt = str(tmp_path_factory.mktemp("trans_ckpt"))
    sq = jobs.run_to_memory(spark, events_split_dir, ckpt, "trans_test",
                            jobs.stateful_transitions)
    _wait(sq)
    got = {(r["prev_type"], r["next_type"]): (r["n_trans"], r["n_users"])
           for r in (spark.sql("SELECT * FROM trans_test")
                     .groupBy("prev_type", "next_type")
                     .agg(F.sum("n").alias("n_trans"),
                          F.countDistinct("user_id").alias("n_users"))
                     .collect())}
    ev = spark.read.parquet(events_split_dir)
    want = {(r["prev_type"], r["next_type"]): (r["n_trans"], r["n_users"])
            for r in transition_counts(ev).collect()}
    assert got == want
    # exact stream-total identity: every user contributes
    # (n_events - 1) transitions, so the matrix total is N - U —
    # which only holds if every cross-batch boundary was counted
    n_users = ev.select("user_id").distinct().count()
    assert sum(v[0] for v in got.values()) == ev.count() - n_users


def test_stateful_heavy_hitters_match_batch(spark, events_split_dir,
                                            tmp_path_factory):
    """The sharded Misra-Gries summaries over 4 time-ordered
    micro-batches, followed by the exact-recount phase, must equal the
    plain exact heavy-hitter set (support > 1/140) — and every
    emission must respect the 2k-counter state bound."""
    from console_log_parser_spark.streaming import jobs

    ckpt = str(tmp_path_factory.mktemp("hh_ckpt"))
    sq = jobs.run_to_memory(spark, events_split_dir, ckpt, "hh_test",
                            jobs.stateful_heavy_hitters)
    _wait(sq, 300)
    sink = spark.sql("SELECT * FROM hh_test")
    # bounded state: no emission carries more than width counters
    per_emit = (sink.groupBy("shard", "batch_no")
                .agg(F.count(F.lit(1)).alias("n")).collect())
    assert all(r["n"] <= 2 * jobs.HH_K for r in per_emit)
    ev = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet")
    got = {(r["user_id"], r["cnt"]) for r in
           jobs.heavy_hitters_finalize(sink, ev).collect()}
    total = ev.count()
    want = {(r["user_id"], r["cnt"]) for r in
            (ev.groupBy("user_id")
             .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
             .filter(F.col("cnt") * jobs.HH_K > total).collect())}
    assert got == want and want  # non-degenerate: hitters exist
