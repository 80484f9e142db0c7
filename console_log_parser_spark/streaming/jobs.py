"""Structured Streaming surface of the engine.

The reference's streaming-shaped pieces map here:

- the throttled replay sink (terminalreplay.py:19-162, a rate-paced
  emitter) and the asciinema frame stream (asciinema2html.py:281-308)
  generalize to a *streaming* parse->enrich->route pipeline: the batch
  builder ``plans.pipeline.build_routed`` over a ``readStream`` of the
  tokenized-log table (one plan, two execution modes; the enrich join
  becomes stream-static), into a partitioned-by-sink ``writeStream``
  with exactly-once checkpointing — the streaming twin of
  plans/checkpoint.py's batch manifests.
- the prompt/vim session state machine (terminalparser.py:18-24, one
  FSM instance carried across lines) generalizes to a custom stateful
  operator via ``applyInPandasWithState``: per-key state carried
  across micro-batches with an idle timeout.

All jobs default to ``Trigger.AvailableNow`` so tests and backfills
drain the source then stop; a live deployment flips the trigger only.
"""
from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

TOKENIZED_SCHEMA_DDL = (
    "doc_id string, tokens array<int>, n_tok int, source string")

EVENTS_SCHEMA_DDL = ("event_id long, ts timestamp, user_id long, "
                     "event_type string, value double, props string")


def read_tokenized_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    return spark.readStream.schema(TOKENIZED_SCHEMA_DDL).parquet(in_dir)


def read_events_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    """The events file stream, one file per micro-batch: the stateful
    operators' arrival contract is one time-ordered file per batch."""
    return (spark.readStream.schema(EVENTS_SCHEMA_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir))


def stream_pipeline(spark: SparkSession, in_dir: str, out_dir: str,
                    checkpoint_dir: str, routes: DataFrame):
    """Streaming parse -> enrich -> route with exactly-once sink: the
    batch ``build_routed`` plan over ``readStream``, so the streamed
    table has exactly the batch routed schema.

    Returns the started StreamingQuery (AvailableNow trigger: drains
    everything currently in ``in_dir`` and stops)."""
    from ..plans.pipeline import build_routed

    routed = build_routed(read_tokenized_stream(spark, in_dir), routes)
    # (no salted repartition here: streaming micro-batches are already
    # bounded; the partitionBy(sink) write gives the fan-out)
    return (routed.writeStream
            .format("parquet")
            .option("path", f"{out_dir}/routed")
            .option("checkpointLocation", checkpoint_dir)
            .partitionBy("sink")
            .trigger(availableNow=True)
            .start())


def run_to_memory(spark: SparkSession, in_dir: str, checkpoint_dir: str,
                  query_name: str,
                  op: Callable[[DataFrame], DataFrame],
                  output_mode: str = "update"):
    """Drive ``op`` (a ``stateful_*`` operator or ``dedup_exact``) over
    the events file stream into the memory sink ``query_name``; returns
    the started query."""
    return (op(read_events_stream(spark, in_dir)).writeStream
            .format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


SESSION_STATE_DDL = "last_ts_us long, n_sessions long, n_events long"
SESSION_OUT_DDL = "user_id long, n_sessions long, n_events long"
SESSION_GAP_US = 1800 * 1_000_000


def _sessionize_fn(key: tuple, pdf_iter: Iterator[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
    """Carry (last_ts, session count, event count) per user across
    micro-batches; a >30 min gap opens a new session. Rows within each
    batch are sorted by event time before folding (the streaming twin
    of the batch lag() sessionizer)."""
    import numpy as np

    last_ts, n_sessions, n_events = (
        state.get if state.exists else (None, 0, 0))
    # a key's batch may arrive as several Arrow chunks with no order
    # across them — gap detection over per-chunk sorts would miscount
    # sessions at chunk seams, so concat and sort ONCE (per-user
    # batches are bounded, the arrival contract)
    pdfs = [p for p in pdf_iter if len(p)]
    if pdfs:
        pdf = pd.concat(pdfs).sort_values(["ts", "event_id"])
        # pandas datetime64[ns] -> microseconds since epoch
        ts_us = (pdf["ts"].astype("int64") // 1000).to_numpy()
        # vectorized fold: new sessions inside the batch are the
        # sorted gaps > GAP; the carried-state boundary adds one more
        # when the batch's first event opens a session. No per-event
        # Python — micro-batches of millions of rows stay numpy-side.
        n_new = int((np.diff(ts_us) > SESSION_GAP_US).sum())
        if last_ts is None or int(ts_us[0]) - last_ts > SESSION_GAP_US:
            n_new += 1
        n_sessions += n_new
        n_events += len(ts_us)
        last_ts = int(ts_us[-1])
    state.update((last_ts, n_sessions, n_events))
    # NB: no state timeout — an AvailableNow drain must terminate once
    # the source is empty, and pending processing-time timeouts would
    # keep the query alive waiting for them
    yield pd.DataFrame({"user_id": [key[0]],
                        "n_sessions": [n_sessions],
                        "n_events": [n_events]})


def stateful_sessionize(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user session counting with
    cross-micro-batch state (applyInPandasWithState)."""
    return (events.groupBy("user_id")
            .applyInPandasWithState(
                _sessionize_fn,
                outputStructType=SESSION_OUT_DDL,
                stateStructType=SESSION_STATE_DDL,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


FUNNEL_STATE_DDL = "t1_us long, t2_us long, t3_us long"
FUNNEL_OUT_DDL = "user_id long, t1_us long, t2_us long, t3_us long"
FUNNEL_STAGES = ("view", "click", "purchase")


def _funnel_fn(key: tuple, pdf_iter: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
    """Streaming twin of ``operators/funnel.funnel_times``: carry the
    first-touch stage timestamps per user across micro-batches. Stage
    times are SET-ONCE (monotone): once stage k fires, later batches
    can only set stage k+1, so state is three nullable longs no
    matter how long the stream runs. Within a batch each stage is a
    vectorized masked min; a stage set by THIS batch immediately
    gates the next stage's mask, so intra-batch chains (view and
    click in one batch) resolve exactly like the batch operator.
    Assumes time-ordered arrival across batches (same contract as
    the sessionizer); late cross-batch stragglers need the batch
    operator over a corrected replay.

    A key's batch may arrive as SEVERAL Arrow chunks with no order
    across them, and the set-once gates must see the whole batch at
    once (a later chunk can hold an earlier view whose first-touch
    time unlocks a click the per-chunk gate already rejected) — so
    chunks are concatenated and sorted ONCE before the stage loop
    (per-user batches are bounded, the sessionizer contract)."""

    t = list(state.get) if state.exists else [None] * len(FUNNEL_STAGES)
    pdfs = [p for p in pdf_iter if len(p)]
    if pdfs:
        pdf = pd.concat(pdfs).sort_values(["ts", "event_id"])
        ts_us = (pdf["ts"].astype("int64") // 1000).to_numpy()
        et = pdf["event_type"].to_numpy()
        for i, stage in enumerate(FUNNEL_STAGES):
            if t[i] is not None:
                continue
            if i and t[i - 1] is None:
                break  # chain not reached; later stages can't fire
            mask = et == stage
            if i:
                mask &= ts_us > t[i - 1]
            if mask.any():
                t[i] = int(ts_us[mask].min())
    state.update(tuple(t))
    yield pd.DataFrame({"user_id": [key[0]],
                        "t1_us": [t[0]], "t2_us": [t[1]],
                        "t3_us": [t[2]]})


def stateful_funnel(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user strict-sequence funnel with
    cross-micro-batch state (applyInPandasWithState). The stage-type
    filter runs BEFORE the stateful exchange — only funnel events
    shuffle or enter state."""
    from pyspark.sql import functions as F
    return (events.filter(F.col("event_type").isin(list(FUNNEL_STAGES)))
            .groupBy("user_id")
            .applyInPandasWithState(
                _funnel_fn,
                outputStructType=FUNNEL_OUT_DDL,
                stateStructType=FUNNEL_STATE_DDL,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def dedup_exact(events: DataFrame) -> DataFrame:
    """Streaming exact dedup for at-least-once sources
    (``dropDuplicatesWithinWatermark`` on ``event_id``): a redelivered
    event — same key arriving again in a later micro-batch — is dropped
    as long as it arrives within the watermark delay of the first copy,
    so the sink sees each key once. The watermark is the STATE BOUND:
    keys older than it are evicted, which is what makes the operator
    runnable forever at 10^12-event scale (state is O(keys per
    watermark window), not O(stream)); the 2-day delay is chosen from
    the source's redelivery horizon, not from data volume. Run it in
    append mode."""
    return (events.withWatermark("ts", "2 days")
            .dropDuplicatesWithinWatermark(["event_id"]))


TRANS_STATE_DDL = "last_ts_us long, last_event_id long, last_type string"
TRANS_OUT_DDL = ("user_id long, prev_type string, next_type string, "
                 "n long")


def _transitions_fn(key: tuple, pdf_iter: "Iterator[pd.DataFrame]",
                    state: GroupState) -> "Iterator[pd.DataFrame]":
    """Streaming twin of ``operators/transitions.transition_counts``:
    carry the user's LAST event across micro-batches (three scalars of
    state no matter how long the stream runs) and emit the transition
    counts NEW in this batch — the carried event supplies the
    cross-batch boundary transition, so summing the update-mode sink
    equals the batch operator on the same time-ordered stream (the
    sessionizer/funnel arrival contract). Counting is a vectorized
    pandas groupby, no per-event Python."""
    last = tuple(state.get) if state.exists else None
    # a key's batch may arrive as several Arrow chunks with no global
    # order across them — concat then sort ONCE (per-user batches are
    # bounded, the sessionizer/funnel contract)
    pdfs = [p for p in pdf_iter if len(p)]
    empty = pd.DataFrame({"user_id": pd.Series([], dtype="int64"),
                          "prev_type": pd.Series([], dtype="object"),
                          "next_type": pd.Series([], dtype="object"),
                          "n": pd.Series([], dtype="int64")})
    if not pdfs:
        yield empty
        return
    pdf = pd.concat(pdfs).sort_values(["ts", "event_id"])
    et = [None if pd.isna(v) else str(v)
          for v in pdf["event_type"].tolist()]
    prev = et[:-1]
    nxt = et[1:]
    if last is not None:
        prev = [last[2]] + prev
        nxt = [et[0]] + nxt
    ts_us = int(pdf["ts"].iloc[-1].value // 1000)
    state.update((ts_us, int(pdf["event_id"].iloc[-1]), et[-1]))
    # mirror the batch twin exactly (transitions.py): transitions FROM
    # a NULL-typed event are dropped (lag IS NULL is indistinguishable
    # from stream start there), transitions TO one are kept — and
    # pandas groupby must not silently drop None keys (dropna)
    kept = [(a, b) for a, b in zip(prev, nxt) if a is not None]
    if not kept:
        yield empty
        return
    cnt = (pd.DataFrame(kept, columns=["prev_type", "next_type"])
           .groupby(["prev_type", "next_type"], dropna=False)
           .size().reset_index())
    cnt.columns = ["prev_type", "next_type", "n"]
    cnt.insert(0, "user_id", key[0])
    yield cnt


def stateful_transitions(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user event-type transition counts
    with cross-micro-batch boundary state (applyInPandasWithState)."""
    return (events
            .groupBy("user_id")
            .applyInPandasWithState(
                _transitions_fn,
                outputStructType=TRANS_OUT_DDL,
                stateStructType=TRANS_STATE_DDL,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


# ------------------------------------------------------------------
# Streaming heavy hitters: sharded Misra-Gries state + exact recount

HH_K = 140       # support denominator: heavy = cnt * K > total
HH_SHARDS = 8    # state shards; production would md5-shard user ids
HH_STATE_DDL = ("keys array<bigint>, counts array<bigint>, "
                "n bigint, batch bigint")
HH_OUT_DDL = ("shard long, batch_no long, user_id long, "
              "mg_cnt long, n_shard long")


def _hh_fn(key: tuple, pdf_iter: "Iterator[pd.DataFrame]",
           state: GroupState) -> "Iterator[pd.DataFrame]":
    """Streaming twin of ``operators/sketch.frequent_items``'s local
    phase: each shard carries ONE Misra-Gries summary (width 2*HH_K
    counters — bounded no matter how many distinct users the stream
    ever sees) plus its running row count. Every micro-batch merges
    the batch's exact value counts (``sketch.mg_merge``, the same
    routine the batch operator's partitions use) and re-emits the
    current summary; the final emission per shard (max batch_no) is
    the candidate set. Survival guarantee, any shard sizes: a global
    heavy hitter (cnt * K > n_total) has mg >= cnt - n_shard/(2K) >
    n_total/K - n_shard/(2K) >= n_shard/(2K), so the keep rule
    ``mg * 2K > n_shard`` deterministically retains it — the batch
    operator's per-partition bound, carried across micro-batches."""
    from console_log_parser_spark.operators.sketch import mg_merge
    if state.exists:
        keys, counts, n, batch = state.get
        vc = pd.Series(list(counts), index=list(keys), dtype="int64")
    else:
        vc, n, batch = None, 0, 0
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        n += len(pdf)
        vc = mg_merge(vc, pdf["user_id"].value_counts(), 2 * HH_K)
    batch += 1
    if vc is None:
        state.update(([], [], n, batch))
        yield pd.DataFrame({
            "shard": pd.Series([], dtype="int64"),
            "batch_no": pd.Series([], dtype="int64"),
            "user_id": pd.Series([], dtype="int64"),
            "mg_cnt": pd.Series([], dtype="int64"),
            "n_shard": pd.Series([], dtype="int64")})
        return
    state.update(([int(u) for u in vc.index],
                  [int(c) for c in vc.values], int(n), int(batch)))
    yield pd.DataFrame({
        "shard": int(key[0]), "batch_no": int(batch),
        "user_id": vc.index.astype("int64"),
        "mg_cnt": vc.values.astype("int64"), "n_shard": int(n)})


def stateful_heavy_hitters(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-shard Misra-Gries candidate
    summaries with bounded state (applyInPandasWithState)."""
    return (events
            .withColumn("shard", F.col("user_id") % HH_SHARDS)
            .groupBy("shard")
            .applyInPandasWithState(
                _hh_fn,
                outputStructType=HH_OUT_DDL,
                stateStructType=HH_STATE_DDL,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def heavy_hitters_finalize(sink: DataFrame,
                           events: DataFrame) -> DataFrame:
    """The post-drain phase, in ONE place for the driver query and the
    batch-equivalence test alike: take each shard's FINAL emission
    (max batch_no, via a per-shard window — the sink is sketch-sized),
    keep candidates by the survival bound ``mg*2k > n_shard`` (proof
    in ``_hh_fn``), then recount exactly against the static events
    frame — broadcast semi-join + integer threshold, the batch
    operator's own second phase. Returns (user_id, cnt) ordered."""
    from pyspark.sql import Window
    last = (sink.withColumn(
        "_mb", F.max("batch_no").over(Window.partitionBy("shard")))
        .filter(F.col("batch_no") == F.col("_mb")))
    cands = (last
             .filter(F.col("mg_cnt") * (2 * HH_K) > F.col("n_shard"))
             .select("user_id").distinct())
    total = events.select(F.count(F.lit(1)).alias("total"))
    return (events
            .join(F.broadcast(cands), "user_id", "left_semi")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .crossJoin(F.broadcast(total))
            .filter(F.col("cnt") * HH_K > F.col("total"))
            .select("user_id", "cnt")
            .orderBy("user_id"))
